package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Scale-safe GROUPED running aggregates: the generalization of
  * [[GlobalRank]] to `agg() OVER (PARTITION BY g ORDER BY s ROWS
  * UNBOUNDED PRECEDING)` where `g` is LOW-cardinality (an enum, a
  * status code, a handful of tenants). The naive window funnels the
  * entire fact table into |g| sorted partitions — parallelism is fixed
  * at 3-5 tasks while data grows, the canonical 100 TB scale-killer.
  *
  * Shape (two-pass prefix decomposition):
  *   1. `stage`: range-partition on (g ++ sortKey) so each task holds a
  *      CONTIGUOUS SLICE of each group's global order, sort within
  *      partitions, tag the slice id, and pin the layout with a
  *      Materialize.snapshot (two consumers must observe the same sampled
  *      range bounds — exchange reuse is not guaranteed).
  *   2. per-slice partials: one partial-aggregable groupBy over
  *      (g, slice) — the slices relation has ≤ |g| + numPartitions rows
  *      REGARDLESS of input size.
  *   3. prefix-combine the partials over strictly-earlier slices of the
  *      same group (a window over the tiny slices relation) and
  *      broadcast the offsets back onto the staged rows.
  *   4. local windows partitioned by (g, slice) — parallelism is
  *      numPartitions × |g|, each task sorts only its slice — plus the
  *      broadcast offset reconstruct the global running value exactly.
  *
  * Everything prefix-decomposable rides this: running sums (sweep
  * counters, island ids, cumulative weights), running max (interval
  * union), ranks and tie-aware midranks (count-based, BIGINT-safe —
  * no 32-bit rank()), lag across slice boundaries (per-slice last-row
  * partial). For rank/midrank callers the range keys MUST be
  * (g, value) WITHOUT a tie-break: the RangePartitioner sends equal
  * keys to one partition, so tied values never straddle a slice
  * boundary and within-slice tie counts are globally correct.
  */
object GroupedPrefix {

  /** Slice-id column: present in every window this plan family runs
    * (PlanShapeSpec pins that no fact window lacks it).
    */
  val PID = "__gp_pid"

  /** Range-partition `df` on `keys` (group columns first, then the sort
    * key), sort within partitions, tag the slice id, pin the layout.
    * numPartitions ≤ 0 means the session's shuffle parallelism.
    */
  def stage(df: DataFrame, keys: Seq[Column], numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
      // spark_partition_id is nondeterministic-tagged, so the project is
      // never pushed below the sort; the snapshot freezes the values.
      .withColumn(PID, spark_partition_id())
      .transform(Materialize.snapshot)
  }

  /** Exclusive-prefix window over the slices relation: strictly-earlier
    * slices of the same group, in slice order.
    */
  private def prevSlices(groupCols: Seq[String]): WindowSpec =
    Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(PID))
      .rowsBetween(Window.unboundedPreceding, -1)

  /** Compute per-(group, slice) partials `aggs` from a staged frame,
    * hand them (plus the exclusive-prefix WindowSpec over slices) to
    * `offsets`, which returns the offsets relation — it MUST keep the
    * (groupCols, PID) key columns and may add whole-group columns (e.g.
    * group totals) — and broadcast-join the result back onto the staged
    * rows. The offsets relation is ≤ |groups| × numPartitions rows, so
    * the broadcast is always dimension-sized.
    */
  def withOffsets(staged: DataFrame, groupCols: Seq[String], aggs: Seq[Column])
                 (offsets: (DataFrame, WindowSpec) => DataFrame): DataFrame = {
    val keys = (groupCols :+ PID).map(col)
    val slices = staged.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    // NULL-SAFE key equality: a NULL group key is a regular group under
    // PARTITION BY window semantics, but null != null in a plain
    // equi-join — those rows would silently drop. Rename the offsets
    // side's keys, join on <=> (broadcast-hash supports EqualNullSafe),
    // and drop the duplicates.
    val keyNames = groupCols :+ PID
    val renamed = keyNames.foldLeft(offsets(slices, prevSlices(groupCols)))(
      (d, c) => d.withColumnRenamed(c, "__gp_r_" + c))
    val cond = keyNames.map(c => col(c) <=> col("__gp_r_" + c))
      .reduce(_ && _)
    staged.join(broadcast(renamed), cond)
      .drop(keyNames.map("__gp_r_" + _): _*)
  }

  /** The slice-scoped window every consumer's local pass runs under:
    * partitioned by (group, slice) — numPartitions × |groups| concurrent
    * window partitions, each holding one contiguous slice of one group's
    * order — never by the group alone.
    */
  def localWindow(groupCols: Seq[String], sortCols: Seq[Column]): WindowSpec =
    Window.partitionBy((groupCols :+ PID).map(col): _*).orderBy(sortCols: _*)

  /** EXACT interpolated per-group quantile via rank selection — the
    * scale-safe replacement for `percentile(v, q)`, whose aggregation
    * state is a value→count map PER GROUP: with low-cardinality groups
    * and high-cardinality values the merge concentrates a
    * distinct-value-sized map on one reducer per group — a memory
    * funnel at scale. Here the data takes one range-partitioned
    * sort (parallelism = numPartitions), positions resolve by COUNT
    * (broadcast-joined back, null-safe), and the two bracketing values
    * reduce through an ordinary map-side-combinable conditional max.
    * Interpolation matches Spark/DuckDB continuous semantics:
    * pos = (n−1)·q zero-based, value = lo + frac·(hi − lo) in double.
    *
    * Returns one row per group: groupCols, `out` (double), and
    * `{out}_n` (the group's NON-NULL value count, BIGINT — percentile()
    * ignores NULL inputs and so does this) — most callers need n anyway
    * and it falls out for free.
    */
  def exactQuantile(df: DataFrame, groupCols: Seq[String], v: Column,
                    q: Double, out: String,
                    numPartitions: Int = 0): DataFrame = {
    exactQuantiles(df, groupCols, v, Seq(q), "__gp_qs", numPartitions)
      .select(groupCols.map(col) :+
        col("__gp_qs").getItem(0).as(out) :+
        col("__gp_qs_n").as(out + "_n"): _*)
  }

  /** Multi-point form of [[exactQuantile]]: one staged sort serves every
    * requested quantile — `out` is an ARRAY(double) in `qs` order (the
    * `percentile(v, array(…))` shape), plus `{out}_n` (the group's
    * NON-NULL value count, BIGINT — percentile() semantics: NULL inputs
    * are ignored, they neither shift positions nor count toward n, and a
    * group whose values are all NULL emits no row, exactly as
    * percentile() returns NULL only through the outer aggregate).
    */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String], v: Column,
                     qs: Seq[Double], out: String,
                     numPartitions: Int = 0): DataFrame = {
    require(qs.nonEmpty, "exactQuantiles: empty quantile list")
    val nCol = out + "_n"
    // NULL values must not enter the staged order: percentile() ignores
    // NULL inputs, but NULLs sort FIRST ascending — left in, they would
    // inflate n, shift every target position, and could even be selected
    // as lo/hi. (NULL group KEYS remain regular groups — only the value
    // column is filtered.)
    val base = df.select(groupCols.map(col) :+ v.cast("double")
      .as("__gp_v"): _*)
      .where(col("__gp_v").isNotNull)
    // one range-partitioned sort; slice counts locate every target
    // position, so only the COVERING slices (≤ 2 per group per point)
    // take the local positional pass — no full-rank window, no
    // join-back onto every row
    val staged = stage(base, groupCols.map(col) :+ col("__gp_v"),
      numPartitions)
    val slices = staged.groupBy((groupCols :+ PID).map(col): _*)
      .agg(count(lit(1)).as("__gp_c"))
    val wGroup = Window.partitionBy(groupCols.map(col): _*)
    def pos(i: Int): Column = (col(nCol) - 1) * lit(qs(i))
    def tlo(i: Int): String = s"__gp_tlo_$i"
    def thi(i: Int): String = s"__gp_thi_$i"
    val withTargets = qs.indices.foldLeft(
      slices
        .withColumn("__gp_off",
          coalesce(sum(col("__gp_c")).over(prevSlices(groupCols)), lit(0L)))
        .withColumn(nCol, sum(col("__gp_c")).over(wGroup))) { (d, i) =>
      d.withColumn(tlo(i), floor(pos(i)) + 1) // 1-based target positions
        .withColumn(thi(i), ceil(pos(i)) + 1)
    }
    def covers(t: String): Column =
      col("__gp_off") < col(t) && col(t) <= col("__gp_off") + col("__gp_c")
    val targets = withTargets
      .where(qs.indices.map(i => covers(tlo(i)) || covers(thi(i)))
        .reduce(_ || _))
      .drop("__gp_c")
    // null-safe keys: NULL group keys are regular groups (see
    // withOffsets)
    val keyNames = groupCols :+ PID
    val renamed = keyNames.foldLeft(targets)((d, c) =>
      d.withColumnRenamed(c, "__gp_t_" + c))
    val cond = keyNames.map(c => col(c) <=> col("__gp_t_" + c))
      .reduce(_ && _)
    val covered = staged.join(broadcast(renamed), cond)
      .drop(keyNames.map("__gp_t_" + _): _*)
    // the value at 1-based global position p: within a covering slice
    // the positional index is off + row_number (any stable order among
    // tied values yields the same VALUE at a given position)
    val gpos = col("__gp_off") +
      row_number().over(localWindow(groupCols, Seq(col("__gp_v"))))
    val aggs =
      max(col(nCol)).as(nCol) +:
        qs.indices.flatMap(i => Seq(
          max(when(col("__gp_gpos") === col(tlo(i)), col("__gp_v")))
            .as(s"__gp_lo_$i"),
          max(when(col("__gp_gpos") === col(thi(i)), col("__gp_v")))
            .as(s"__gp_hi_$i")))
    val points = qs.indices.map { i =>
      // Spark Percentile's own interpolation, replicated term for term
      // so the double is bit-identical: integral position → the value
      // itself; else the WEIGHTED form (ceil−pos)·lo + (pos−floor)·hi
      // (NOT lo + frac·(hi−lo), which rounds a different ulp)
      when(floor(pos(i)) === ceil(pos(i)), col(s"__gp_lo_$i"))
        .otherwise((ceil(pos(i)) - pos(i)) * col(s"__gp_lo_$i") +
          (pos(i) - floor(pos(i))) * col(s"__gp_hi_$i"))
    }
    covered
      .withColumn("__gp_gpos", gpos)
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(groupCols.map(col) :+
        array(points: _*).as(out) :+ col(nCol): _*)
  }

  /** Append a BIGINT grouped RANK() of `v` (min rank over ties) as
    * `out`: stage WITHOUT a tie-break so ties stay within one slice,
    * offset = rows in earlier slices, local rank within the slice.
    * Drops the plumbing columns so calls chain (q71 ranks two measures
    * by staging twice).
    */
  def withRank(df: DataFrame, groupCols: Seq[String], v: Column, out: String,
               numPartitions: Int = 0): DataFrame = {
    val staged = stage(df, groupCols.map(col) :+ v, numPartitions)
    withOffsets(staged, groupCols, Seq(count(lit(1)).as("__gp_c"))) { (slices, wPrev) =>
      slices.select((groupCols :+ PID).map(col) :+
        coalesce(sum(col("__gp_c")).over(wPrev), lit(0L)).as("__gp_off"): _*)
    }
      .withColumn(out, col("__gp_off") + rank().over(localWindow(groupCols, Seq(v))))
      .drop("__gp_off", PID)
  }
}
