package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global row numbering: the two-pass range-partition +
  * per-partition prefix-sum technique, in place of
  * `row_number() OVER (ORDER BY …)` — which moves the entire relation
  * into ONE partition and sorts it there, the canonical 100 TB
  * scale-killer for write-layout and quantile-bucketing plans.
  *
  * Shape: range-partition on the sort key so each task sorts only its
  * slice; tag rows with monotonically_increasing_id (pid << 33 | local
  * position — deterministic ABOVE the in-partition sort of a unique
  * key: nondeterministic projects are never pushed through sorts);
  * rebuild the global row number as per-partition prefix-sum offsets +
  * local position. The only single-partition step is the cumsum over
  * ≤ numPartitions count rows.
  *
  * The sorted relation is a Materialize.snapshot: the counts branch and
  * the rank branch MUST observe the same partition layout, and two
  * materializations of a range exchange sample different partitioner
  * bounds (exchange reuse is not guaranteed) — the snapshot pins one
  * layout for both consumers, and at real scale it doubles as the
  * sorted staging a shard writer reads anyway.
  */
object GlobalRank {

  /** Append a 1-based global row number under `sortCols` (which must be
    * a total order — include a unique tie-break column) as `rnCol`;
    * optionally also append the relation's total row count as
    * `totalCol` (needed by closed-form bucketing like ntile).
    */
  def withRowNumber(df: DataFrame, sortCols: Seq[Column], numPartitions: Int,
    rnCol: String, totalCol: Option[String] = None): DataFrame = {
    val sorted = df
      .repartitionByRange(numPartitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33))
      .transform(Materialize.snapshot)
    // per-partition sizes (order-independent, so this branch needs no
    // cross-branch row-order agreement) → cumulative offsets over
    // ≤ numPartitions rows → broadcast back onto the sorted slices
    val cum = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counts = sorted.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", sum(col("__cnt")).over(cum) - col("__cnt"))
    val offsets = totalCol match {
      case Some(tc) => counts
        .withColumn(tc, sum(col("__cnt")).over(Window.partitionBy()))
        .select(col("__pid"), col("__off"), col(tc))
      case None => counts.select(col("__pid"), col("__off"))
    }
    sorted.join(broadcast(offsets), "__pid")
      .withColumn(rnCol,
        col("__off") + col("__mid").bitwiseAND(lit((1L << 33) - 1)) + 1)
      .drop("__mid", "__pid", "__off")
  }
}
