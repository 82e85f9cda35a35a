package graft.operators

import graft.{Q, Tables}
import graft.plans.Materialize
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Time-series aggregate surface (SURVEY.md §2a extension): the
  * ClickHouse series-analysis functions — exponentialMovingAverage,
  * boundingRatio, minMap/maxMap, sequenceCount — re-expressed Spark-first
  * with integer-exact arithmetic so every operator carries a full DuckDB
  * oracle.
  *
  * Scale notes: every operator here is either a keyed window over a
  * high-cardinality key (user_id — partitions scale with the data) or a
  * straight partial-aggregable groupBy; nothing sorts the fact table in
  * one partition and nothing collects unbounded state per group beyond
  * the per-user event sequence the funnel family (q47/q52/q58) already
  * rides.
  */
object Series {

  /** value → exact integer cents through the proven DECIMAL(18,2) cast
    * (same rounding in Spark and DuckDB — the §5 money rule).
    */
  private def cents(c: Column): Column =
    c.cast(DecimalType(18, 2)).multiply(lit(100)).cast(LongType)

  private val centsSql = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"

  // q93_ema — ClickHouse exponentialMovingAverage as an integer-exact
  // operator: per user, over the last 8 events in (ts, event_id) order,
  // the unnormalized EMA with halving weights Σ value·2^(7−age) — the
  // newest event weighs 128, each older one half that. Computed as a
  // Horner fold acc·2 + x over the reversed 8-frame (newest first):
  // integer multiplies only. The fold weights the newest of an n-row
  // frame 2^(n−1) (n < 8 only for a user's first 7 events), which the
  // oracle reproduces closed-form as an explicit 8-term lag sum shifted
  // right by (8−n): Σ lag_i·2^(7−i) has zeros in the low (8−n) bits
  // when only n terms exist, so the shift is exact. (The natural
  // list_reduce oracle is deliberately avoided: DuckDB 1.0's
  // list_reduce mis-evaluates over multi-row grouped batches — see
  // q96.) The window partitions by user_id — a key whose cardinality
  // grows with the data, so no partition ever holds more than one
  // user's events — and the frame is ROWS-bounded (8), so state per
  // row is constant. The rollup then aggregates the smoothed stream
  // per event_type with map-side combine.
  val q93 = Q(
    "q93_ema",
    Some(s"""
      WITH c AS (
        SELECT event_type, user_id, ts, event_id, $centsSql AS x
        FROM events),
      ema AS (
        SELECT event_type,
               (COALESCE(x, 0) * 128
                + COALESCE(LAG(x, 1) OVER w, 0) * 64
                + COALESCE(LAG(x, 2) OVER w, 0) * 32
                + COALESCE(LAG(x, 3) OVER w, 0) * 16
                + COALESCE(LAG(x, 4) OVER w, 0) * 8
                + COALESCE(LAG(x, 5) OVER w, 0) * 4
                + COALESCE(LAG(x, 6) OVER w, 0) * 2
                + COALESCE(LAG(x, 7) OVER w, 0))
               >> (8 - LEAST(CAST(ROW_NUMBER() OVER w AS INTEGER), 8)) AS e
        FROM c
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_type,
             COUNT(*) AS n,
             MIN(e) AS min_ema,
             MAX(e) AS max_ema,
             CAST(SUM(e) AS BIGINT) AS sum_ema
      FROM ema
      GROUP BY event_type
      ORDER BY event_type
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-7, Window.currentRow)
    t.events
      .withColumn("e",
        aggregate(reverse(collect_list(cents(col("value"))).over(w)),
          lit(0L), (acc, x) => acc * 2 + x))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("e")).as("min_ema"),
        max(col("e")).as("max_ema"),
        sum(col("e")).cast(LongType).as("sum_ema"))
      .orderBy(col("event_type"))
  }

  // q94_bounding_ratio — ClickHouse boundingRatio(x, y): the slope of the
  // straight line between the first and the last point of each group's
  // (ts, value) series — (y_last − y_first)/(x_last − x_first), here in
  // value-per-day. No window over the facts: the endpoints come from
  // min_by/max_by keyed on a (ts, event_id) struct — a map-side
  // combinable argmin/argmax, so the fact table pays one partial-agg
  // shuffle of 4 longs per group. (The oracle mirrors with full-frame
  // FIRST/LAST_VALUE windows — fine at oracle scale; the Spark side is
  // the shape that survives 100 TB.) Slope arithmetic is double with
  // one rounding at the end; numerator and denominator are exact
  // integers (cents, micros) on both engines.
  val q94 = Q(
    "q94_bounding_ratio",
    Some(s"""
      WITH pts AS (
        SELECT event_type,
               FIRST_VALUE($centsSql) OVER w AS y0,
               LAST_VALUE($centsSql) OVER w AS y1,
               FIRST_VALUE(epoch_us(ts)) OVER w AS x0,
               LAST_VALUE(epoch_us(ts)) OVER w AS x1
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      SELECT event_type,
             ANY_VALUE(y0) AS first_cents,
             ANY_VALUE(y1) AS last_cents,
             ROUND((ANY_VALUE(y1) - ANY_VALUE(y0)) * 864000000.0
                   / (ANY_VALUE(x1) - ANY_VALUE(x0)), 6) AS slope_per_day
      FROM pts
      GROUP BY event_type
      ORDER BY event_type
    """)
  ) { t =>
    val key = struct(col("ts"), col("event_id"))
    t.events
      .select(col("event_type"), cents(col("value")).as("c"),
        unix_micros(col("ts")).as("us"), col("ts"), col("event_id"))
      .groupBy(col("event_type"))
      .agg(
        min_by(col("c"), key).as("first_cents"),
        max_by(col("c"), key).as("last_cents"),
        min_by(col("us"), key).as("x0"),
        max_by(col("us"), key).as("x1"))
      .select(col("event_type"), col("first_cents"), col("last_cents"),
        round((col("last_cents") - col("first_cents")) * lit(864000000.0)
          / (col("x1") - col("x0")), 6).as("slope_per_day"))
      .orderBy(col("event_type"))
  }

  // q95_minmax_map — ClickHouse minMap/maxMap: per event_type, the
  // per-props-key extremes of `value`, emitted as q56_summap's sorted
  // parallel CSV serialization (map columns don't hash portably; the
  // string form does). Same two-stage shape as sumMap: a key-level
  // partial-aggregable groupBy collapses the facts, then a
  // dimension-sized per-group sort_array serializes — the facts never
  // see a window.
  val q95 = Q(
    "q95_minmax_map",
    Some(s"""
      WITH kv0 AS (
        SELECT event_type,
               TRY_CAST(JSON_EXTRACT_STRING(props, '$$.k') AS BIGINT) AS k,
               $centsSql AS c
        FROM events),
      kv AS (SELECT * FROM kv0 WHERE k IS NOT NULL),
      per_key AS (
        SELECT event_type, k, MIN(c) AS lo, MAX(c) AS hi
        FROM kv GROUP BY event_type, k)
      SELECT event_type,
             array_to_string(LIST(k::VARCHAR ORDER BY k), ',') AS map_keys,
             array_to_string(LIST(lo::VARCHAR ORDER BY k), ',') AS map_mins,
             array_to_string(LIST(hi::VARCHAR ORDER BY k), ',') AS map_maxs
      FROM per_key
      GROUP BY event_type
      ORDER BY event_type
    """)
  ) { t =>
    val perKey = t.events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"),
        cents(col("value")).as("c"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"), col("k"))
      .agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
    perKey
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("k"), col("lo"), col("hi")))).as("m"))
      .select(col("event_type"),
        concat_ws(",", transform(col("m"), e => e.getField("k").cast("string"))).as("map_keys"),
        concat_ws(",", transform(col("m"), e => e.getField("lo").cast("string"))).as("map_mins"),
        concat_ws(",", transform(col("m"), e => e.getField("hi").cast("string"))).as("map_maxs"))
      .orderBy(col("event_type"))
  }

  // q96_sequence_count — ClickHouse sequenceCount('(?1).*(?2)'): how many
  // NON-OVERLAPPING completed step pairs each user's ordered event stream
  // contains (q52's sequenceMatch answers "at least one?"; this answers
  // "how many?"). The greedy left-to-right scan is a fold with two-field
  // state packed into one BIGINT (count·2 + armed-flag): an anchor event
  // arms the state, the first matching close event converts the armed
  // flag into a completed pair. The oracle states the same greedy scan
  // as leftmost-first regex counting over the q52-style initial string —
  // `c[^p]*p` consumes exactly anchor→first-close, then resumes after
  // the close, which IS the armed-scan trajectory. (An earlier
  // list_reduce-based oracle tripped a DuckDB 1.0 vectorizer bug —
  // list_reduce over a multi-row grouped batch returns per-row results
  // that differ from the same fold run on any single row — so the
  // oracle deliberately avoids multi-row list_reduce.) Per-user state is
  // the user's own event list (the q52/q58 funnel-family bound); the
  // rollup is one map-side-combinable aggregation.
  val q96 = Q(
    "q96_sequence_count",
    Some("""
      WITH seqs AS (
        SELECT user_id,
               STRING_AGG(SUBSTR(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id),
      folded AS (
        SELECT user_id,
               length(regexp_extract_all(seq, 'c[^p]*p')) AS n_cp,
               length(regexp_extract_all(seq, 's[^e]*e')) AS n_se
        FROM seqs)
      SELECT CAST(SUM(n_cp) AS BIGINT) AS click_purchase_pairs,
             CAST(SUM(n_se) AS BIGINT) AS signup_error_pairs,
             COUNT(CASE WHEN n_cp > 0 THEN 1 END) AS users_with_cp,
             COUNT(*) AS n_users
      FROM folded
    """)
  ) { t =>
    def codes(anchor: String, close: String): Column =
      transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          when(col("event_type") === anchor, 1L)
            .when(col("event_type") === close, 2L)
            .otherwise(0L).as("code")))),
        x => x.getField("code"))
    def folded(arr: Column): Column =
      aggregate(arr, lit(0L), (a, b) =>
        when(b === 1, a - (a % 2) + 1)
          .when(b === 2 && a % 2 === 1, a + 1)
          .otherwise(a)) / 2
    t.events
      .groupBy(col("user_id"))
      .agg(codes("click", "purchase").as("cp"), codes("signup", "error").as("se"))
      .select(folded(col("cp")).cast(LongType).as("n_cp"),
        folded(col("se")).cast(LongType).as("n_se"))
      .agg(
        sum(col("n_cp")).cast(LongType).as("click_purchase_pairs"),
        sum(col("n_se")).cast(LongType).as("signup_error_pairs"),
        count(when(col("n_cp") > 0, 1)).as("users_with_cp"),
        count(lit(1)).as("n_users"))
  }

  // q97_lttb — ClickHouse largestTriangleThreeBuckets(8): downsample each
  // event_type's daily series to 8 visually-representative points. LTTB
  // is inherently sequential-greedy (bucket i's pick depends on bucket
  // i−1's), which is exactly why it's worth showing Spark-first: the
  // facts pay ONE aggregation (per-type daily sums — map-side combine),
  // and the whole greedy chain runs over the DIMENSION-sized series
  // (≤ 366 rows/type, memoized via PersistCache) as 6 statically
  // unrolled argmax steps — per-type 1-row frames broadcast-joined back
  // to the tiny bucketed relation, the ann_diversify technique. Nothing
  // iterates on the driver and no step touches the fact table again.
  // Triangle areas are exact BIGINTs: the next-bucket average is kept as
  // (Σx, Σy, c) and the area comparison is multiplied through by c, so
  // no division ever happens and the oracle (the same chain as NB
  // generated CTEs) reproduces every pick bit-for-bit. Tie-break:
  // highest area, then earliest day.
  private val LttbBuckets = 8

  private def lttbOracle: String = {
    val nb = LttbBuckets
    val mids = (1 to nb - 2).map { i =>
      val prev = if (i == 1) "sel0" else s"sel${i - 1}"
      s"""
      next$i AS (
        SELECT event_type, SUM(d) AS sx, SUM(v) AS sy, COUNT(*) AS c
        FROM bucketed WHERE b = ${i + 1} GROUP BY event_type),
      sc$i AS (
        SELECT cd.event_type, cd.d, cd.v,
               ABS((a.d * n.c - n.sx) * (cd.v - a.v)
                   - (a.d - cd.d) * (n.sy - a.v * n.c)) AS score
        FROM bucketed cd
        JOIN $prev a ON a.event_type = cd.event_type
        JOIN next$i n ON n.event_type = cd.event_type
        WHERE cd.b = $i),
      sel$i AS (
        SELECT event_type, d, v FROM (
          SELECT event_type, d, v,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY score DESC, d) AS rn
          FROM sc$i) WHERE rn = 1)"""
    }.mkString(",")
    val unions = (1 to nb - 2)
      .map(i => s"UNION ALL SELECT event_type, $i AS pick, d, v FROM sel$i")
      .mkString("\n        ")
    s"""
      WITH daily0 AS (
        SELECT event_type,
               CAST(CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE)
                    - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        FROM events GROUP BY event_type, d),
      ranked AS (
        SELECT event_type, d, v,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) - 1 AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily0),
      bucketed AS (
        SELECT event_type, d, v,
               CASE WHEN r = 0 THEN 0
                    WHEN r = n - 1 THEN ${nb - 1}
                    ELSE 1 + ((r - 1) * ${nb - 2}) // (n - 2) END AS b
        FROM ranked),
      sel0 AS (SELECT event_type, d, v FROM bucketed WHERE b = 0),$mids
      SELECT event_type, CAST(pick AS BIGINT) AS pick,
             d AS day_num, v AS y_cents
      FROM (
        SELECT event_type, 0 AS pick, d, v FROM sel0
        $unions
        UNION ALL SELECT event_type, ${nb - 1} AS pick, d, v
                  FROM bucketed WHERE b = ${nb - 1})
      ORDER BY event_type, pick
    """
  }

  val q97 = Q("q97_lttb", Some(lttbOracle)) { t =>
    import org.apache.spark.sql.expressions.Window
    val nb = LttbBuckets
    val bucketed = graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#lttb-daily") {
      val daily0 = t.events
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast(LongType).as("d"))
        .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("v"))
      val wt = Window.partitionBy(col("event_type"))
      daily0
        .withColumn("r", row_number().over(wt.orderBy(col("d"))) - 1)
        .withColumn("n", count(lit(1)).over(wt))
        .withColumn("b",
          when(col("r") === 0, 0)
            .when(col("r") === col("n") - 1, nb - 1)
            // truncating the nonnegative double ratio = floor = integer div
            .otherwise((lit(1) + ((col("r") - 1) * (nb - 2)) / (col("n") - 2))
              .cast(LongType)))
        .select(col("event_type"), col("d"), col("v"), col("b").cast(LongType).as("b"))
        // the greedy chain references this frame ~3× per unrolled step;
        // the memo shares it, so no broadcast subtree re-aggregates the
        // fact table. coalesce(1): the series is ≤366 rows/type — one
        // task per micro-stage instead of 32 near-empty ones.
        .coalesce(1)
    }
    // Each sel_i is referenced by BOTH the output union and sel_{i+1}'s
    // subtree — without truncation the final plan re-derives sel_1 once
    // per later step (quadratic micro-job blowup; measured ~6 s of pure
    // scheduling at sf0.1); truncating each 1-row-per-type frame
    // computes every step exactly once.
    var sel = bucketed.filter(col("b") === 0).select(col("event_type"),
      col("d").as("ad"), col("v").as("av"))
      .transform(Materialize.truncate)
    val picks = scala.collection.mutable.ArrayBuffer(
      sel.select(col("event_type"), lit(0L).as("pick"),
        col("ad").as("day_num"), col("av").as("y_cents")))
    for (i <- 1 to nb - 2) {
      val next = bucketed.filter(col("b") === i + 1)
        .groupBy(col("event_type"))
        .agg(sum(col("d")).as("sx"), sum(col("v")).as("sy"), count(lit(1)).as("c"))
      val scored = bucketed.filter(col("b") === i)
        .join(broadcast(sel), "event_type")
        .join(broadcast(next), "event_type")
        .withColumn("score",
          abs((col("ad") * col("c") - col("sx")) * (col("v") - col("av"))
            - (col("ad") - col("d")) * (col("sy") - col("av") * col("c"))))
      sel = scored.groupBy(col("event_type"))
        .agg(max_by(struct(col("d"), col("v")),
          struct(col("score"), -col("d"))).as("p"))
        .select(col("event_type"), col("p.d").as("ad"), col("p.v").as("av"))
        .transform(Materialize.truncate)
      picks += sel.select(col("event_type"), lit(i.toLong).as("pick"),
        col("ad").as("day_num"), col("av").as("y_cents"))
    }
    picks += bucketed.filter(col("b") === nb - 1)
      .select(col("event_type"), lit((nb - 1).toLong).as("pick"),
        col("d").as("day_num"), col("v").as("y_cents"))
    picks.reduce(_ unionByName _)
      .orderBy(col("event_type"), col("pick"))
  }

  // q103_moving_median — trailing 7-day exact median of the daily value
  // series per event_type (the robust smoother ClickHouse serves via
  // medianExact over groupArrayMovingX): facts pay one daily
  // aggregation, then the ROWS-bounded frame median runs over the
  // DIMENSION-sized series (≤366 rows/type — the window sorts days, not
  // events). Spark computes the median from the sorted 7-frame array
  // with the same (lo+hi)/2 rule DuckDB's windowed MEDIAN applies to
  // integers, so even-frame interpolation is the exact .0/.5 double on
  // both engines.
  val q103 = Q(
    "q103_moving_median",
    Some("""
      WITH daily AS (
        SELECT event_type,
               CAST(CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE)
                    - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        FROM events GROUP BY event_type, d)
      SELECT event_type, d,
             MEDIAN(v) OVER (PARTITION BY event_type ORDER BY d
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
      FROM daily
      ORDER BY event_type, d
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val daily = t.events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast(LongType).as("d"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("fr", sort_array(collect_list(col("v")).over(w)))
      .select(col("event_type"), col("d"),
        ((element_at(col("fr"), ((size(col("fr")) - 1) / 2).cast("int") + 1)
          + element_at(col("fr"), (size(col("fr")) / 2).cast("int") + 1))
          / lit(2.0)).as("med7"))
      .orderBy(col("event_type"), col("d"))
  }

  // q105_sparkbar — ClickHouse's sparkbar aggregate, faithfully: render
  // each event_type's daily-value series as a row of 8-level block
  // glyphs (▁▂▃▄▅▆▇█), the terminal-dashboard readout CH ships for
  // exactly this. The facts pay the one daily aggregation everything in
  // this family shares; level mapping is pure integer arithmetic
  // (1 + (v−min)·7 div max(range,1)) against per-type min/max from the
  // same dimension-sized relation, and the glyph pick is
  // character-indexed SUBSTR on both engines (UTF-8 safe: both index by
  // character, not byte). Serialization is the ordered-concat idiom
  // (q56's portable map form, here over days).
  private val SparkbarGlyphs = "▁▂▃▄▅▆▇█"

  val q105 = Q(
    "q105_sparkbar",
    Some(s"""
      WITH daily AS (
        SELECT event_type,
               CAST(CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE)
                    - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        FROM events GROUP BY event_type, d),
      bounds AS (
        SELECT event_type, MIN(v) AS lo, MAX(v) AS hi
        FROM daily GROUP BY event_type)
      SELECT d.event_type,
             COUNT(*) AS n_days,
             CAST(MIN(b.lo) AS BIGINT) AS min_cents,
             CAST(MAX(b.hi) AS BIGINT) AS max_cents,
             STRING_AGG(SUBSTR('$SparkbarGlyphs',
               CAST(1 + (d.v - b.lo) * 7 // GREATEST(b.hi - b.lo, 1) AS INTEGER),
               1), '' ORDER BY d.d) AS bar
      FROM daily d JOIN bounds b ON b.event_type = d.event_type
      GROUP BY d.event_type
      ORDER BY d.event_type
    """)
  ) { t =>
    val daily = t.events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast(LongType).as("d"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("v"))
    daily
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        min(col("v")).as("min_cents"),
        max(col("v")).as("max_cents"),
        sort_array(collect_list(struct(col("d"), col("v")))).as("series"))
      .select(col("event_type"), col("n_days"), col("min_cents"), col("max_cents"),
        array_join(transform(col("series"), e =>
          lit(SparkbarGlyphs).substr(
            (lit(1) + (e.getField("v") - col("min_cents")) * 7
              / greatest(col("max_cents") - col("min_cents"), lit(1L)))
              .cast("int"),
            lit(1))), "").as("bar"))
      .orderBy(col("event_type"))
  }

  // q106_event_gaps — stream-health gap analysis (the monitoring query
  // behind every availability SLA): per event_type, the largest and
  // mean silence between consecutive events, plus how many gaps exceed
  // a 120 s alert threshold. The LAG ordered by (ts, event_id) is
  // GroupedPrefix two-pass: slice-local lag() plus a boundary patch
  // (each slice's last (ts, id, micros) is a struct-max partial,
  // prefix-maxed over earlier slices and broadcast back) — so the
  // 5-value event_type key never collapses the stream into 5 sorted
  // partitions. Ties carry a deterministic tie-break, and the micros
  // arithmetic is exact, so mean_gap divides two exact BIGINTs once.
  val q106 = Q(
    "q106_event_gaps",
    Some("""
      WITH gaps AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP))
                 - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                     (PARTITION BY event_type
                      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS g
        FROM events)
      SELECT event_type,
             COUNT(g) AS n_gaps,
             CAST(MAX(g) AS BIGINT) AS max_gap_us,
             CAST(SUM(g) // COUNT(g) AS BIGINT) AS mean_gap_us,
             COUNT(CASE WHEN g > 120000000 THEN 1 END) AS n_alerts
      FROM gaps
      GROUP BY event_type
      ORDER BY event_type
    """)
  ) { t =>
    import graft.plans.GroupedPrefix
    val staged = GroupedPrefix.stage(
      t.events.select(col("event_type"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us")),
      Seq(col("event_type"), col("ts"), col("event_id")))
    val wLoc = GroupedPrefix.localWindow(Seq("event_type"),
      Seq(col("ts"), col("event_id")))
    GroupedPrefix.withOffsets(staged, Seq("event_type"),
      Seq(max(struct(col("ts").as("t"), col("event_id").as("i"),
        col("us").as("u"))).as("__last"))) { (slices, wPrev) =>
      slices.select(col("event_type"), col(GroupedPrefix.PID),
        max(col("__last")).over(wPrev).getField("u").as("__prev"))
    }
      .withColumn("g", col("us") -
        coalesce(lag(col("us"), 1).over(wLoc), col("__prev")))
      .groupBy(col("event_type"))
      .agg(
        count(col("g")).as("n_gaps"),
        max(col("g")).cast(LongType).as("max_gap_us"),
        expr("sum(g) div count(g)").cast(LongType).as("mean_gap_us"),
        count(when(col("g") > 120000000L, 1)).as("n_alerts"))
      .orderBy(col("event_type"))
  }

  // q109_resample — the ClickHouse -Resample combinator
  // (sumResample(start, end, step)(x, key)): per group, aggregates
  // bucketed by a key range into a fixed-length array. Here
  // sumResample(0, 30, 5) over day-of-month buckets per event_type —
  // six 5-day windows, serialized as the portable parallel-CSV form
  // (q56's map idiom; fixed bucket scaffold ensures empty buckets
  // surface as explicit zeros, which is what distinguishes -Resample
  // from a plain GROUP BY). Facts pay one two-key aggregation; the
  // scaffold join is dimension-sized and broadcast.
  val q109 = Q(
    "q109_resample",
    Some("""
      WITH daily AS (
        SELECT event_type,
               (CAST(CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE)
                    - DATE '2024-01-01' AS BIGINT)) // 5 AS bucket,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v,
               COUNT(*) AS c
        FROM events GROUP BY event_type, bucket),
      scaffold AS (
        SELECT t.event_type, r.bucket
        FROM (SELECT DISTINCT event_type FROM events) t,
             UNNEST(RANGE(0, 6)) AS r(bucket)),
      filled AS (
        SELECT s.event_type, s.bucket,
               COALESCE(d.v, 0) AS v, COALESCE(d.c, 0) AS c
        FROM scaffold s
        LEFT JOIN daily d
          ON d.event_type = s.event_type AND d.bucket = s.bucket)
      SELECT event_type,
             array_to_string(LIST(bucket::VARCHAR ORDER BY bucket), ',') AS buckets,
             array_to_string(LIST(v::VARCHAR ORDER BY bucket), ',') AS sum_cents,
             array_to_string(LIST(c::VARCHAR ORDER BY bucket), ',') AS counts
      FROM filled
      GROUP BY event_type
      ORDER BY event_type
    """)
  ) { t =>
    val daily = t.events
      .groupBy(col("event_type"),
        (datediff(to_date(col("ts")), lit("2024-01-01")) / 5)
          .cast(LongType).as("bucket"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("v"),
        count(lit(1)).as("c"))
    val scaffold = t.events.select(col("event_type")).distinct()
      .crossJoin(t.spark.range(0, 6).select(col("id").as("bucket")))
    scaffold
      .join(daily, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("v"), lit(0L)).as("v"),
        coalesce(col("c"), lit(0L)).as("c"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("v"), col("c")))).as("m"))
      .select(col("event_type"),
        concat_ws(",", transform(col("m"), e => e.getField("bucket").cast("string"))).as("buckets"),
        concat_ws(",", transform(col("m"), e => e.getField("v").cast("string"))).as("sum_cents"),
        concat_ws(",", transform(col("m"), e => e.getField("c").cast("string"))).as("counts"))
      .orderBy(col("event_type"))
  }

  // q110_nonneg_derivative — ClickHouse nonNegativeDerivative(value, ts):
  // the per-second rate of change between consecutive samples, clamped
  // at zero (counter-reset protection — the Prometheus rate() idiom CH
  // ships as a window function). Keyed by user (high-cardinality
  // partitions), exact micros denominators, DECIMAL-cent numerators;
  // the per-type rollup reports how much positive movement the counter
  // family saw and its steepest observed rate, with one rounded
  // division per output row.
  val q110 = Q(
    "q110_nonneg_derivative",
    Some("""
      WITH d AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 - LAG(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w AS dv,
               epoch_us(CAST(ts AS TIMESTAMP))
                 - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS dt
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      rates AS (
        SELECT event_type,
               CASE WHEN dv > 0 AND dt > 0 THEN dv ELSE 0 END AS pos_dv,
               CASE WHEN dv > 0 AND dt > 0
                    THEN ROUND(dv * 1000000.0 / dt, 6) ELSE NULL END AS rate
        FROM d WHERE dt IS NOT NULL)
      SELECT event_type,
             COUNT(*) AS n_samples,
             CAST(SUM(pos_dv) AS BIGINT) AS sum_pos_cents,
             ROUND(MAX(rate), 6) AS max_rate_cents_per_s
      FROM rates
      GROUP BY event_type
      ORDER BY event_type
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cents = col("value").cast(DecimalType(18, 2)).multiply(lit(100)).cast(LongType)
    val d = t.events
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id"),
        cents.as("cv"), unix_micros(col("ts")).as("us"))
      .withColumn("dv", col("cv") - lag(col("cv"), 1).over(w))
      .withColumn("dt", col("us") - lag(col("us"), 1).over(w))
      .filter(col("dt").isNotNull)
    d.select(col("event_type"),
      when(col("dv") > 0 && col("dt") > 0, col("dv")).otherwise(0L).as("pos_dv"),
      when(col("dv") > 0 && col("dt") > 0,
        round(col("dv") * lit(1000000.0) / col("dt"), 6)).as("rate"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("pos_dv")).cast(LongType).as("sum_pos_cents"),
        round(max(col("rate")), 6).as("max_rate_cents_per_s"))
      .orderBy(col("event_type"))
  }

  // q128_moving_sum — ClickHouse groupArrayMovingSum(3)(x): the k=3
  // trailing moving sum along each user's event series. The window is
  // keyed by user_id (high-cardinality — parallelism grows with users,
  // never an enum funnel) and ROWS-bounded, so state per partition is
  // k values. CH returns the whole array per group; the oracle-friendly
  // readout is the series' LAST moving sum (deterministic rn=1 pick
  // under the (ts, event_id) total order) and its maximum, both exact
  // BIGINT cents.
  val q128 = Q(
    "q128_moving_sum",
    Some("""
      WITH m AS (
        SELECT user_id,
               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov3,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id,
             COUNT(*) AS n,
             CAST(MAX(mov3) AS BIGINT) AS max_mov3_cents,
             CAST(MAX(CASE WHEN rn = 1 THEN mov3 END) AS BIGINT) AS last_mov3_cents
      FROM m
      GROUP BY user_id
      ORDER BY user_id
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val cents = col("value").cast(DecimalType(18, 2)).multiply(lit(100))
      .cast(LongType)
    val wMov = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-2, Window.currentRow)
    val wLast = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t.events
      .select(col("user_id"), col("ts"), col("event_id"), cents.as("cv"))
      .withColumn("mov3", sum(col("cv")).over(wMov))
      .withColumn("rn", row_number().over(wLast))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        max(col("mov3")).cast(LongType).as("max_mov3_cents"),
        max(when(col("rn") === 1, col("mov3"))).cast(LongType)
          .as("last_mov3_cents"))
      .orderBy(col("user_id"))
  }

  // q129_decay_sum — ClickHouse exponentialTimeDecayedSum, re-expressed
  // with a half-life-per-day decay and a 30-day horizon so the whole
  // computation is EXACT integer arithmetic end to end: the decayed
  // weight of an event aged k days is 2^(30−k) in scaled units (one bit
  // shift — no libm exp() whose ulp behavior differs across engines),
  // terms are DECIMAL(38,0) products of exact cents, and the readout is
  // fixed-point: decayed_cents_e4 = floor(scaled·10⁴ / 2³⁰) as BIGINT.
  // No floating point anywhere — round 7's driver gate proved that a
  // 53-bit numerator pushed through ROUND(double, 4) hashes a different
  // ulp across DuckDB builds; the sums are nonnegative, so floor
  // division agrees in both engines. Two passes: per-type max date
  // (broadcast back), one map-side-combinable aggregation.
  //
  // OUTPUT TYPES: every emitted column is BIGINT. The internal sum stays
  // DECIMAL(38,0) (cents·2³⁰ would overflow a 64-bit product mid-sum at
  // extreme SF only after the ·10⁴ readout step, which therefore divides
  // FIRST in decimal space), but the `scaled` READOUT is cast to BIGINT:
  // round 8 proved the engines agree on the decimal VALUE while the
  // driver's harness hashes decimal128 serialization differently — it was
  // the registry's only DECIMAL(p>18) output column and its only
  // hash-fail. OutputTypeLintSpec now bans the class outright.
  val q129 = Q(
    "q129_decay_sum",
    Some("""
      WITH v AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        FROM events),
      mx AS (SELECT event_type, MAX(d) AS md FROM v GROUP BY event_type)
      SELECT v.event_type,
             COUNT(*) AS n,
             CAST(SUM(CASE WHEN mx.md - v.d <= 30
               THEN CAST(v.cents AS DECIMAL(38,0))
                    * (CAST(1 AS BIGINT) << (30 - (mx.md - v.d)))
               ELSE 0 END) AS BIGINT) AS scaled,
             CAST(CAST(SUM(CASE WHEN mx.md - v.d <= 30
               THEN CAST(v.cents AS DECIMAL(38,0))
                    * (CAST(1 AS BIGINT) << (30 - (mx.md - v.d)))
               ELSE 0 END) AS HUGEINT) * 10000 // 1073741824
               AS BIGINT) AS decayed_cents_e4
      FROM v JOIN mx ON v.event_type = mx.event_type
      GROUP BY v.event_type
      ORDER BY v.event_type
    """)
  ) { t =>
    val v = t.events.select(col("event_type"),
      col("value").cast(DecimalType(18, 2)).multiply(lit(100))
        .cast(LongType).as("cents"),
      to_date(col("ts")).as("d"))
    val mx = v.groupBy(col("event_type")).agg(max(col("d")).as("md"))
    // shiftleft's bit count is an expression here (30 − age), so the
    // term goes through expr(); both branches are DECIMAL(38,0)
    val term = expr("""CASE WHEN datediff(md, d) <= 30
      THEN CAST(cents AS DECIMAL(38,0))
           * shiftleft(CAST(1 AS BIGINT), 30 - datediff(md, d))
      ELSE CAST(0 AS DECIMAL(38,0)) END""")
    v.join(broadcast(mx), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(term).cast(DecimalType(38, 0)).as("__scaled_dec"))
      .withColumn("decayed_cents_e4",
        expr("CAST((__scaled_dec * 10000) div 1073741824 AS BIGINT)"))
      .select(col("event_type"), col("n"),
        col("__scaled_dec").cast(LongType).as("scaled"),
        col("decayed_cents_e4"))
      .orderBy(col("event_type"))
  }

  // q132_cusum — change-point location per order status over the daily
  // revenue series: the CUSUM statistic S_t = Σ_{i≤t}(x_i − x̄) peaks at
  // the most likely single shift point. Multiplied through by n to stay
  // EXACT: D_t = n·P_t − t·T (P_t = prefix cents sum, T = total, t = day
  // index) is a BIGINT — n ≈ thousands of days, P_t exact cents — and
  // argmax|D_t| plus the step means before/after (integer div of exact
  // sums) are all integers, no FP anywhere.
  //
  // Scale shape: the fact table collapses to the per-(status, day)
  // relation in ONE map-side-combinable groupBy (≤ |status|·|days| rows —
  // dimension-sized at any corpus size, the q77/q119 precedent), and only
  // that small relation crosses the unpartitioned-ish windows (partitioned
  // by the 3-value status but carrying ~days rows each, not corpus rows).
  val q132 = Q(
    "q132_cusum",
    Some("""
      WITH daily AS (
        SELECT o_orderstatus AS g, CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2),
      pre AS (
        SELECT g, d, x,
               CAST(SUM(x) OVER (PARTITION BY g ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS t,
               CAST(SUM(x) OVER (PARTITION BY g) AS BIGINT) AS tot,
               COUNT(*) OVER (PARTITION BY g) AS n
        FROM daily),
      scored AS (
        SELECT g, d, t, p, tot, n,
               CAST(ABS(n * p - t * tot) AS BIGINT) AS dabs
        FROM pre),
      best AS (
        SELECT g, MAX(dabs) AS d_abs, MAX(n) AS n_days
        FROM scored GROUP BY g),
      at AS (
        SELECT s.g, MIN(s.d) AS cp_day, MIN(s.t) AS cp_t
        FROM scored s JOIN best b ON s.g = b.g AND s.dabs = b.d_abs
        GROUP BY s.g)
      SELECT b.g AS o_orderstatus, b.n_days, at.cp_day, b.d_abs,
             CAST(s.p // at.cp_t AS BIGINT) AS mean_before_cents,
             CAST(CASE WHEN b.n_days > at.cp_t
                  THEN (s.tot - s.p) // (b.n_days - at.cp_t) END AS BIGINT)
               AS mean_after_cents
      FROM best b
      JOIN at ON at.g = b.g
      JOIN scored s ON s.g = b.g AND s.t = at.cp_t
      ORDER BY o_orderstatus
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val daily = t.orders
      .groupBy(col("o_orderstatus").as("g"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)).multiply(lit(100)))
        .cast(LongType).as("x"))
    val byDay = Window.partitionBy(col("g")).orderBy(col("d"))
    val whole = Window.partitionBy(col("g"))
    val scored = daily
      .withColumn("p", sum(col("x")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t", row_number().over(byDay).cast(LongType))
      .withColumn("tot", sum(col("x")).over(whole))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("dabs", abs(col("n") * col("p") - col("t") * col("tot")))
    // lexicographic struct-max: (max |D|, then earliest day) in ONE
    // aggregation — the peak row's own prefix/total ride along in the
    // struct so no second join back is needed
    scored
      .groupBy(col("g"))
      .agg(max(col("n")).as("n_days"),
        max(struct(col("dabs"), (-col("t")).as("nt"),
          col("d"), col("p"), col("tot"))).as("m"))
      .select(col("g").as("o_orderstatus"), col("n_days"),
        col("m.d").as("cp_day"), col("m.dabs").as("d_abs"),
        expr("m.p div (-m.nt)").cast(LongType).as("mean_before_cents"),
        when(col("n_days") > -col("m.nt"),
          expr("(m.tot - m.p) div (n_days - (-m.nt))"))
          .cast(LongType).as("mean_after_cents"))
      .orderBy(col("o_orderstatus"))
  }

  // q133_autocorr — sample autocorrelation of the daily revenue series at
  // row-lags 1 and 7 per order status (the weekly-seasonality probe):
  // Pearson corr of the series against itself shifted k observed days.
  // The inputs are EXACT integer cents (one groupBy collapse, as q132),
  // so both engines hand corr() identical doubles; corr itself is the
  // reviewed q38/q113 DOUBLE class — one ROUND at the readout, on the
  // lint exemption. Lag pairs ride a window over the dimension-sized
  // daily relation; n_pairs makes the truncation at series edges
  // auditable.
  val q133 = Q(
    "q133_autocorr",
    Some("""
      WITH daily AS (
        SELECT o_orderstatus AS g, CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2),
      lagged AS (
        SELECT g, x,
               LAG(x, 1) OVER (PARTITION BY g ORDER BY d) AS x1,
               LAG(x, 7) OVER (PARTITION BY g ORDER BY d) AS x7
        FROM daily)
      SELECT g AS o_orderstatus, lag, acf_r4, n_pairs FROM (
        SELECT g, CAST(1 AS BIGINT) AS lag, ROUND(CORR(x, x1), 4) AS acf_r4,
               CAST(COUNT(x1) AS BIGINT) AS n_pairs
        FROM lagged GROUP BY g
        UNION ALL
        SELECT g, CAST(7 AS BIGINT) AS lag, ROUND(CORR(x, x7), 4) AS acf_r4,
               CAST(COUNT(x7) AS BIGINT) AS n_pairs
        FROM lagged GROUP BY g)
      ORDER BY o_orderstatus, lag
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val daily = t.orders
      .groupBy(col("o_orderstatus").as("g"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)).multiply(lit(100)))
        .cast(LongType).as("x"))
    val byDay = Window.partitionBy(col("g")).orderBy(col("d"))
    val lagged = daily
      .withColumn("x1", lag(col("x"), 1).over(byDay))
      .withColumn("x7", lag(col("x"), 7).over(byDay))
    // both lags fold in ONE map-side-combinable aggregation over the
    // small daily relation; explode to the tidy (status, lag) long form
    lagged.groupBy(col("g"))
      .agg(round(corr(col("x"), col("x1")), 4).as("a1"),
        count(col("x1")).as("n1"),
        round(corr(col("x"), col("x7")), 4).as("a7"),
        count(col("x7")).as("n7"))
      .select(col("g").as("o_orderstatus"), explode(array(
        struct(lit(1L).as("lag"), col("a1").as("acf_r4"), col("n1").as("n_pairs")),
        struct(lit(7L).as("lag"), col("a7").as("acf_r4"), col("n7").as("n_pairs"))))
        .as("e"))
      .select(col("o_orderstatus"), col("e.lag").as("lag"),
        col("e.acf_r4").as("acf_r4"), col("e.n_pairs").as("n_pairs"))
      .orderBy(col("o_orderstatus"), col("lag"))
  }

  // q135_seasonal — classical additive seasonal decomposition of the
  // daily revenue series per order status (the exact skeleton of CH
  // seriesDecomposeSTL): trend = centered 7-observed-day moving
  // average, seasonal index per ISO weekday = mean of the detrended
  // series. Kept EXACT by never dividing: trend×7 is the centered
  // 7-row sum (BIGINT), detrended×7 = 7x − trend7, and the weekday
  // index is reported as the exact rational seasonal_num/seasonal_den
  // (= Σ detrended7 over 7·n_days) — no FP, no integer-div semantics
  // hazard, and the spec can assert Σ_w num/den ≈ 0 the way classical
  // decomposition promises.
  //
  // Scale shape: one map-side-combinable groupBy collapses the fact
  // table to the per-(status, day) relation (≤ |status|·|days| rows —
  // dimension-sized at any corpus size); only that small relation
  // crosses the 3-value-status windows, then one more map-side groupBy
  // to the 3×7 readout.
  val q135 = Q(
    "q135_seasonal",
    Some("""
      WITH daily AS (
        SELECT o_orderstatus AS g, CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2),
      tr AS (
        SELECT g, d, x,
               SUM(x) OVER (PARTITION BY g ORDER BY d
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
               COUNT(*) OVER (PARTITION BY g ORDER BY d
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
        FROM daily),
      det AS (
        SELECT g, ISODOW(d) AS weekday, 7 * x - t7 AS det7
        FROM tr WHERE c7 = 7)
      SELECT g AS o_orderstatus, CAST(weekday AS BIGINT) AS weekday,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(det7) AS BIGINT) AS seasonal_num,
             CAST(7 * COUNT(*) AS BIGINT) AS seasonal_den
      FROM det GROUP BY 1, 2
      ORDER BY o_orderstatus, weekday
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val daily = t.orders
      .groupBy(col("o_orderstatus").as("g"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)).multiply(lit(100)))
        .cast(LongType).as("x"))
    val w7 = Window.partitionBy(col("g")).orderBy(col("d")).rowsBetween(-3, 3)
    daily
      .withColumn("t7", sum(col("x")).over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
      .where(col("c7") === 7)
      // Spark weekday(): 0 = Monday … 6 = Sunday; ISODOW is 1-based
      .select(col("g"), (expr("weekday(d)") + 1).cast(LongType).as("weekday"),
        (col("x") * 7 - col("t7")).as("det7"))
      .groupBy(col("g"), col("weekday"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("det7")).cast(LongType).as("seasonal_num"),
        (count(lit(1)) * 7).cast(LongType).as("seasonal_den"))
      .select(col("g").as("o_orderstatus"), col("weekday"), col("n_days"),
        col("seasonal_num"), col("seasonal_den"))
      .orderBy(col("o_orderstatus"), col("weekday"))
  }

  // q147 — 14-period SMA-RSI over the daily revenue series per order
  // status (the technical-analysis momentum readout; the SMA form, not
  // Wilder's recursive smoothing, so every window is order-free and
  // both engines agree bit for bit). Exact integers end to end: daily
  // cents → lag diffs → gain/loss window sums → RSI in e4 fixed point
  // as 1000000·G div (G+L). Facts pay ONE daily aggregation; the lag
  // and the 14-row frames run over the calendar-bounded daily relation
  // (≤ ~2.5k rows per status at ANY corpus size — the window never
  // sees the fact table).
  val q147 = Q(
    "q147_rsi",
    Some("""
      WITH daily AS (
        SELECT o_orderstatus AS st,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
        FROM orders GROUP BY st, d),
      diffs AS (
        SELECT st, d,
               v - LAG(v) OVER (PARTITION BY st ORDER BY d) AS dv
        FROM daily),
      agg AS (
        SELECT st, d,
               SUM(CASE WHEN dv > 0 THEN dv ELSE 0 END)
                 OVER (PARTITION BY st ORDER BY d
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS g,
               SUM(CASE WHEN dv < 0 THEN -dv ELSE 0 END)
                 OVER (PARTITION BY st ORDER BY d
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS l,
               COUNT(dv) OVER (PARTITION BY st ORDER BY d
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS cnt
        FROM diffs)
      SELECT st, d, CAST(g AS BIGINT) AS gain_cents,
             CAST(l AS BIGINT) AS loss_cents,
             CAST(g * 1000000 // (g + l) AS BIGINT) AS rsi_e4
      FROM agg
      WHERE cnt = 14 AND g + l > 0
      ORDER BY st, d
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val daily = t.orders
      .groupBy(col("o_orderstatus").as("st"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast(LongType).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))
        .multiply(lit(100)).cast(LongType)).as("v"))
    val wLag = Window.partitionBy(col("st")).orderBy(col("d"))
    val w14 = wLag.rowsBetween(-13, Window.currentRow)
    daily
      .withColumn("dv", col("v") - lag(col("v"), 1).over(wLag))
      .select(col("st"), col("d"),
        sum(when(col("dv") > 0, col("dv")).otherwise(0L)).over(w14).as("g"),
        sum(when(col("dv") < 0, -col("dv")).otherwise(0L)).over(w14).as("l"),
        count(col("dv")).over(w14).as("cnt"))
      .filter(col("cnt") === 14 && col("g") + col("l") > 0)
      .select(col("st"), col("d"),
        col("g").cast(LongType).as("gain_cents"),
        col("l").cast(LongType).as("loss_cents"),
        // widen before ×1e6: 14 days of cents reach ~1e14 at the
        // 100 TB target and the numerator would wrap BIGINT (the
        // q142 convention; DuckDB's window SUM is already HUGEINT)
        expr("CAST(g AS DECIMAL(38,0)) * 1000000 div (g + l)")
          .cast(LongType).as("rsi_e4"))
      .orderBy(col("st"), col("d"))
  }

  // q149 — Hampel filter over the daily value series per event type
  // (the robust outlier detector next to q103's moving median): a day
  // is flagged when its deviation from the CENTERED 11-day window
  // median exceeds 3× the window's MAD. Both medians are LOWER order
  // statistics of the collected frame — pure integers, no
  // interpolation, so both engines agree exactly; the deviations
  // derive from the SAME collected frame (one window pass, not two).
  // The frames run over the calendar-bounded daily relation, never the
  // fact table.
  val q149 = Q(
    "q149_hampel",
    Some("""
      WITH daily AS (
        SELECT event_type,
               CAST(CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE)
                    - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        FROM events GROUP BY event_type, d),
      framed AS (
        SELECT event_type, d, v,
               LIST_SORT(LIST(v) OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)) AS fr
        FROM daily),
      med AS (
        SELECT event_type, d, v, fr,
               fr[(LEN(fr) + 1) // 2] AS med
        FROM framed),
      mad AS (
        SELECT event_type, d, v, med,
               LIST_SORT(LIST_TRANSFORM(fr, x -> ABS(x - med)))
                 [(LEN(fr) + 1) // 2] AS mad
        FROM med)
      SELECT event_type, d, CAST(v AS BIGINT) AS v_cents,
             CAST(med AS BIGINT) AS med_cents,
             CAST(mad AS BIGINT) AS mad_cents
      FROM mad
      WHERE ABS(v - med) > 3 * mad AND ABS(v - med) > 0
      ORDER BY event_type, d
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val daily = t.events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast(LongType).as("d"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-5, 5)
    daily
      .withColumn("fr", sort_array(collect_list(col("v")).over(w)))
      .withColumn("med",
        element_at(col("fr"), ((size(col("fr")) + 1) / 2).cast("int")))
      .withColumn("mad", element_at(
        sort_array(transform(col("fr"), x => abs(x - col("med")))),
        ((size(col("fr")) + 1) / 2).cast("int")))
      .filter(abs(col("v") - col("med")) > lit(3) * col("mad") &&
        abs(col("v") - col("med")) > 0)
      .select(col("event_type"), col("d"),
        col("v").cast(LongType).as("v_cents"),
        col("med").cast(LongType).as("med_cents"),
        col("mad").cast(LongType).as("mad_cents"))
      .orderBy(col("event_type"), col("d"))
  }

  // q152 — single change-point detection by binary segmentation (the
  // first split of CUSUM/BinSeg, next to q132's CUSUM path): the day
  // boundary maximizing the between-segment sum of squares
  // n·(S1·n2 − S2·n1)²/(n1·n2) — equivalently the two-mean fit. The
  // split NUMERATOR (S1·n2 − S2·n1) is exact in DECIMAL(38,0) (cents ×
  // day-count ≤ ~1e21 at 100 TB); only the squared score is IEEE, with
  // identical term order on both engines and a (score DESC, day ASC)
  // tie-break, and the EMITTED columns are all exact BIGINTs (the
  // score never leaves the plan). Prefix sums and the argmax run over
  // the calendar-bounded daily relation, never the fact table.
  val q152 = Q(
    "q152_changepoint",
    Some("""
      WITH daily AS (
        SELECT o_orderstatus AS st,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
        FROM orders GROUP BY st, d),
      pre AS (
        SELECT st, d, v,
               SUM(v) OVER (PARTITION BY st ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
               ROW_NUMBER() OVER (PARTITION BY st ORDER BY d) AS k,
               SUM(v) OVER (PARTITION BY st) AS s,
               COUNT(*) OVER (PARTITION BY st) AS n
        FROM daily),
      scored AS (
        SELECT st, d, k, n, s1, s - s1 AS s2,
               CAST(s1 * (n - k) - (s - s1) * k AS DOUBLE)
                 * CAST(s1 * (n - k) - (s - s1) * k AS DOUBLE)
                 / (CAST(k AS DOUBLE) * (n - k)) AS score
        FROM pre WHERE k < n),
      best AS (
        SELECT st, d, k, n, s1, s2,
               ROW_NUMBER() OVER (PARTITION BY st ORDER BY score DESC, d) AS rn
        FROM scored)
      SELECT st, CAST(d AS BIGINT) AS split_d,
             CAST(k AS BIGINT) AS n1, CAST(n - k AS BIGINT) AS n2,
             CAST(s1 // k AS BIGINT) AS mean1_cents,
             CAST(s2 // (n - k) AS BIGINT) AS mean2_cents
      FROM best WHERE rn = 1
      ORDER BY st
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val daily = t.orders
      .groupBy(col("o_orderstatus").as("st"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast(LongType).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))
        .multiply(lit(100)).cast(LongType)).as("v"))
    val wOrd = Window.partitionBy(col("st")).orderBy(col("d"))
    val wAll = Window.partitionBy(col("st"))
    val pre = daily.select(col("st"), col("d"), col("v"),
      sum(col("v")).over(wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).as("s1"),
      row_number().over(wOrd).cast(LongType).as("k"),
      sum(col("v")).over(wAll).as("s"),
      count(lit(1)).over(wAll).as("n"))
    val scored = pre.filter(col("k") < col("n"))
      .withColumn("s2", col("s") - col("s1"))
      // numerator exact in DECIMAL(38,0), squared once in IEEE with
      // the oracle's exact term order
      .withColumn("num", expr(
        "CAST(CAST(s1 AS DECIMAL(38,0)) * (n - k) " +
          "- CAST(s2 AS DECIMAL(38,0)) * k AS DOUBLE)"))
      .withColumn("score",
        col("num") * col("num") / (col("k").cast(DoubleType) * (col("n") - col("k"))))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("st")).orderBy(col("score").desc, col("d"))))
      .filter(col("rn") === 1)
      .select(col("st"), col("d").cast(LongType).as("split_d"),
        col("k").cast(LongType).as("n1"),
        (col("n") - col("k")).cast(LongType).as("n2"),
        expr("s1 div k").cast(LongType).as("mean1_cents"),
        expr("s2 div (n - k)").cast(LongType).as("mean2_cents"))
      .orderBy(col("st"))
  }

  // q154 — Bollinger-band breaches over the daily revenue series per
  // status (the ±2σ envelope of technical analysis), EXACTLY: the
  // breach test (v − S/n)² > 4·(Q/n − S²/n²) clears denominators to
  // (v·n − S)² > 4·(Q·n − S²) — pure integer comparison on window
  // sums of cents and squared cents, DECIMAL(38,0)-widened (squares
  // pass BIGINT at the 100 TB target). No sqrt, no FP anywhere.
  // Trailing 20-day frames over the calendar-bounded daily relation.
  val q154 = Q(
    "q154_bollinger_breach",
    Some("""
      WITH daily AS (
        SELECT o_orderstatus AS st,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
        FROM orders GROUP BY st, d),
      win AS (
        SELECT st, d, v,
               SUM(v) OVER w AS s, SUM(v * v) OVER w AS q,
               COUNT(*) OVER w AS n
        FROM daily
        WINDOW w AS (PARTITION BY st ORDER BY d
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      SELECT st, CAST(d AS BIGINT) AS d, CAST(v AS BIGINT) AS v_cents,
             CAST(s // n AS BIGINT) AS ma_cents,
             CASE WHEN v * n > s THEN 1 ELSE -1 END AS side
      FROM win
      WHERE n = 20
        AND (v * n - s) * (v * n - s) > 4 * (q * n - s * s)
      ORDER BY st, d
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val daily = t.orders
      .groupBy(col("o_orderstatus").as("st"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast(LongType).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))
        .multiply(lit(100)).cast(LongType)).as("v"))
    val w = Window.partitionBy(col("st")).orderBy(col("d"))
      .rowsBetween(-19, Window.currentRow)
    daily
      .select(col("st"), col("d"), col("v"),
        sum(col("v")).over(w).as("s"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).over(w).as("q"),
        count(lit(1)).over(w).as("n"))
      .filter(col("n") === 20 && expr(
        "(CAST(v AS DECIMAL(38,0)) * n - s) * (CAST(v AS DECIMAL(38,0)) * n - s)" +
          " > 4 * (CAST(q AS DECIMAL(38,0)) * n - CAST(s AS DECIMAL(38,0)) * s)"))
      .select(col("st"), col("d").cast(LongType).as("d"),
        col("v").cast(LongType).as("v_cents"),
        expr("s div n").cast(LongType).as("ma_cents"),
        when(expr("CAST(v AS DECIMAL(38,0)) * n > s"), 1)
          .otherwise(-1).as("side"))
      .orderBy(col("st"), col("d"))
  }

  // q156 — the Kaplan–Meier LIFE TABLE over the q65 synthetic interval
  // durations (order open for o_orderkey%20+1 days): at each duration
  // t, the at-risk count n_t (intervals with duration ≥ t) and event
  // count d_t (duration = t) — the exact-integer core the KM
  // product-limit estimator multiplies up (the product itself is a
  // rational the caller folds; emitting it would force FP). n_t comes
  // from a suffix sum over the ≤20-row duration histogram — the facts
  // pay one histogram aggregation.
  val q156 = Q(
    "q156_life_table",
    Some("""
      WITH dur AS (
        SELECT o_orderstatus AS st,
               CAST(o_orderkey % 20 + 1 AS BIGINT) AS t
        FROM orders),
      hist AS (SELECT st, t, COUNT(*) AS d FROM dur GROUP BY st, t)
      SELECT st, t, CAST(d AS BIGINT) AS d_events,
             CAST(SUM(d) OVER (PARTITION BY st ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk
      FROM hist
      ORDER BY st, t
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val hist = t.orders
      .select(col("o_orderstatus").as("st"),
        (col("o_orderkey") % 20 + 1).cast(LongType).as("t"))
      .groupBy(col("st"), col("t"))
      .agg(count(lit(1)).as("d"))
    val w = Window.partitionBy(col("st")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .select(col("st"), col("t"),
        col("d").cast(LongType).as("d_events"),
        sum(col("d")).over(w).cast(LongType).as("n_at_risk"))
      .orderBy(col("st"), col("t"))
  }

  // q161 — maximum drawdown of the monthly revenue series per order
  // status: running peak minus current level, the worst peak-to-trough
  // drop in exact cents with its month and the depth in basis points of
  // the peak (the risk readout every monitoring dashboard pairs with a
  // level chart). The fact table contributes ONE aggregation to month
  // grain; the running peak is a window over the bounded month relation
  // (≤ ~80 rows per status — the q63 cohort convention), and the trough
  // pick is deterministic (max dd, then earliest month). The ×10000
  // numerator is DECIMAL(38,0)-widened — peak cents at 100 TB pass 1e15
  // and the bp product would wrap BIGINT (the q142 convention).
  val q161 = Q(
    "q161_drawdown",
    Some("""
      WITH m AS (
        SELECT o_orderstatus AS st,
               EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
                 + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) AS ym,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev
        FROM orders GROUP BY 1, 2),
      r AS (
        SELECT st, ym, rev,
               MAX(rev) OVER (PARTITION BY st ORDER BY ym) AS peak
        FROM m),
      d AS (SELECT st, ym, peak, peak - rev AS dd FROM r),
      mx AS (SELECT st, MAX(dd) AS max_dd FROM d GROUP BY st),
      pick AS (
        SELECT d.st, MIN(d.ym) AS trough_ym
        FROM d JOIN mx ON mx.st = d.st AND d.dd = mx.max_dd
        GROUP BY d.st)
      SELECT mx.st AS o_orderstatus,
             CAST(mx.max_dd AS BIGINT) AS max_dd_cents,
             CAST(p.trough_ym AS BIGINT) AS trough_ym,
             CAST(CAST(mx.max_dd AS HUGEINT) * 10000 // t.peak AS BIGINT) AS dd_bp
      FROM mx
      JOIN pick p ON p.st = mx.st
      JOIN d t ON t.st = mx.st AND t.ym = p.trough_ym
      ORDER BY o_orderstatus
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val m = t.orders
      .groupBy(col("o_orderstatus").as("st"),
        (year(to_date(col("o_orderdate"))) * 12 +
          month(to_date(col("o_orderdate")))).as("ym"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    // bounded relation: |statuses| × |months| rows — the window is fine
    val w = Window.partitionBy(col("st"))
      .orderBy(col("ym")).rowsBetween(Window.unboundedPreceding, 0)
    val d = m.withColumn("peak", max(col("rev")).over(w))
      .withColumn("dd", col("peak") - col("rev"))
    val mx = d.groupBy(col("st")).agg(max(col("dd")).as("max_dd"))
    val pick = d.join(mx, Seq("st"))
      .filter(col("dd") === col("max_dd"))
      .groupBy(col("st")).agg(min(col("ym")).as("trough_ym"))
    mx.join(pick, Seq("st"))
      .join(d.select(col("st"), col("ym").as("trough_ym"), col("peak")),
        Seq("st", "trough_ym"))
      .select(col("st").as("o_orderstatus"),
        col("max_dd").cast(LongType).as("max_dd_cents"),
        col("trough_ym").cast(LongType).as("trough_ym"),
        expr("CAST(max_dd AS DECIMAL(38,0)) * 10000 div peak")
          .cast(LongType).as("dd_bp"))
      .orderBy(col("o_orderstatus"))
  }

  // q168 — dominant-period detection per order status (the exact
  // skeleton of CH seriesPeriodDetectFFT: find the cycle length the
  // series repeats on — here via the autocorrelation argmax over lags
  // 2..14, the honest exact form of the FFT peak for short candidate
  // ranges; lag 1 is excluded as the trivial trend echo). The daily
  // relation is dimension-sized (one map-side-combinable groupBy off
  // the fact table), the 13 lag columns ride ONE window pass over it,
  // all 13 ACFs fold in ONE aggregation, and the argmax ranks a
  // |status|×13-row relation — ties break to the SMALLEST lag, nulls
  // (series shorter than the lag) sort last. acf_r4 shares q133's
  // reviewed ROUND(CORR, 4) term order.
  val q168 = Q(
    "q168_period_detect",
    Some {
      val lagCols = (2 to 14).map(k =>
        s"LAG(x, $k) OVER (PARTITION BY g ORDER BY d) AS x$k").mkString(",\n               ")
      val corrCols = (2 to 14).map(k =>
        s"ROUND(CORR(x, x$k), 4) AS a$k, COUNT(x$k) AS n$k").mkString(",\n               ")
      val structs = (2 to 14).map(k =>
        s"{'lag': CAST($k AS BIGINT), 'acf_r4': a$k, 'n_pairs': CAST(n$k AS BIGINT)}").mkString(", ")
      s"""
      WITH daily AS (
        SELECT o_orderstatus AS g, CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2),
      lagged AS (
        SELECT g, x,
               $lagCols
        FROM daily),
      acfs AS (
        SELECT g,
               $corrCols
        FROM lagged GROUP BY g),
      long AS (
        SELECT g, e.lag AS lag, e.acf_r4 AS acf_r4, e.n_pairs AS n_pairs
        FROM acfs, UNNEST([$structs]) AS t(e)),
      rk AS (
        SELECT g, lag, acf_r4, n_pairs,
               ROW_NUMBER() OVER (PARTITION BY g
                                  ORDER BY acf_r4 DESC NULLS LAST, lag) AS rn
        FROM long)
      SELECT g AS o_orderstatus, CAST(lag AS BIGINT) AS period,
             acf_r4, CAST(n_pairs AS BIGINT) AS n_pairs
      FROM rk WHERE rn = 1
      ORDER BY o_orderstatus
      """
    }
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val lags = 2 to 14
    val daily = t.orders
      .groupBy(col("o_orderstatus").as("g"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)).multiply(lit(100)))
        .cast(LongType).as("x"))
    val byDay = Window.partitionBy(col("g")).orderBy(col("d"))
    val lagged = lags.foldLeft(daily) { (df, k) =>
      df.withColumn(s"x$k", lag(col("x"), k).over(byDay))
    }
    val acfs = lagged.groupBy(col("g"))
      .agg(round(corr(col("x"), col(s"x${lags.head}")), 4).as(s"a${lags.head}"),
        (count(col(s"x${lags.head}")).as(s"n${lags.head}") +:
          lags.tail.flatMap(k => Seq(
            round(corr(col("x"), col(s"x$k")), 4).as(s"a$k"),
            count(col(s"x$k")).as(s"n$k")))): _*)
    val long = acfs.select(col("g"), explode(array(lags.map(k =>
      struct(lit(k.toLong).as("lag"), col(s"a$k").as("acf_r4"),
        col(s"n$k").cast(LongType).as("n_pairs"))): _*)).as("e"))
      .select(col("g"), col("e.lag").as("lag"), col("e.acf_r4").as("acf_r4"),
        col("e.n_pairs").as("n_pairs"))
    val rk = Window.partitionBy(col("g"))
      .orderBy(col("acf_r4").desc_nulls_last, col("lag"))
    long.withColumn("rn", row_number().over(rk))
      .filter(col("rn") === 1)
      .select(col("g").as("o_orderstatus"), col("lag").as("period"),
        col("acf_r4"), col("n_pairs"))
      .orderBy(col("o_orderstatus"))
  }

  // q171 — seasonal STRENGTH per order status: how much of the
  // detrended variance the weekday cycle explains — the number a
  // seriesDecomposeSTL user reads before trusting q135's seasonal
  // indices (indices from a weak cycle are noise). Computed as the
  // ANOVA η² of weekday on q135's EXACT detrended series (det7 = 7x −
  // centered-7-sum, integers): η² = (n·Σ_w T_w²/n_w − S²)/(n·Q − S²)
  // where every input — per-weekday counts n_w and sums T_w, the
  // global n, S and the DECIMAL(38) square-sum Q (det7² overflows a
  // Long at the 100 TB daily-cents scale) — is exact, the weekdays
  // pivot to SEVEN FIXED COLUMNS (the q72 contingency-cell pattern)
  // so the double fold has a verbatim-shared term order, and one
  // ROUND lands η². The verdict compares the ROUNDED value. Facts pay
  // the one daily aggregation; everything after is |status|-rows.
  val q171 = Q(
    "q171_seasonal_strength",
    Some {
      val terms = (1 to 7).map(k =>
        s"COALESCE(CAST(t$k AS DOUBLE) * t$k / nw$k, CAST(0 AS DOUBLE))")
        .mkString(" + ")
      val pivots = (1 to 7).map(k =>
        s"MAX(CASE WHEN weekday = $k THEN nw END) AS nw$k,\n               " +
          s"MAX(CASE WHEN weekday = $k THEN tw END) AS t$k").mkString(",\n               ")
      s"""
      WITH daily AS (
        SELECT o_orderstatus AS g, CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2),
      tr AS (
        SELECT g, d, x,
               SUM(x) OVER (PARTITION BY g ORDER BY d
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
               COUNT(*) OVER (PARTITION BY g ORDER BY d
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
        FROM daily),
      det AS (
        SELECT g, ISODOW(d) AS weekday, 7 * x - t7 AS det7
        FROM tr WHERE c7 = 7),
      per_w AS (
        SELECT g, weekday, COUNT(*) AS nw, SUM(det7) AS tw
        FROM det GROUP BY g, weekday),
      gl AS (
        SELECT g, COUNT(*) AS n, SUM(det7) AS s,
               SUM(CAST(det7 AS HUGEINT) * det7) AS q
        FROM det GROUP BY g),
      piv AS (
        SELECT g,
               $pivots
        FROM per_w GROUP BY g)
      SELECT p.g AS o_orderstatus, CAST(n AS BIGINT) AS n_days,
             ROUND((n * ($terms) - CAST(s AS DOUBLE) * s)
               / (n * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s), 4)
               AS eta2_r4,
             CASE WHEN ROUND((n * ($terms) - CAST(s AS DOUBLE) * s)
                    / (n * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s), 4)
                    > 0.6 THEN 'strong'
                  WHEN ROUND((n * ($terms) - CAST(s AS DOUBLE) * s)
                    / (n * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s), 4)
                    > 0.3 THEN 'moderate'
                  ELSE 'weak' END AS verdict
      FROM piv p JOIN gl ON gl.g = p.g
      ORDER BY o_orderstatus
      """
    }
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val daily = t.orders
      .groupBy(col("o_orderstatus").as("g"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)).multiply(lit(100)))
        .cast(LongType).as("x"))
    val w7 = Window.partitionBy(col("g")).orderBy(col("d")).rowsBetween(-3, 3)
    val det = daily
      .withColumn("t7", sum(col("x")).over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
      .where(col("c7") === 7)
      .select(col("g"), (expr("weekday(d)") + 1).as("weekday"),
        (col("x") * 7 - col("t7")).as("det7"))
    val perW = det.groupBy(col("g"), col("weekday"))
      .agg(count(lit(1)).as("nw"), sum(col("det7")).as("tw"))
    val glob = det.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("det7")).as("s"),
        sum(expr("CAST(det7 AS DECIMAL(38,0)) * det7")).as("q"))
    val piv = perW.groupBy(col("g"))
      .agg(
        max(when(col("weekday") === 1, col("nw"))).as("nw1"),
        (Seq(max(when(col("weekday") === 1, col("tw"))).as("t1")) ++
          (2 to 7).flatMap(k => Seq(
            max(when(col("weekday") === k, col("nw"))).as(s"nw$k"),
            max(when(col("weekday") === k, col("tw"))).as(s"t$k")))): _*)
    val terms = (1 to 7).map(k =>
      s"COALESCE(CAST(t$k AS DOUBLE) * t$k / nw$k, CAST(0 AS DOUBLE))")
      .mkString(" + ")
    val eta = s"ROUND((n * ($terms) - CAST(s AS DOUBLE) * s) " +
      s"/ (n * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s), 4)"
    piv.join(glob, "g")
      .select(col("g").as("o_orderstatus"),
        col("n").cast(LongType).as("n_days"),
        expr(eta).as("eta2_r4"),
        expr(s"CASE WHEN $eta > 0.6 THEN 'strong' " +
          s"WHEN $eta > 0.3 THEN 'moderate' ELSE 'weak' END").as("verdict"))
      .orderBy(col("o_orderstatus"))
  }

  // q172 — the FULL classical decomposition per (status, day): the
  // seriesDecomposeSTL output shape users migrate against — observed =
  // trend + seasonal + RESIDUAL, every component an EXACT rational
  // (BIGINT num/den pairs), no FP anywhere. trend = centered
  // 7-observed-day sum over 7 (q135's skeleton), seasonal = the day's
  // weekday index Σdet7/(7·n_w) (q135's output), and the residual
  // closes the identity BY CONSTRUCTION on the common denominator
  // 49·n_w: resid_num = 49·n_w·x − 7·n_w·t7 − 7·sn, so
  // x ≡ trend + seasonal + resid holds exactly row by row (the spec
  // asserts the cross-multiplied identity; the oracle hashes every
  // numerator). Scale shape: facts pay the one map-side-combinable
  // daily aggregation; the 7-row window and the 21-row weekday-index
  // BROADCAST join run over the calendar-bounded daily relation
  // (≤ |status|·|days| rows at ANY corpus size — the decomposition
  // never sees the fact table).
  val q172 = Q(
    "q172_stl_decompose",
    Some("""
      WITH daily AS (
        SELECT o_orderstatus AS g, CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2),
      tr AS (
        SELECT g, d, x,
               SUM(x) OVER (PARTITION BY g ORDER BY d
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
               COUNT(*) OVER (PARTITION BY g ORDER BY d
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
        FROM daily),
      det AS (
        SELECT g, d, x, t7, ISODOW(d) AS weekday, 7 * x - t7 AS det7
        FROM tr WHERE c7 = 7),
      sw AS (
        SELECT g, weekday, COUNT(*) AS nw, SUM(det7) AS sn
        FROM det GROUP BY g, weekday)
      SELECT det.g AS o_orderstatus, det.d AS d, det.x AS x_cents,
             CAST(det.t7 AS BIGINT) AS trend_num,
             CAST(7 AS BIGINT) AS trend_den,
             CAST(sw.sn AS BIGINT) AS seasonal_num,
             CAST(7 * sw.nw AS BIGINT) AS seasonal_den,
             CAST(49 * sw.nw * det.x - 7 * sw.nw * det.t7 - 7 * sw.sn
               AS BIGINT) AS resid_num,
             CAST(49 * sw.nw AS BIGINT) AS resid_den
      FROM det JOIN sw ON sw.g = det.g AND sw.weekday = det.weekday
      ORDER BY o_orderstatus, d
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val daily = t.orders
      .groupBy(col("o_orderstatus").as("g"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)).multiply(lit(100)))
        .cast(LongType).as("x"))
    val w7 = Window.partitionBy(col("g")).orderBy(col("d")).rowsBetween(-3, 3)
    val det = daily
      .withColumn("t7", sum(col("x")).over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
      .where(col("c7") === 7)
      // Spark weekday(): 0 = Monday … 6 = Sunday; ISODOW is 1-based
      .select(col("g"), col("d"), col("x"), col("t7"),
        (expr("weekday(d)") + 1).as("weekday"),
        (col("x") * 7 - col("t7")).as("det7"))
    val sw = det.groupBy(col("g"), col("weekday"))
      .agg(count(lit(1)).as("nw"), sum(col("det7")).as("sn"))
    det.join(broadcast(sw), Seq("g", "weekday"))
      .select(col("g").as("o_orderstatus"), col("d"), col("x").as("x_cents"),
        col("t7").cast(LongType).as("trend_num"), lit(7L).as("trend_den"),
        col("sn").cast(LongType).as("seasonal_num"),
        (col("nw") * 7).cast(LongType).as("seasonal_den"),
        (col("nw") * col("x") * 49 - col("nw") * col("t7") * 7
          - col("sn") * 7).cast(LongType).as("resid_num"),
        (col("nw") * 49).cast(LongType).as("resid_den"))
      .orderBy(col("o_orderstatus"), col("d"))
  }

  // q181 — cross-correlation of two event series (q133's autocorr asks
  // "does a series predict ITSELF"; this asks "does clicking LEAD
  // purchasing, and by how many days" — the lead/lag readout behind
  // every CH series dashboard pairing two metrics): daily click and
  // purchase counts on the DENSE zero-filled day frame (a day with
  // neither is a real 0, not a missing row — same gap-fill discipline
  // as q77), then for each lag in −3..+3 the exact integer
  // co-movement sums over the overlap window: n, Σx, Σy, Σx·y and the
  // covariance NUMERATOR n·Σxy − Σx·Σy as BIGINT — no FP anywhere, so
  // the oracle compares bit-for-bit (the r-value is cov_num over the
  // per-lag stddev product; publishing the rational's numerator keeps
  // the op exact, the established seasonal_num/den convention).
  // Scale shape: ONE map-side-combinable fact aggregation collapses
  // events to the |days| relation; the frame, the 7 lag joins and the
  // final readout all run on that dimension-sized table.
  val q181 = Q(
    "q181_cross_corr",
    Some("""
      WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               COUNT(*) FILTER (WHERE event_type = 'click') AS x,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS y
        FROM events GROUP BY 1),
      bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
      frame AS (
        SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        FROM bounds),
      xy AS (
        SELECT DATE_DIFF('day', DATE '2024-01-01', f.d) AS di,
               COALESCE(x, 0) AS x, COALESCE(y, 0) AS y
        FROM frame f LEFT JOIN daily ON daily.d = f.d),
      l AS (SELECT UNNEST(RANGE(-3, 4)) AS lag),
      p AS (
        SELECT l.lag, a.x AS x, b.y AS y
        FROM l CROSS JOIN xy a
        JOIN xy b ON b.di = a.di + l.lag)
      SELECT CAST(lag AS BIGINT) AS lag,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS cov_num
      FROM p GROUP BY lag ORDER BY lag
    """)
  ) { t =>
    val daily = t.events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(when(col("event_type") === "click", 1)).as("x"),
        count(when(col("event_type") === "purchase", 1)).as("y"))
    val bounds = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val frame = bounds
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("d"))
    val xy = frame.join(daily, Seq("d"), "left")
      .select(datediff(col("d"), lit("2024-01-01")).cast(LongType).as("di"),
        coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val a = xy.select(col("di"), col("x"))
      .withColumn("lag", explode(array((-3 to 3).map(l => lit(l.toLong)): _*)))
    val b = xy.select(col("di").as("dib"), col("y"))
    a.join(b, col("dib") === col("di") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
      .select(col("lag").cast(LongType).as("lag"),
        col("n_days").cast(LongType).as("n_days"),
        col("sx").cast(LongType).as("sx"),
        col("sy").cast(LongType).as("sy"),
        col("sxy").cast(LongType).as("sxy"),
        (col("n_days") * col("sxy") - col("sx") * col("sy"))
          .cast(LongType).as("cov_num"))
      .orderBy(col("lag"))
  }

  val all: Seq[Q] = Seq(q93, q94, q95, q96, q97, q103, q105, q106, q109, q110,
    q128, q129, q132, q133, q135, q147, q149, q152, q154, q156, q161, q168,
    q171, q172, q181)
}
