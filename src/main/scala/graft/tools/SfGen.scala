package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder-owned synthetic-corpus generator for the SECOND scaling
  * decade (r13 verdict ask #4): the driver's largest provided SF is
  * sf0.1, so the sf0.1→sf1 slope needs data the builder generates
  * itself — same schema, same categorical values, same distribution
  * SHAPES as TESTDATA.md's tables (profiled, not copied: every value
  * here derives from this file's own splitmix stream, seed 4242 ≠ the
  * driver's 42), written to a separate directory so the read-only rule
  * on /root/testdata is untouched.
  *
  * Usage: `runMain graft.tools.SfGen <multiplier> <outDir>` —
  * multiplier 1.0 reproduces sf0.1's row counts (the decade's LOW end,
  * so both ends of the measured slope come from the SAME generator and
  * the ratio cancels any generator-vs-driver distribution drift);
  * multiplier 10.0 is the sf1-shaped HIGH end (6M lineitem rows).
  *
  * Every column is a pure function of (row id, column salt) through a
  * splitmix64 step — the generation plan is embarrassingly parallel
  * (spark.range partitions, no shuffle except the tiny dims), exactly
  * how a 100 TB synthetic corpus would be laid down on a cluster.
  */
object SfGen {

  /** splitmix64 of id ⊕ salt, as a Spark column expression over `id`. */
  private def mix(salt: Long): org.apache.spark.sql.Column = {
    val x = s"(CAST(id AS BIGINT) * 2654435761 + ${salt}L + 4242)"
    expr(
      s"""xxhash64($x)""")
  }

  /** Uniform double in [0, 1) from a mix column. */
  private def u01(salt: Long): org.apache.spark.sql.Column =
    (shiftrightunsigned(mix(salt), 11).cast("double") / lit((1L << 53).toDouble))

  /** Uniform long in [0, n) from a mix column. */
  private def uMod(salt: Long, n: Long): org.apache.spark.sql.Column =
    pmod(mix(salt), lit(n))

  def main(args: Array[String]): Unit = {
    val mult = args(0).toDouble
    val out = args(1)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def n(base: Long): Long = math.max(1L, (base * mult).toLong)
    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrders = n(150000); val nEvents = n(100000)
    val nDocs = n(5000); val nEmb = n(2000)
    val nUsers = n(1500)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[sfgen] $name done")
    }

    // dims: the same categorical VALUES the profiled tables carry (the
    // operators filter on literals like 'ASIA'/'BUILDING' — different
    // category spellings would void the filters and the timings)
    val regions = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST"))
    write(regions.toDF("r_regionkey", "r_name"), "region")
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY").map(lit): _*)
    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uMod(1, 25).cast("int").as("c_nationkey"),
      round(u01(2) * 10999.65 - 999.85, 2).as("c_acctbal"),
      element_at(segs, (uMod(3, 5) + 1).cast("int")).as("c_mktsegment")),
      "customer")

    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uMod(4, 25).cast("int").as("s_nationkey"),
      round(u01(5) * 10999.65 - 999.85, 2).as("s_acctbal")),
      "supplier")

    val adjs = array(Seq("large", "hot", "small", "cold", "dark",
      "light", "new", "old").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "wheel", "case", "drum",
      "plate", "tube", "cap").map(lit): _*)
    val types = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
      "SMALL", "STANDARD").map(lit): _*)
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(element_at(adjs, (uMod(6, 8) + 1).cast("int")), lit(" "),
        element_at(nouns, (uMod(7, 8) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), uMod(8, 25).cast("string")).as("p_brand"),
      element_at(types, (uMod(9, 6) + 1).cast("int")).as("p_type"),
      (uMod(10, 50) + 1).cast("int").as("p_size"),
      round(u01(11) * 99.9 + 900.0, 2).as("p_retailprice")),
      "part")

    val statuses = array(Seq("O", "P", "F").map(lit): _*)
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    // dates: uniform daily over the profiled 1995-01-01..2001-08-01 span
    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      uMod(12, nCust).as("o_custkey"),
      element_at(statuses, (uMod(13, 3) + 1).cast("int")).as("o_orderstatus"),
      round(u01(14) * 498991.27 + 1001.91, 2).as("o_totalprice"),
      (lit("1995-01-01").cast("timestamp") +
        make_dt_interval(uMod(15, 2405).cast("int"))).as("o_orderdate"),
      element_at(prios, (uMod(16, 5) + 1).cast("int")).as("o_orderpriority"))
    write(orders, "orders")

    // lineitem: 1..8 lines per order (the profiled ~4 mean), keys 1:1
    // with orders, shipdate = orderdate + 1..95 days
    val flags = array(Seq("A", "N", "R").map(lit): _*)
    val lstat = array(Seq("O", "F").map(lit): _*)
    val li = spark.range(nOrders).select(
      col("id"),
      explode(expr("sequence(1, 1 + CAST(pmod(xxhash64(CAST(id AS BIGINT)" +
        " * 2654435761 + 17 + 4242), 8) AS INT))")).as("l_linenumber"))
      .select(
        col("id").as("l_orderkey"),
        pmod(mix(18) + col("l_linenumber"), lit(nPart)).as("l_partkey"),
        pmod(mix(19) + col("l_linenumber") * 7, lit(nSupp)).as("l_suppkey"),
        col("l_linenumber").cast("int"),
        (pmod(mix(20) + col("l_linenumber") * 13, lit(50)) + 1)
          .cast("double").as("l_quantity"),
        round((shiftrightunsigned(mix(21) + col("l_linenumber") * 31, 11)
          .cast("double") / lit((1L << 53).toDouble)) * 104099.23 + 900.68, 2)
          .as("l_extendedprice"),
        (pmod(mix(22) + col("l_linenumber"), lit(11)).cast("double") / 100.0)
          .as("l_discount"),
        (pmod(mix(23) + col("l_linenumber"), lit(9)).cast("double") / 100.0)
          .as("l_tax"),
        element_at(flags, (pmod(mix(24) + col("l_linenumber"), lit(3)) + 1)
          .cast("int")).as("l_returnflag"),
        element_at(lstat, (pmod(mix(25) + col("l_linenumber"), lit(2)) + 1)
          .cast("int")).as("l_linestatus"),
        (lit("1995-01-01").cast("timestamp") + make_dt_interval(
          (uMod(15, 2405) + pmod(mix(26) + col("l_linenumber"), lit(95)) + 1)
            .cast("int"))).as("l_shipdate"))
    write(li, "lineitem")

    // events: 30 days of Jan 2024, 5 types, value 0..560, props {"k":N}
    val etypes = array(Seq("click", "error", "purchase", "signup",
      "view").map(lit): _*)
    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      (lit("2024-01-01").cast("timestamp") + make_dt_interval(
        lit(0), lit(0), lit(0),
        u01(27) * lit(30.0 * 86400))).as("ts"),
      uMod(28, nUsers).as("user_id"),
      element_at(etypes, (uMod(29, 5) + 1).cast("int")).as("event_type"),
      round(u01(30) * 560.21, 2).as("value"),
      format_string("{\"k\": %d}", uMod(31, 100)).as("props")),
      "events")

    // documents: 8..60 words, 5 langs (en-heavy), 20 sources, ~0.2%
    // exact-duplicate rate (the dedup family needs real dups) — a dup
    // row re-generates its victim's text from the victim's id, pure
    // function either way.
    //
    // Vocabulary SCALES with the corpus (Heaps' law, V ∝ n^0.55):
    // mult=1 keeps the profiled 31 words (decade continuity with the
    // driver corpus), mult=10 grows to ~110. The r14 decade-2
    // adjudication showed why the dial exists: with a FIXED 31-word
    // vocabulary, 10x the documents means ~100x the similar PAIRS and
    // ~900x the triangles — dedup_triangles' wall grew 16x while being
    // sub-linear in its own edge input. A real 10x corpus grows its
    // vocabulary and keeps near-dup density roughly stable; the
    // synthetic one must do the same or the high end measures the
    // generator, not the plan.
    val baseVocab = Seq("spark", "table", "query", "column", "row",
      "scan", "sort", "hash", "join", "group", "agg", "filter",
      "window", "stream", "batch", "merge", "data", "key", "value",
      "part", "order", "line", "fast", "slow", "big", "small", "a",
      "the", "vector", "index", "cache")
    val vocabSize = math.max(baseVocab.size,
      math.round(baseVocab.size * math.pow(mult, 0.55)).toInt)
    val vocab = baseVocab ++
      (baseVocab.size until vocabSize).map(k => s"w${k}x")
    val langs = array(Seq("en", "en", "en", "en", "zh", "es", "de",
      "fr").map(lit): _*)
    // words via an unrolled transform over a per-doc length sequence;
    // `idSql` is the SQL of the seeding id so a dup row can re-derive
    // its victim's text as the same pure function of the victim's id
    def textOf(idSql: String): org.apache.spark.sql.Column =
      expr(
        s"""array_join(transform(
             sequence(1, 8 + CAST(pmod(xxhash64(CAST($idSql AS BIGINT) * 2654435761 + 32 + 4242), 53) AS INT)),
             i -> element_at(array(${vocab.map("'" + _ + "'").mkString(",")}),
                    CAST(pmod(xxhash64(CAST($idSql AS BIGINT) * 131 + CAST(i AS BIGINT) * 2654435761 + 34), ${vocab.size}) + 1 AS INT))),
             ' ')""")
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      // 1 in 500 docs clones the text of doc id/2 (an exact dup pair)
      when(pmod(mix(35), lit(500)) === 0, textOf("FLOOR(id / 2)"))
        .otherwise(textOf("id")).as("text"),
      element_at(langs, (uMod(36, 8) + 1).cast("int")).as("lang"),
      concat(lit("src"), uMod(37, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    write(docs, "documents")

    // embeddings: 64-dim, 10 labels with a WEAK per-label center
    // (±0.02 pattern) under dominant noise — the PROFILED similarity
    // density: the driver corpus's intra-label mean cosine is ~0.001
    // (labels are nearly independent of direction), and an earlier
    // ±0.25 center gave 0.90 intra-label cosine, which made every
    // near-dup/LSH operator's candidate density wildly unrepresentative
    // (correlated bucket collisions that no plane count can split)
    val emb = spark.range(nEmb).select(
      col("id").as("vec_id"),
      uMod(38, 10).cast("int").as("label"))
      .withColumn("embedding", expr(
        """transform(sequence(0, 63), d ->
             CAST(CASE WHEN pmod(xxhash64(CAST(label AS BIGINT) * 7919 + CAST(d AS BIGINT)), 4) = 0
                       THEN 0.02 WHEN pmod(xxhash64(CAST(label AS BIGINT) * 7919 + CAST(d AS BIGINT)), 4) = 1
                       THEN -0.02 ELSE 0.0 END
               + (CAST(shiftrightunsigned(xxhash64(CAST(vec_id AS BIGINT) * 2654435761 + CAST(d AS BIGINT) * 911 + 4242), 11) AS DOUBLE) / 9007199254740992.0 - 0.5) * 0.2
               AS FLOAT))"""))
      .select(col("vec_id"), col("embedding"), col("label"))
    write(emb, "embeddings")

    spark.stop()
  }
}
