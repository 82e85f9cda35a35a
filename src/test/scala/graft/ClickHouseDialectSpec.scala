package graft

import graft.functions.ClickHouseDialect
import org.apache.spark.sql.functions._

/** ClickHouse SQL text running unchanged on graft sessions. */
class ClickHouseDialectSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    ClickHouseDialect.register(spark)
    sf0001.orders.createOrReplaceTempView("orders_v")
  }

  /** Drop a leftover catalog object of either type (the warehouse dir
    * persists across test runs, and a name may be a view one run and a
    * table the next) plus its warehouse directory.
    */
  private def dropAnyType(name: String): Unit = {
    if (spark.catalog.tableExists(name)) {
      val isView = spark.catalog.getTable(name).tableType == "VIEW"
      spark.sql(s"DROP ${if (isView) "VIEW" else "TABLE"} $name")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), name))
  }

  test("countIf/sumIf/argMax/quantileExact from SQL text") {
    val r = spark.sql("""
      SELECT countIf(o_orderstatus = 'F') AS nf,
             sumIf(o_totalprice, o_totalprice > 400000) AS big,
             argMax(o_orderkey, o_totalprice) AS best,
             quantileExact(0.5, o_totalprice) AS med,
             uniqExact(o_custkey) AS uc
      FROM orders_v
    """).head()
    val exp = sf0001.orders.agg(
      count(when(col("o_orderstatus") === "F", 1)),
      sum(when(col("o_totalprice") > 400000, col("o_totalprice"))),
      max_by(col("o_orderkey"), col("o_totalprice")),
      percentile(col("o_totalprice"), lit(0.5)),
      countDistinct(col("o_custkey"))).head()
    assert(r.getLong(0) === exp.getLong(0))
    // double sums are partition-order dependent — relative tolerance
    assert(math.abs(r.getDouble(1) - exp.getDouble(1)) / exp.getDouble(1) < 1e-12)
    assert(r.getLong(2) === exp.getLong(2))
    assert(r.getDouble(3) === exp.getDouble(3))
    assert(r.getLong(4) === exp.getLong(4))
  }

  test("uniq approximates, groupArray collects, toStartOfMonth truncates") {
    val r = spark.sql("""
      SELECT uniq(o_custkey) AS u,
             size(groupArray(o_orderkey)) AS n,
             toStartOfMonth(MIN(o_orderdate)) AS m
      FROM orders_v
    """).head()
    val exact = sf0001.orders.select(countDistinct(col("o_custkey"))).head().getLong(0)
    assert(math.abs(r.getLong(0) - exact).toDouble / exact < 0.05)
    assert(r.getInt(1).toLong === sf0001.orders.count())
    assert(r.getTimestamp(2).toString.endsWith("-01 00:00:00.0"))
  }

  test("arrayJoin explodes in SQL") {
    val n = spark.sql("SELECT arrayJoin(array(1, 2, 3)) AS x").count()
    assert(n === 3)
  }

  test("statistics, conditional, and date scalar names from SQL text") {
    val r = spark.sql("""
      SELECT ROUND(stddevPop(o_totalprice), 4) AS sp,
             ROUND(varSamp(o_totalprice), 4) AS vs,
             multiIf(MIN(o_totalprice) > 1e9, 'huge', MIN(o_totalprice) > 0, 'pos', 'neg') AS m,
             toYear(MIN(o_orderdate)) AS y,
             toDayOfWeek(DATE'2024-01-03') AS dow_wed,
             toDayOfWeek(DATE'2024-01-07') AS dow_sun,
             toYYYYMMDD(DATE'2024-01-03') AS ymd
      FROM orders_v
    """).head()
    val exp = sf0001.orders.agg(
      round(stddev_pop(col("o_totalprice")), 4),
      round(var_samp(col("o_totalprice")), 4)).head()
    assert(r.getDouble(0) === exp.getDouble(0))
    assert(r.getDouble(1) === exp.getDouble(1))
    assert(r.getString(2) === "pos")
    assert(r.getInt(3) >= 1992)
    // ClickHouse ISO numbering: Monday=1 … Sunday=7
    assert(r.getInt(4) === 3 && r.getInt(5) === 7)
    assert(r.getString(6) === "20240103")
  }

  test("string and array scalar names from SQL text") {
    val r = spark.sql("""
      SELECT replaceAll('a-b-c', '-', '+') AS rep,
             replaceRegexpAll('a1b22c', '[0-9]+', '#') AS rrep,
             match('graft-engine', 'gr.ft') AS m,
             startsWith('spark', 'sp') AS sw,
             positionCaseInsensitive('Hello World', 'world') AS pos,
             splitByString('--', 'a--b--c') AS parts,
             arrayElement(array(10, 20, 30), 2) AS el,
             indexOf(array('x', 'y'), 'y') AS idx,
             arraySlice(array(1, 2, 3, 4), 2, 2) AS sl,
             arrayDistinct(array(1, 1, 2)) AS dist,
             empty(array()) AS e, notEmpty(array(1)) AS ne
    """).head()
    assert(r.getString(0) === "a+b+c")
    assert(r.getString(1) === "a#b#c")
    assert(r.getBoolean(2) && r.getBoolean(3))
    assert(r.getInt(4) === 7)
    assert(r.getSeq[String](5) === Seq("a", "b", "c"))
    assert(r.getInt(6) === 20)
    assert(r.getLong(7) === 2L)
    assert(r.getSeq[Int](8) === Seq(2, 3))
    assert(r.getSeq[Int](9) === Seq(1, 2))
    assert(r.getBoolean(10) && r.getBoolean(11))
  }

  test("null combinators, casts, membership, padding, arithmetic names") {
    // ifNull/nullIf resolve to Spark's same-semantics builtins — the
    // dialect deliberately does not shadow builtin names.
    val r = spark.sql("""
      SELECT ifNull(NULL, 7) AS ifn,
             nullIf(3, 3) AS nif,
             toDate('2024-05-06') AS d,
             toInt64('42') AS i,
             toFloat64('2.5') AS f,
             toString(99) AS s,
             bitCount(7) AS bc,
             toDayOfYear(DATE'2024-02-01') AS doy,
             toQuarter(DATE'2024-05-06') AS q,
             has(array(1, 2), 2) AS h,
             hasAny(array(1, 2), array(2, 9)) AS ha,
             hasAll(array(1, 2, 3), array(1, 3)) AS hall,
             arrayMax(array(4, 9, 1)) AS amax,
             arrayMin(array(4, 9, 1)) AS amin,
             locate('ll', 'Hello') AS pos,
             leftPad('7', 3, '0') AS lp,
             rightPad('7', 3, 'x') AS rp,
             plus(2, 3) AS pl, minus(5, 2) AS mi,
             multiply(4, 3) AS mu, divide(9, 2) AS dv
    """).head()
    assert(r.getInt(0) === 7)
    assert(r.isNullAt(1))
    assert(r.getDate(2).toString === "2024-05-06")
    assert(r.getLong(3) === 42L)
    assert(r.getDouble(4) === 2.5)
    assert(r.getString(5) === "99")
    assert(r.getInt(6) === 3)
    assert(r.getInt(7) === 32)
    assert(r.getInt(8) === 2)
    assert(r.getBoolean(9) && r.getBoolean(10) && r.getBoolean(11))
    assert(r.getInt(12) === 9 && r.getInt(13) === 1)
    assert(r.getInt(14) === 3)
    assert(r.getString(15) === "007" && r.getString(16) === "7xx")
    assert(r.getInt(17) === 5 && r.getInt(18) === 3 && r.getInt(19) === 12)
    assert(r.getDouble(20) === 4.5)
  }

  test("second-batch temporal, string, and array names from SQL text") {
    // 2024-01-03 is a Wednesday: CH mode-0 week starts Sunday 2023-12-31
    val r = spark.sql("""
      SELECT CAST(toStartOfWeek(DATE'2024-01-03') AS STRING) AS sow,
             CAST(toMonday(DATE'2024-01-03') AS STRING) AS mon,
             toISOWeek(DATE'2024-01-03') AS isow,
             dateDiff(day, DATE'2024-01-01', DATE'2024-01-31') AS dd,
             concatWithSeparator('-', 'a', 'b', 'c') AS cws,
             arrayStringConcat(array('x', 'y'), ',') AS asc_,
             splitByChar('|', 'a|b|c') AS sbc,
             extractAll('a1b22c', '[0-9]+') AS exa,
             base64Encode('hi') AS b64,
             repeat('ab', 3) AS rpt
    """).head()
    assert(r.getAs[String]("sow") === "2023-12-31")
    assert(r.getAs[String]("mon") === "2024-01-01")
    assert(r.getAs[Int]("isow") === 1)
    assert(r.getAs[Int]("dd") === 30)
    assert(r.getAs[String]("cws") === "a-b-c")
    assert(r.getAs[String]("asc_") === "x,y")
    assert(r.getSeq[String](r.fieldIndex("sbc")) === Seq("a", "b", "c"))
    assert(r.getSeq[String](r.fieldIndex("exa")) === Seq("1", "22"))
    assert(r.getAs[String]("b64") === "aGk=")
    assert(r.getAs[String]("rpt") === "ababab")
    val a = spark.sql("""
      SELECT arrayCount(x -> x > 1, array(1, 2, 3)) AS ac,
             arrayExists(x -> x = 2, array(1, 2)) AS ae,
             arrayAll(x -> x > 0, array(1, 2)) AS aa,
             arrayFilter(x -> x % 2 = 0, array(1, 2, 3, 4)) AS af,
             arrayMap(x -> x * 10, array(1, 2)) AS am,
             arraySum(array(1, 2, 3)) AS asum,
             arrayAvg(array(2, 4)) AS aavg,
             arrayCompact(array(1, 1, 2, 2, 1)) AS acomp,
             arrayFlatten(array(array(1), array(2, 3))) AS afl,
             arrayPushBack(array(1), 2) AS apb,
             arrayPopBack(array(1, 2, 3)) AS apo,
             countEqual(array(1, 2, 1), 1) AS ce
    """).head()
    assert(a.getAs[Int]("ac") === 2)
    assert(a.getAs[Boolean]("ae") === true)
    assert(a.getAs[Boolean]("aa") === true)
    assert(a.getSeq[Int](a.fieldIndex("af")) === Seq(2, 4))
    assert(a.getSeq[Int](a.fieldIndex("am")) === Seq(10, 20))
    assert(a.getAs[Long]("asum") === 6L)
    assert(a.getAs[Double]("aavg") === 3.0)
    // CH arrayCompact: CONSECUTIVE dedup — the trailing 1 survives
    assert(a.getSeq[Int](a.fieldIndex("acomp")) === Seq(1, 2, 1))
    assert(a.getSeq[Int](a.fieldIndex("afl")) === Seq(1, 2, 3))
    assert(a.getSeq[Int](a.fieldIndex("apb")) === Seq(1, 2))
    assert(a.getSeq[Int](a.fieldIndex("apo")) === Seq(1, 2))
    assert(a.getAs[Int]("ce") === 2)
  }

  test("anyLast picks a value from SQL text") {
    val r = spark.sql(
      "SELECT anyLast(x) AS al FROM VALUES (1), (2), (3) AS t(x)").head()
    assert(Set(1, 2, 3).contains(r.getInt(0)))
  }

  // ------------------------------------------------ SQL-text FINAL/PREWHERE

  import graft.functions.ClickHouseSql
  import graft.functions.ClickHouseSql.{Collapsing, Replacing, Summing}

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("FROM events FINAL (ReplacingMergeTree) matches the q59 operator") {
    sf0001.events.createOrReplaceTempView("events_ch")
    ClickHouseSql.registerEngine("events_ch",
      Replacing(Seq("user_id", "event_type"), Seq("ts", "event_id")))
    val got = ClickHouseSql.sql(spark, """
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(event_id) AS BIGINT) AS id_checksum,
             CAST(SUM(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS total_value
      FROM events_ch FINAL
      GROUP BY event_type
      ORDER BY event_type
    """)
    assert(rows(got) === rows(graft.operators.MergeTree.replacing.build(sf0001)))
  }

  test("FROM signed FINAL (CollapsingMergeTree) matches the q60 operator") {
    sf0001.events.selectExpr("user_id", "event_type", "event_id", "value",
      "ts", "CASE WHEN event_id % 3 = 0 THEN -1 ELSE 1 END AS sign")
      .createOrReplaceTempView("signed_ch")
    ClickHouseSql.registerEngine("signed_ch",
      Collapsing(Seq("user_id", "event_type"), "sign", Seq("ts", "event_id")))
    val got = ClickHouseSql.sql(spark, """
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(event_id) AS BIGINT) AS id_checksum,
             CAST(SUM(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS total_value
      FROM signed_ch FINAL
      GROUP BY event_type
      ORDER BY event_type
    """)
    assert(rows(got) === rows(graft.operators.MergeTree.collapsing.build(sf0001)))
  }

  test("FROM counters FINAL (SummingMergeTree) matches the q62 operator") {
    sf0001.events.selectExpr("user_id", "event_type",
      "CAST(value AS DECIMAL(18, 2)) AS value_sum", "1L AS n_merged")
      .createOrReplaceTempView("counters_ch")
    ClickHouseSql.registerEngine("counters_ch",
      Summing(Seq("user_id", "event_type"), Seq("value_sum", "n_merged")))
    val got = ClickHouseSql.sql(spark, """
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(n_merged) AS BIGINT) AS n_source_rows,
             CAST(SUM(value_sum) AS DOUBLE) AS total_value,
             CAST(MAX(n_merged) AS BIGINT) AS max_merged
      FROM counters_ch FINAL
      GROUP BY event_type
      ORDER BY event_type
    """)
    assert(rows(got) === rows(graft.operators.MergeTree.summing.build(sf0001)))
  }

  test("PREWHERE folds into WHERE (alone and AND-combined)") {
    sf0001.lineitem.createOrReplaceTempView("lineitem_ch")
    val alone = ClickHouseSql.sql(spark,
      "SELECT COUNT(*) AS n FROM lineitem_ch PREWHERE l_quantity < 10")
    val ansiAlone = spark.sql(
      "SELECT COUNT(*) AS n FROM lineitem_ch WHERE l_quantity < 10")
    assert(alone.head().getLong(0) === ansiAlone.head().getLong(0))
    val combined = ClickHouseSql.sql(spark, """
      SELECT COUNT(*) AS n FROM lineitem_ch
      PREWHERE l_quantity < 10 WHERE l_discount > 0.01""")
    val ansi = spark.sql("""
      SELECT COUNT(*) AS n FROM lineitem_ch
      WHERE l_quantity < 10 AND l_discount > 0.01""")
    assert(combined.head().getLong(0) === ansi.head().getLong(0))
    assert(combined.head().getLong(0) < alone.head().getLong(0))
  }

  test("FINAL on an engine-less table keeps its ANSI alias reading") {
    sf0001.orders.createOrReplaceTempView("plain_orders")
    val r = ClickHouseSql.sql(spark,
      "SELECT COUNT(*) AS n FROM plain_orders final WHERE final.o_orderkey > 0")
    assert(r.head().getLong(0) ===
      sf0001.orders.filter(col("o_orderkey") > 0).count())
  }

  test("rewrite is text-identical for standard SQL and literal-safe") {
    def cols(t: String): Seq[String] = Seq("a", "b")
    val plain = "SELECT 'FINAL PREWHERE', a FROM t WHERE b > 0 -- final"
    assert(ClickHouseSql.rewrite(plain, cols) === plain)
    val noTrigger = "SELECT sum(a) AS total FROM t GROUP BY b"
    assert(ClickHouseSql.rewrite(noTrigger, cols) === noTrigger)
  }

  test("plain spark.sql accepts FINAL+PREWHERE via the injected parser") {
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
    try {
      // new session over the same context, with GraftExtensions applied
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      // the extension alone resolves every graft_* function, before any
      // Tables constructor registers them on the session
      Seq("graft_simhash64", "graft_minhash", "graft_shingles", "graft_bigrams",
        "graft_fingerprint", "graft_wordhashes", "graft_bitlanes", "graft_winhash",
        "graft_shingle_charfold", "graft_cos", "graft_dist2", "graft_dot",
        "graft_crossmom", "graft_unigram_seg").foreach { n =>
        assert(s2.sql(s"DESCRIBE FUNCTION $n").collect().mkString.contains(n), n)
      }
      Tables(s2, "/root/testdata/sf0.001").events
        .createOrReplaceTempView("events_e2e")
      ClickHouseSql.registerEngine("events_e2e",
        Replacing(Seq("user_id", "event_type"), Seq("ts", "event_id")))
      val got = s2.sql("""
        SELECT COUNT(*) AS n FROM events_e2e FINAL PREWHERE user_id % 2 = 0
      """).head().getLong(0)
      val exp = sf0001.events.filter(col("user_id") % 2 === 0)
        .select(col("user_id"), col("event_type")).distinct().count()
      assert(got === exp)
    } finally {
      SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("ARRAY JOIN explodes: aliased expression and bare-column replacement") {
    spark.sql("SELECT 1 AS id, array(10, 20) AS xs UNION ALL SELECT 2, array(30)")
      .createOrReplaceTempView("aj_t")
    // aliased form: new column beside the row
    val aliased = ClickHouseSql.sql(spark,
      "SELECT id, x FROM aj_t ARRAY JOIN xs AS x ORDER BY id, x")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(aliased === Seq((1, 10), (1, 20), (2, 30)))
    // bare column: ClickHouse REPLACES xs with its elements
    val bare = ClickHouseSql.sql(spark,
      "SELECT id, xs FROM aj_t ARRAY JOIN xs ORDER BY id, xs")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(bare === Seq((1, 10), (1, 20), (2, 30)))
    // LEFT ARRAY JOIN keeps empty-array rows with NULL
    spark.sql("SELECT 1 AS id, array(10) AS xs UNION ALL SELECT 2, array()")
      .createOrReplaceTempView("aj_e")
    val left = ClickHouseSql.sql(spark,
      "SELECT id, x FROM aj_e LEFT ARRAY JOIN xs AS x ORDER BY id")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
    assert(left === Seq((1, 10), (2, -1)))
    // lockstep multi-array iteration is unsupported — loud, not wrong
    assertThrows[IllegalArgumentException](ClickHouseSql.rewrite(
      "SELECT 1 FROM t ARRAY JOIN a, b", _ => Seq("a", "b")))
  }

  test("LIMIT n BY keeps the first n rows per group") {
    sf0001.orders.createOrReplaceTempView("lb_orders")
    val got = ClickHouseSql.sql(spark, """
      SELECT o_custkey, o_orderkey, o_totalprice FROM lb_orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2 BY o_custkey""")
    // equivalent window formulation
    val exp = spark.sql("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM lb_orders) WHERE rn <= 2
      ORDER BY o_totalprice DESC, o_orderkey""")
    assert(got.columns.toSeq === Seq("o_custkey", "o_orderkey", "o_totalprice"))
    assert(got.collect().map(_.toSeq).toSeq === exp.collect().map(_.toSeq).toSeq)
    // trailing plain LIMIT applies after the per-group cap
    val capped = ClickHouseSql.sql(spark, """
      SELECT o_custkey, o_orderkey FROM lb_orders
      ORDER BY o_orderkey LIMIT 1 BY o_custkey LIMIT 5""")
    assert(capped.count() === 5)
  }

  test("LIMIT o, n BY and LIMIT n OFFSET o BY skip then take per group") {
    sf0001.orders.createOrReplaceTempView("lbo_orders")
    val exp = spark.sql("""
      SELECT o_custkey, o_orderkey FROM (
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderkey) AS rn
        FROM lbo_orders) WHERE rn > 1 AND rn <= 3
      ORDER BY o_orderkey""").collect().map(_.toSeq).toSeq
    assert(exp.nonEmpty)
    for (form <- Seq("LIMIT 1, 2 BY o_custkey", "LIMIT 2 OFFSET 1 BY o_custkey")) {
      val got = ClickHouseSql.sql(spark, s"""
        SELECT o_custkey, o_orderkey FROM lbo_orders
        ORDER BY o_orderkey $form""")
      assert(got.columns.toSeq === Seq("o_custkey", "o_orderkey"))
      assert(got.collect().map(_.toSeq).toSeq === exp, form)
    }
  }

  test("GROUP BY ... WITH ROLLUP / WITH CUBE add subtotal levels") {
    val rollup = ClickHouseSql.sql(spark, """
      SELECT o_orderstatus, o_orderpriority, count() AS n FROM orders_v
      GROUP BY o_orderstatus, o_orderpriority WITH ROLLUP""")
    val expRollup = spark.sql("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders_v
      GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""")
    assert(rollup.collect().map(_.toSeq).toSet ===
      expRollup.collect().map(_.toSeq).toSet)
    // the grand-total row is present with NULL keys (group_by_use_nulls)
    assert(rollup.where("o_orderstatus IS NULL AND o_orderpriority IS NULL")
      .count() === 1)
    val cube = ClickHouseSql.sql(spark, """
      SELECT o_orderstatus, o_orderpriority, count() AS n FROM orders_v
      GROUP BY o_orderstatus, o_orderpriority WITH CUBE""")
    val expCube = spark.sql("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders_v
      GROUP BY CUBE(o_orderstatus, o_orderpriority)""")
    assert(cube.collect().map(_.toSeq).toSet ===
      expCube.collect().map(_.toSeq).toSet)
    // CUBE adds the (NULL, priority) slices ROLLUP lacks
    assert(cube.count() > rollup.count())
  }

  test("ORDER BY ... COLLATE sorts locale-aware, case-insensitively") {
    spark.sql("""SELECT * FROM VALUES ('apple'), ('Banana'), ('cherry'),
      ('Apricot') AS t(w)""").createOrReplaceTempView("collate_t")
    // binary order puts the capitals first; CH COLLATE 'en' interleaves
    val got = ClickHouseSql.sql(spark,
      "SELECT w FROM collate_t ORDER BY w COLLATE 'en'")
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("apple", "Apricot", "Banana", "cherry"))
    // DESC stays outside the collate() wrapper
    val desc = ClickHouseSql.sql(spark,
      "SELECT w FROM collate_t ORDER BY w COLLATE 'en' DESC")
      .collect().map(_.getString(0)).toSeq
    assert(desc === got.reverse)
    // a later list entry keeps its own ordering direction
    val two = ClickHouseSql.sql(spark, """
      SELECT w, length(w) AS l FROM collate_t
      ORDER BY length(w) DESC, w COLLATE 'en'""")
      .collect().map(_.getString(0)).toSeq
    assert(two === Seq("Apricot", "Banana", "cherry", "apple"))
  }

  test("SAMPLE rewrites to deterministic TABLESAMPLE") {
    sf0001.lineitem.createOrReplaceTempView("smp_li")
    val total = sf0001.lineitem.count()
    val frac = ClickHouseSql.sql(spark,
      "SELECT COUNT(*) AS n FROM smp_li SAMPLE 0.2").head().getLong(0)
    assert(frac > 0 && frac < total, s"$frac of $total")
    // deterministic: same seed, same count
    val again = ClickHouseSql.sql(spark,
      "SELECT COUNT(*) AS n FROM smp_li SAMPLE 0.2").head().getLong(0)
    assert(frac === again)
    val rows = ClickHouseSql.sql(spark,
      "SELECT COUNT(*) AS n FROM smp_li SAMPLE 100").head().getLong(0)
    assert(rows === 100)
  }

  test("FINAL inside a subquery and with an alias rewrites correctly") {
    sf0001.events.createOrReplaceTempView("events_ch2")
    ClickHouseSql.registerEngine("events_ch2",
      Replacing(Seq("user_id", "event_type"), Seq("ts", "event_id")))
    val got = ClickHouseSql.sql(spark, """
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM (
        SELECT COUNT(*) AS n FROM events_ch2 AS e FINAL GROUP BY e.event_type)
    """).head().getLong(0)
    val exp = sf0001.events
      .select(col("user_id"), col("event_type")).distinct().count()
    assert(got === exp)
  }

  test("SETTINGS and FORMAT clauses are erased; GLOBAL join runs") {
    def cols(t: String): Seq[String] = Seq("a", "b")
    // trailing engine knobs + output format, both together and alone
    assert(ClickHouseSql.rewrite(
      "SELECT a FROM t SETTINGS max_threads = 4, join_algorithm = 'hash'",
      cols).trim === "SELECT a FROM t")
    assert(ClickHouseSql.rewrite(
      "SELECT a FROM t FORMAT JSONEachRow", cols).trim === "SELECT a FROM t")
    assert(ClickHouseSql.rewrite(
      "SELECT a FROM t WHERE b = 'x' SETTINGS max_threads = 1 FORMAT Pretty;",
      cols).replaceAll("\\s+", " ").trim === "SELECT a FROM t WHERE b = 'x' ;")
    // a table literally named `format` keeps its ANSI reading
    val tableNamedFormat = "SELECT a FROM format f"
    assert(ClickHouseSql.rewrite(tableNamedFormat, cols) === tableNamedFormat)
    // GLOBAL is a CH distribution hint — erased, Spark plans the join
    sf0001.orders.createOrReplaceTempView("glb_o")
    sf0001.customer.createOrReplaceTempView("glb_c")
    val got = ClickHouseSql.sql(spark, """
      SELECT COUNT(*) AS n FROM glb_o o
      GLOBAL INNER JOIN glb_c c ON o.o_custkey = c.c_custkey
      SETTINGS max_threads = 8""").head().getLong(0)
    val exp = sf0001.orders.join(sf0001.customer,
      col("o_custkey") === col("c_custkey")).count()
    assert(got === exp)
    // the full migration shape: every clause in one query
    val e2e = ClickHouseSql.sql(spark, """
      SELECT o_orderstatus, COUNT(*) AS n FROM glb_o
      GLOBAL LEFT JOIN glb_c ON o_custkey = c_custkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus
      LIMIT 1 BY o_orderstatus
      SETTINGS join_algorithm = 'partial_merge' FORMAT TabSeparated""")
    assert(e2e.count() === sf0001.orders
      .select(col("o_orderstatus")).distinct().count())
  }

  test("star modifiers: parenless EXCEPT, REPLACE in place, and both combined") {
    import spark.implicits._
    Seq((1, "x", 10.0), (2, "y", 20.0)).toDF("id", "name", "price")
      .createOrReplaceTempView("star_t")
    // parenless single-column EXCEPT → Spark-native parenthesized form
    val ex = ClickHouseSql.sql(spark, "SELECT * EXCEPT name FROM star_t")
    assert(ex.columns.toSeq === Seq("id", "price"))
    // REPLACE keeps the column's position and name
    val rp = ClickHouseSql.sql(spark,
      "SELECT * REPLACE (price * 2 AS price) FROM star_t ORDER BY id")
    assert(rp.columns.toSeq === Seq("id", "name", "price"))
    assert(rp.select("price").as[Double].collect().toSeq === Seq(20.0, 40.0))
    // EXCEPT (…) REPLACE (…) combined
    val both = ClickHouseSql.sql(spark,
      "SELECT * EXCEPT (name) REPLACE (upper(name) AS name) FROM star_t")
      .columns.toSeq
    assert(both === Seq("id", "price"))
    // multiplication by a function named replace is untouched
    val mul = "SELECT price * replace(name, 'x', 'y') AS z FROM star_t"
    assert(ClickHouseSql.rewrite(mul, _ => Seq("id", "name", "price")) === mul)
    // REPLACE over a join fails loudly instead of guessing a schema
    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.rewrite(
        "SELECT * REPLACE (a AS b) FROM t JOIN u ON t.k = u.k",
        _ => Seq("a", "b"))
    }
    assert(err.getMessage.contains("join"))
  }

  test("ANY JOIN dedups the right side to one deterministic row per key") {
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "lv")
      .createOrReplaceTempView("any_l")
    // key 1 has two candidate rows; lexicographically-least row wins
    Seq((1, "r2"), (1, "r1"), (2, "s1")).toDF("k", "rv")
      .createOrReplaceTempView("any_r")
    val left = ClickHouseSql.sql(spark, """
      SELECT k, lv, rv FROM any_l LEFT ANY JOIN any_r USING (k) ORDER BY k""")
      .collect()
    assert(left.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    assert(left.map(r => Option(r.getString(2))).toSeq ===
      Seq(Some("r1"), Some("s1"), None))
    // inner form: only matching keys, still one row each
    val inner = ClickHouseSql.sql(spark, """
      SELECT k, rv FROM any_l ANY JOIN any_r USING (k) ORDER BY k""").collect()
    assert(inner.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "r1"), (2, "s1")))
    // ON-form ANY join is rejected loudly
    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.rewrite("SELECT * FROM a ANY JOIN b ON a.k = b.k",
        _ => Seq("k"))
    }
    assert(err.getMessage.contains("USING"))
  }

  test("third-batch names: JSON extraction, temporal, bits, arrays, formats") {
    val r = spark.sql("""
      SELECT JSONExtractString('{"a":{"b":"x"},"arr":[10,20]}', 'a', 'b') AS js,
             JSONExtractInt('{"arr":[10,20]}', 'arr', 2) AS ji,
             JSONHas('{"a":1}', 'b') AS jh,
             addWeeks(DATE'2024-01-01', 2) AS aw,
             addMinutes(TIMESTAMP'2024-01-01 00:00:00', 90) AS am,
             subtractSeconds(TIMESTAMP'2024-01-01 00:01:00', 30) AS ss,
             toYYYYMMDDhhmmss(TIMESTAMP'2024-01-02 03:04:05') AS ymdhms,
             formatDateTime(TIMESTAMP'2024-03-05 07:08:09', '%Y-%m-%d %H:%i:%S') AS fdt,
             bitAnd(12, 10) AS ba, bitShiftLeft(1, 6) AS bsl,
             range(5) AS r5, range(2, 9, 3) AS r23,
             arrayEnumerate(array('a','b','c')) AS en,
             arrayUniq(array(1, 2, 2, 3)) AS au,
             countSubstrings('abcabcab', 'ab') AS cs,
             positionUTF8('hello world', 'world') AS pos
    """).head()
    assert(r.getAs[String]("js") === "x")
    assert(r.getAs[Long]("ji") === 20L) // CH array indexing is 1-based
    assert(r.getAs[Boolean]("jh") === false)
    assert(r.getAs[java.sql.Date]("aw").toString === "2024-01-15")
    assert(r.getAs[java.sql.Timestamp]("am").toString === "2024-01-01 01:30:00.0")
    assert(r.getAs[java.sql.Timestamp]("ss").toString === "2024-01-01 00:00:30.0")
    assert(r.getAs[String]("ymdhms") === "20240102030405")
    assert(r.getAs[String]("fdt") === "2024-03-05 07:08:09")
    assert(r.getAs[Int]("ba") === 8 && r.getAs[Int]("bsl") === 64)
    assert(r.getAs[Seq[Long]]("r5") === Seq(0L, 1L, 2L, 3L, 4L))
    assert(r.getAs[Seq[Int]]("r23") === Seq(2, 5, 8)) // end-exclusive
    assert(r.getAs[Seq[Int]]("en") === Seq(1, 2, 3))
    assert(r.getAs[Int]("au") === 3)
    assert(r.getAs[Int]("cs") === 3)
    assert(r.getAs[Int]("pos") === 7)
    // grouped bit aggregates + aggregate aliases over a real table
    val agg = spark.sql("""
      SELECT groupBitOr(o_orderkey) AS bo, groupBitAnd(o_orderkey) AS ba,
             anyHeavy(o_orderstatus) AS ah, uniqCombined(o_custkey) AS uc
      FROM orders_v""").head()
    assert(agg.getAs[Long]("bo") > 0)
    assert(Set("F", "O", "P").contains(agg.getAs[String]("ah")))
    val exact = sf0001.orders.select(countDistinct(col("o_custkey"))).head().getLong(0)
    assert(math.abs(agg.getAs[Long]("uc") - exact).toDouble / exact < 0.05)
  }

  test("lagInFrame/leadInFrame navigate window frames from SQL text") {
    val rows = spark.sql("""
      SELECT o_orderkey,
             lagInFrame(o_orderkey) OVER (ORDER BY o_orderkey) AS prev,
             leadInFrame(o_orderkey, 2, -1) OVER (ORDER BY o_orderkey) AS nxt2
      FROM orders_v ORDER BY o_orderkey LIMIT 3""").collect()
    assert(rows.head.isNullAt(1))
    assert(rows(1).getLong(1) === rows.head.getLong(0))
    assert(rows.head.getLong(2) === rows(2).getLong(0))
  }

  test("GROUP BY WITH TOTALS appends exactly one all-NULL summary row") {
    val rows = ClickHouseSql.sql(spark, """
      SELECT o_orderstatus, COUNT(*) AS n FROM orders_v
      GROUP BY o_orderstatus WITH TOTALS""").collect()
    val totals = rows.filter(_.isNullAt(0))
    assert(totals.length === 1)
    assert(totals.head.getLong(1) === sf0001.orders.count())
    // detail rows sum to the totals row (GROUPING SETS, not ROLLUP)
    assert(rows.filterNot(_.isNullAt(0)).map(_.getLong(1)).sum ===
      totals.head.getLong(1))
    // multi-key: still exactly ONE extra row (rollup would add partials)
    val multi = ClickHouseSql.sql(spark, """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM orders_v
      GROUP BY o_orderstatus, o_orderpriority WITH TOTALS""").collect()
    val detail = sf0001.orders
      .groupBy(col("o_orderstatus"), col("o_orderpriority")).count().count()
    assert(multi.length.toLong === detail + 1)
  }

  test("-Distinct/-OrNull/-Array combinators lower to faithful ANSI forms") {
    // -Distinct → agg(DISTINCT …); -OrNull drops (Spark's empty-group
    // NULL IS the -OrNull contract) except countOrNull → nullif
    val d = ClickHouseSql.sql(spark, """
      SELECT sumOrNull(o_totalprice) AS s0,
             countOrNull(o_orderkey) AS c0
      FROM orders_v WHERE o_orderkey < 0""").head()
    assert(d.isNullAt(0)) // no rows → NULL, CH's sumOrNull
    assert(d.isNullAt(1)) // countOrNull: 0 → NULL
    val d2 = ClickHouseSql.sql(spark, """
      SELECT sumDistinct(o_custkey) AS sd,
             avgDistinct(o_custkey) AS ad,
             countDistinct(o_orderstatus) AS cd
      FROM orders_v""").head()
    val custs = sf0001.orders.select(col("o_custkey")).distinct()
      .agg(org.apache.spark.sql.functions.sum(col("o_custkey")),
        org.apache.spark.sql.functions.avg(col("o_custkey"))).head()
    assert(d2.getLong(0) === custs.getLong(0))
    assert(d2.getDouble(1) === custs.getDouble(1))
    assert(d2.getLong(2) === sf0001.orders
      .select(col("o_orderstatus")).distinct().count())

    // -Array: per-row fold + combine over array columns
    import spark.implicits._
    Seq((1L, Seq(1.0, 2.0)), (1L, Seq(3.0)), (2L, Seq.empty[Double]))
      .toDF("k", "xs").createOrReplaceTempView("arr_v")
    val a = ClickHouseSql.sql(spark, """
      SELECT k, sumArray(xs) AS s, countArray(xs) AS n,
             minArray(xs) AS mn, maxArray(xs) AS mx,
             avgArray(xs) AS av, groupArrayArray(xs) AS flat
      FROM arr_v GROUP BY k ORDER BY k""").collect()
    assert(a(0).getDouble(1) === 6.0)
    assert(a(0).getLong(2) === 3L)
    assert(a(0).getDouble(3) === 1.0 && a(0).getDouble(4) === 3.0)
    assert(a(0).getDouble(5) === 2.0)
    assert(a(0).getSeq[Double](6).sorted === Seq(1.0, 2.0, 3.0))
    assert(a(1).getLong(2) === 0L) // empty arrays count 0 elements
    spark.catalog.dropTempView("arr_v")
  }

  test("LIMIT n WITH TIES keeps every row tying the n-th sort key") {
    // orders share o_orderdate values: the cut at n must extend through
    // the last date's full tie group (CH semantics), then stop
    val byDate = sf0001.orders.groupBy(col("o_orderdate")).count()
      .orderBy(col("o_orderdate")).collect()
    val n = byDate.head.getLong(1) + 1 // lands mid-way into the 2nd date
    val expected = byDate.head.getLong(1) + byDate(1).getLong(1)
    val rows = ClickHouseSql.sql(spark, s"""
      SELECT o_orderkey, o_orderdate FROM orders_v
      ORDER BY o_orderdate LIMIT $n WITH TIES""").collect()
    assert(rows.length.toLong === expected)
    assert(rows.map(_.get(1)).distinct.length === 2)
    // an exact group boundary adds nothing
    val exact = ClickHouseSql.sql(spark, s"""
      SELECT o_orderkey, o_orderdate FROM orders_v
      ORDER BY o_orderdate LIMIT ${byDate.head.getLong(1)} WITH TIES""").collect()
    assert(exact.length.toLong === byDate.head.getLong(1))
    // ORDER BY may reference a select alias; DESC ties work the same
    val agg = ClickHouseSql.sql(spark, """
      SELECT o_orderstatus, COUNT(*) AS n FROM orders_v
      GROUP BY o_orderstatus ORDER BY n DESC LIMIT 1 WITH TIES""").collect()
    assert(agg.map(_.getLong(1)).distinct.length === 1)
    // without ORDER BY the clause is meaningless — loud error, like CH
    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark,
        "SELECT o_orderkey FROM orders_v LIMIT 3 WITH TIES")
    }
    assert(err.getMessage.contains("ORDER BY"))
    // a set operation: the tie band must cover the WHOLE union, not
    // just the final branch (ADVICE r7) — here every branch-1 row ties
    // the minimum date, so banding only branch 2 would lose them
    val minDate = byDate.head.get(0)
    val union = ClickHouseSql.sql(spark, s"""
      SELECT o_orderkey, o_orderdate FROM orders_v WHERE o_orderdate = DATE'$minDate'
      UNION ALL
      SELECT o_orderkey, o_orderdate FROM orders_v WHERE o_orderdate <> DATE'$minDate'
      ORDER BY o_orderdate LIMIT 1 WITH TIES""").collect()
    assert(union.length.toLong === byDate.head.getLong(1))
    assert(union.forall(_.get(1).toString == minDate.toString))
  }

  test("PARTITION BY column is real parquet partitioning; DROP PARTITION retires it") {
    Seq("ch_part_t", "ch_part_t__parts", "ch_part_e", "ch_part_e__parts")
      .foreach(dropAnyType)
    ClickHouseSql.sql(spark, """
      CREATE TABLE ch_part_t (k UInt64, v String, mon String)
      ENGINE = MergeTree PARTITION BY mon ORDER BY (k)
    """)
    ClickHouseSql.sql(spark, """INSERT INTO ch_part_t VALUES
      (1, 'a', '2024-01'), (2, 'b', '2024-01'), (3, 'c', '2024-02')""")
    // declared order at the read surface, positional values in place
    assert(spark.table("ch_part_t").columns.toSeq === Seq("k", "v", "mon"))
    assert(spark.table("ch_part_t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1L, "a", "2024-01"), (2L, "b", "2024-01"), (3L, "c", "2024-02")))
    // the partition column must prune at scan time
    import org.apache.spark.sql.execution.FormattedMode
    val plan = spark.sql("SELECT k FROM ch_part_t WHERE mon = '2024-02'")
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("PartitionFilters") &&
      plan.contains("mon"), plan.take(1500))
    // CH's retention verb: the month's rows go away, others are intact
    ClickHouseSql.sql(spark, "ALTER TABLE ch_part_t DROP PARTITION '2024-01'")
    val left = spark.table("ch_part_t").collect()
    assert(left.length === 1 && left.head.getLong(0) === 3L)
    // dropping a missing partition is a no-op, like CH
    ClickHouseSql.sql(spark, "ALTER TABLE ch_part_t DROP PARTITION '2023-12'")
    assert(spark.table("ch_part_t").count() === 1L)

    // expression partitioning: toYYYYMM(d) materializes a generated
    // partition column at write — declared schema unchanged, DROP
    // PARTITION by the expression VALUE retires the month
    ClickHouseSql.sql(spark, """
      CREATE TABLE ch_part_e (k UInt64, d Date)
      ENGINE = MergeTree PARTITION BY toYYYYMM(d) ORDER BY (k)
    """)
    assert(spark.table("ch_part_e").columns.toSeq === Seq("k", "d"))
    ClickHouseSql.sql(spark, """INSERT INTO ch_part_e VALUES
      (1, '2024-01-15'), (2, '2024-01-20'), (3, '2024-02-03')""")
    assert(spark.table("ch_part_e").count() === 3L)
    // the physical layout really is partitioned by the month value
    val ePlan = spark.sql(
      "SELECT k FROM ch_part_e__parts WHERE __ch_part = 202402")
      .queryExecution.explainString(FormattedMode)
    assert(ePlan.contains("PartitionFilters") && ePlan.contains("__ch_part"),
      ePlan.take(1500))
    // and the CH idiom — filtering by the partition EXPRESSION through
    // the declared name — prunes too (rewritePartitionPrune maps
    // toYYYYMM(d) onto the generated partition column)
    val idiom = ClickHouseSql.sql(spark,
      "SELECT k FROM ch_part_e WHERE toYYYYMM(d) = 202402")
    assert(idiom.collect().map(_.getLong(0)).toSeq === Seq(3L))
    val idiomPlan = idiom.queryExecution.explainString(FormattedMode)
    assert(idiomPlan.contains("PartitionFilters") &&
      idiomPlan.contains("__ch_part"), idiomPlan.take(1500))
    ClickHouseSql.sql(spark, "ALTER TABLE ch_part_e DROP PARTITION 202401")
    assert(spark.table("ch_part_e").collect().map(_.getLong(0)).toSeq ===
      Seq(3L))
    // TRUNCATE TABLE empties both layouts, keeping schema + registry
    ClickHouseSql.sql(spark, "TRUNCATE TABLE ch_part_e")
    assert(spark.table("ch_part_e").count() === 0L)
    assert(spark.table("ch_part_e").columns.toSeq === Seq("k", "d"))
    ClickHouseSql.sql(spark, "INSERT INTO ch_part_e VALUES (9, '2024-03-01')")
    assert(spark.table("ch_part_e").head().getLong(0) === 9L)
    ClickHouseSql.sql(spark, "DROP TABLE ch_part_t")
    ClickHouseSql.sql(spark, "DROP TABLE ch_part_e")
  }

  test("dictGet resolves registered dictionary attributes per row") {
    import spark.implicits._
    val dim = Seq((1L, "us", 330L), (2L, "de", 83L), (3L, "jp", 125L))
      .toDF("id", "code", "pop")
    ClickHouseDialect.registerDictionary(dim, "countries", "id")
    val r = spark.sql("""
      SELECT dictGet('countries', 'code', 2) AS c,
             dictGetOrDefault('countries', 'code', 9, 'xx') AS dflt,
             dictHas('countries', 3) AS h3,
             dictHas('countries', 9) AS h9""").head()
    assert(r.getString(0) === "de")
    assert(r.getString(1) === "xx")
    assert(r.getBoolean(2) && !r.getBoolean(3))
    // per-row over a real table column
    sf0001.nation.limit(3).createOrReplaceTempView("dict_n")
    val n = spark.sql(
      "SELECT dictGetOrDefault('countries', 'pop', n_nationkey + 1, -1) AS p " +
        "FROM dict_n ORDER BY n_nationkey").collect()
    assert(n.map(_.getLong(0)).toSet.subsetOf(Set(330L, 83L, 125L, -1L)))
    // unregistered dictionaries fail loudly at plan time
    val err = intercept[Exception] {
      spark.sql("SELECT dictGet('nope', 'x', 1)").collect()
    }
    assert(err.getMessage.contains("not registered"))
  }

  test("numbers() table function rewrites to range with CH column naming") {
    val n = ClickHouseSql.sql(spark,
      "SELECT sum(number) AS s FROM numbers(10)").head().getLong(0)
    assert(n === 45L)
    val off = ClickHouseSql.sql(spark,
      "SELECT min(number) AS mn, max(number) AS mx, count(*) AS c " +
        "FROM numbers(5, 3)").head()
    assert(off.getLong(0) === 5L && off.getLong(1) === 7L && off.getLong(2) === 3L)
    // alias and join positions work; the dialect FILL composes with it
    val joined = ClickHouseSql.sql(spark, """
      SELECT n.number AS x FROM numbers(3) AS n ORDER BY x""").collect()
    assert(joined.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
  }

  test("ORDER BY WITH FILL synthesizes missing series rows") {
    import spark.implicits._
    Seq((1, 10L), (2, 20L), (5, 50L), (7, 70L)).toDF("d", "v")
      .createOrReplaceTempView("fill_t")
    // derived bounds: gaps between min and max filled, values NULL
    val derived = ClickHouseSql.sql(spark, """
      SELECT d, v FROM fill_t ORDER BY d WITH FILL""").collect()
    assert(derived.map(_.getLong(0)).toSeq === (1L to 7L)) // key widens to BIGINT in the union
    assert(derived.map(r => Option(r.get(1))).count(_.isEmpty) === 3) // 3,4,6
    // explicit FROM/TO/STEP: TO is exclusive, existing rows kept
    val explicit = ClickHouseSql.sql(spark, """
      SELECT d, v FROM fill_t ORDER BY d WITH FILL FROM 0 TO 10 STEP 2""").collect()
    assert(explicit.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L, 8L))
    // trailing LIMIT applies after filling
    val limited = ClickHouseSql.sql(spark, """
      SELECT d, v FROM fill_t ORDER BY d WITH FILL LIMIT 3""").collect()
    assert(limited.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // INTERPOLATE carries the last real value into synthesized rows
    val interp = ClickHouseSql.sql(spark, """
      SELECT d, v FROM fill_t ORDER BY d WITH FILL INTERPOLATE (v)""").collect()
    assert(interp.map(_.getLong(0)).toSeq === (1L to 7L))
    assert(interp.map(_.getLong(1)).toSeq ===
      Seq(10L, 20L, 20L, 20L, 50L, 50L, 70L))
    // unsupported shapes fail loudly
    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.rewrite(
        "SELECT d, v FROM t ORDER BY d, v WITH FILL", _ => Seq("d", "v"))
    }
    assert(err.getMessage.contains("single"))
    val err2 = intercept[IllegalArgumentException] {
      ClickHouseSql.rewrite(
        "SELECT d, v FROM t ORDER BY d WITH FILL INTERPOLATE (v AS v + 1)",
        _ => Seq("d", "v"))
    }
    assert(err2.getMessage.contains("bare columns"))
  }

  test("ASOF JOIN USING matches each event to the latest earlier quote") {
    import spark.implicits._
    Seq((1, 10, "e1"), (1, 25, "e2"), (2, 5, "e3"), (3, 50, "e4"))
      .toDF("uid", "ts", "ev").createOrReplaceTempView("asof_l")
    Seq((1, 8, 100.0), (1, 20, 200.0), (1, 30, 300.0), (2, 7, 50.0))
      .toDF("uid", "ts", "quote").createOrReplaceTempView("asof_r")
    // LEFT ASOF: every event kept; quote = latest right row with ts <= event ts
    val left = ClickHouseSql.sql(spark, """
      SELECT uid, ts, ev, quote FROM asof_l LEFT ASOF JOIN asof_r USING (uid, ts)
      ORDER BY uid, ts""").collect()
    assert(left.map(r => (r.getInt(0), r.getInt(1),
      Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq ===
      Seq((1, 10, Some(100.0)), (1, 25, Some(200.0)), (2, 5, None),
        (3, 50, None)))
    // INNER ASOF (CH default): unmatched events drop
    val inner = ClickHouseSql.sql(spark, """
      SELECT uid, ts, quote FROM asof_l ASOF JOIN asof_r USING (uid, ts)
      ORDER BY uid, ts""").collect()
    assert(inner.map(r => (r.getInt(0), r.getDouble(2))).toSeq ===
      Seq((1, 100.0), (1, 200.0)))
    // the decorrelated plan must not contain a per-row re-scan loop:
    // BroadcastNestedLoopJoin with a non-trivial right side would be the
    // failure mode; a window + shuffle/broadcast hash join is the
    // expected shape (same as the q49 operator)
    val plan = ClickHouseSql.sql(spark, """
      SELECT uid, ts, quote FROM asof_l ASOF JOIN asof_r USING (uid, ts)""")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window") || plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin"), s"unexpected asof plan:\n$plan")
    // ON-form is rejected loudly
    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.rewrite(
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.ts >= b.ts",
        _ => Seq("k", "ts"))
    }
    assert(err.getMessage.contains("USING"))
  }

  test("parameterized-aggregate call syntax f(params)(args) flattens") {
    // pure-rewrite check: only the param-call boundary changes
    assert(ClickHouseSql.rewrite(
      "SELECT quantile(0.9)(x) FROM t", _ => Nil) ===
      "SELECT quantile(0.9, x) FROM t")
    assert(ClickHouseSql.rewrite(
      "SELECT quantiles(0.25, 0.75)(x), topK(3)(s) FROM t", _ => Nil) ===
      "SELECT quantiles(0.25, 0.75, x), topK(3, s) FROM t")
    // non-parameterized calls and other names pass through byte-identical
    assert(ClickHouseSql.rewrite(
      "SELECT quantile(0.5, x), foo(1)(2) FROM t", _ => Nil) ===
      "SELECT quantile(0.5, x), foo(1)(2) FROM t")

    val r = ClickHouseSql.sql(spark, """
      SELECT quantileExact(0.5)(o_totalprice) AS med,
             quantiles(0.25, 0.75)(o_totalprice) AS qs,
             uniqUpTo(5)(o_orderstatus) AS st,
             uniqUpTo(2)(o_custkey) AS uc
      FROM orders_v
    """).head()
    val exp = sf0001.orders.agg(
      percentile(col("o_totalprice"), lit(0.5)),
      percentile(col("o_totalprice"), array(lit(0.25), lit(0.75))),
      countDistinct(col("o_orderstatus")),
      countDistinct(col("o_custkey"))).head()
    assert(r.getDouble(0) === exp.getDouble(0))
    assert(r.getSeq[Double](1) === exp.getSeq[Double](1))
    // 3 statuses < 5+1 → exact; custkey cardinality saturates at 2+1
    assert(r.getLong(2) === exp.getLong(2))
    assert(r.getLong(3) === 3L)
  }

  test("generic -If combinator rewrites to FILTER; count() gets its star") {
    // rewrite shape: unregistered -If names peel the trailing condition
    assert(ClickHouseSql.rewrite(
      "SELECT uniqIf(x, y > 1) FROM t", _ => Nil) ===
      "SELECT uniq(x) FILTER (WHERE  y > 1) FROM t")
    // registered hot names (sumIf/countIf/…) stay native; count() → count(*)
    assert(ClickHouseSql.rewrite(
      "SELECT sumIf(x, c), count() FROM t", _ => Nil) ===
      "SELECT sumIf(x, c), count(*) FROM t")
    // parameterized + combinator compose: flatten first, then FILTER
    assert(ClickHouseSql.rewrite(
      "SELECT quantileExactIf(0.5)(x, c) FROM t", _ => Nil) ===
      "SELECT quantileExact(0.5, x) FILTER (WHERE  c) FROM t")

    val r = ClickHouseSql.sql(spark, """
      SELECT uniqExactIf(o_custkey, o_orderstatus = 'F') AS uf,
             argMaxIf(o_orderkey, o_totalprice, o_orderstatus = 'F') AS bigf,
             quantileExactIf(0.5)(o_totalprice, o_orderstatus = 'F') AS medf,
             count() AS n
      FROM orders_v
    """).head()
    val f = sf0001.orders.filter(col("o_orderstatus") === "F")
    val exp = f.agg(
      countDistinct(col("o_custkey")),
      max_by(col("o_orderkey"), col("o_totalprice")),
      percentile(col("o_totalprice"), lit(0.5))).head()
    assert(r.getLong(0) === exp.getLong(0))
    assert(r.getLong(1) === exp.getLong(1))
    assert(r.getDouble(2) === exp.getDouble(2))
    assert(r.getLong(3) === sf0001.orders.count())
  }

  test("ternary ?: rewrites to CASE WHEN, respecting casts and nesting") {
    // the rewriter pads its insertions — compare whitespace-squashed
    def rw(s: String) =
      ClickHouseSql.rewrite(s, _ => Nil).replaceAll("\\s+", " ").trim
    assert(rw("SELECT x > 1 ? 'hi' : 'lo' FROM t") ===
      "SELECT CASE WHEN x > 1 THEN 'hi' ELSE 'lo' END FROM t")
    // :: casts are not ternary colons, on either side of the ?
    assert(rw("SELECT x::INT > 1 ? y::INT : z FROM t") ===
      "SELECT CASE WHEN x::INT > 1 THEN y::INT ELSE z END FROM t")
    // right-nested ternary (CH right-associativity)
    assert(rw("SELECT a > 1 ? 'x' : b > 2 ? 'y' : 'z' AS r FROM t") ===
      "SELECT CASE WHEN a > 1 THEN 'x' ELSE CASE WHEN " +
        "b > 2 THEN 'y' ELSE 'z' END END AS r FROM t")
    // inside a function-call argument, bounded by the call parens
    assert(rw("SELECT sum(x > 0 ? x : 0), n FROM t GROUP BY n") ===
      "SELECT sum(CASE WHEN x > 0 THEN x ELSE 0 END ), n FROM t GROUP BY n")

    val rows = ClickHouseSql.sql(spark, """
      SELECT o_orderstatus AS s,
             count(o_totalprice > 200000 ? 1 : NULL) AS n_big
      FROM orders_v GROUP BY o_orderstatus ORDER BY s""").collect()
    val exp = sf0001.orders.groupBy(col("o_orderstatus"))
      .agg(count(when(col("o_totalprice") > 200000, 1)).as("n"))
      .orderBy(col("o_orderstatus")).collect()
    assert(rows.map(_.getLong(1)).toSeq === exp.map(_.getLong(1)).toSeq)
  }

  test("windowFunnel/sequenceMatch/sequenceCount from verbatim CH text") {
    import spark.implicits._
    Seq(
      // full funnel inside the hour
      (1, 0, "click"), (1, 10, "view"), (1, 20, "purchase"),
      // view lands outside the 1h window of the only click
      (2, 0, "click"), (2, 7200, "view"),
      // no click at all → level 0
      (3, 5, "view"), (3, 6, "purchase"),
      // a later click re-anchors the chain; the view then fits
      (4, 0, "click"), (4, 4000, "click"), (4, 5000, "view"),
      // two disjoint click→view chains for sequenceCount
      (5, 0, "click"), (5, 1, "view"), (5, 2, "click"), (5, 3, "view"))
      .toDF("user_id", "off_s", "event_type")
      .withColumn("ts", timestamp_seconds(col("off_s")))
      .createOrReplaceTempView("fun_t")

    val rows = ClickHouseSql.sql(spark, """
      SELECT user_id,
             windowFunnel(3600)(ts,
               event_type = 'click', event_type = 'view',
               event_type = 'purchase') AS lvl,
             sequenceMatch('(?1)(?2)')(ts,
               event_type = 'click', event_type = 'view') AS m,
             sequenceCount('(?1).*(?2)')(ts,
               event_type = 'click', event_type = 'view') AS c
      FROM fun_t GROUP BY user_id ORDER BY user_id""").collect()
    val byUser = rows.map(r => r.getInt(0) ->
      (r.getInt(1), r.getBoolean(2), r.getLong(3))).toMap
    assert(byUser(1) === ((3, true, 1L)))
    assert(byUser(2) === ((1, true, 1L))) // match has no window constraint
    assert(byUser(3) === ((0, false, 0L)))
    assert(byUser(4) === ((2, true, 1L)))
    assert(byUser(5) === ((2, true, 2L))) // two non-overlapping chains

    // unsupported pattern syntax is rejected loudly, not mis-evaluated
    val err = intercept[Exception] {
      ClickHouseSql.sql(spark,
        """SELECT sequenceMatch('(?1)(?t<10)(?2)')(ts,
             event_type = 'click', event_type = 'view') AS m
           FROM fun_t""").collect()
    }
    assert(err.getMessage.contains("unsupported pattern") ||
      Option(err.getCause).exists(_.getMessage.contains("unsupported pattern")))

    // smoke over the real events table: levels stay within [0, 3]
    sf0001.events.createOrReplaceTempView("ev_t")
    val lv = ClickHouseSql.sql(spark, """
      SELECT windowFunnel(3600)(ts, event_type = 'click',
               event_type = 'view', event_type = 'purchase') AS l
      FROM ev_t GROUP BY user_id""").collect().map(_.getInt(0))
    assert(lv.nonEmpty && lv.forall(l => l >= 0 && l <= 3))
  }

  test("* APPLY wraps every kept column; chains compose; EXCEPT filters") {
    assert(ClickHouseSql.rewrite(
      "SELECT * EXCEPT(name) APPLY(max) FROM star_t",
      _ => Seq("id", "name", "v")) ===
      "SELECT max(`id`) AS `id`, max(`v`) AS `v` FROM star_t")
    assert(ClickHouseSql.rewrite(
      "SELECT * APPLY(abs) APPLY(sum) FROM star_t", _ => Seq("a", "b")) ===
      "SELECT sum(abs(`a`)) AS `a`, sum(abs(`b`)) AS `b` FROM star_t")
    // a star with EXCEPT but no APPLY is untouched here (native path)
    assert(ClickHouseSql.rewrite(
      "SELECT * EXCEPT (name) FROM star_t", _ => Seq("id", "name")) ===
      "SELECT * EXCEPT (name) FROM star_t")

    import spark.implicits._
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
      .toDF("id", "name", "v").createOrReplaceTempView("apply_t")
    val r = ClickHouseSql.sql(spark,
      "SELECT * EXCEPT(name) APPLY(sum) FROM apply_t").head()
    assert(r.getLong(0) === 6L)
    assert(r.getDouble(1) === 60.0)
  }

  test("array fifth-batch: differences, cumsum, first, product, tuple") {
    val r = ClickHouseSql.sql(spark, """
      SELECT arrayDifference(array(1, 4, 9, 16)) AS d,
             arrayCumSum(array(1, 2, 3, 4)) AS cs,
             arrayIntersect(array(1, 2, 3), array(2, 3, 4)) AS ix,
             arrayProduct(array(2, 3, 4)) AS p,
             arrayFirst(x -> x > 2, array(1, 3, 5)) AS f,
             arrayFirstIndex(x -> x > 2, array(1, 3, 5)) AS fi,
             arrayFirstIndex(x -> x > 9, array(1, 3, 5)) AS none,
             tupleElement(struct(7, 'x'), 2) AS te
    """).head()
    assert(r.getSeq[Int](0) === Seq(0, 3, 5, 7))
    assert(r.getSeq[Int](1) === Seq(1, 3, 6, 10))
    assert(r.getSeq[Int](2).sorted === Seq(2, 3))
    assert(r.getDouble(3) === 24.0)
    assert(r.getInt(4) === 3)
    assert(r.getLong(5) === 2L)
    assert(r.getLong(6) === 0L)
    assert(r.getString(7) === "x")
  }

  test("fourth-batch names: UTF8 aliases, casts, temporal diffs, encodings") {
    val r = ClickHouseSql.sql(spark, """
      SELECT lengthUTF8('héllo') AS l,
             upperUTF8('abc') AS u,
             substringUTF8('hello', 2, 3) AS s,
             toInt64('42') AS i,
             toFloat64('2.5') AS f,
             fromUnixTimestamp(0) AS t0,
             base64Decode(base64Encode('round')) AS b,
             dateDiff('day', TIMESTAMP '2024-01-01 23:59:00',
                      TIMESTAMP '2024-01-02 00:01:00') AS boundary,
             age('day', TIMESTAMP '2024-01-01 23:59:00',
                 TIMESTAMP '2024-01-02 00:01:00') AS complete,
             sipHash64('x') = sipHash64('x') AS stable
    """).head()
    assert(r.getInt(0) === 5) // chars, not bytes
    assert(r.getString(1) === "ABC")
    assert(r.getString(2) === "ell")
    assert(r.getLong(3) === 42L)
    assert(r.getDouble(4) === 2.5)
    assert(r.getString(6) === "round")
    assert(r.getLong(7) === 1L) // one midnight crossed…
    assert(r.getLong(8) === 0L) // …but no complete day elapsed
    assert(r.getBoolean(9))
  }

  test("eighth-batch names: CH byte-hashes, string/URL/date long tail") {
    val r = ClickHouseSql.sql(spark, """
      SELECT hex(MD5('abc')) AS md5hex,
             length(SHA256('abc')) AS sha_len,
             substringIndex('www.example.com', '.', 2) AS si,
             ngrams('abcd', 2) AS ng,
             ngrams('a', 3) AS ng_short,
             makeDate(2024, 2, 29) AS md,
             monthName(DATE '2024-03-05') AS mn,
             toRelativeDayNum(DATE '1970-01-11') AS rdn,
             toRelativeHourNum(toDateTime(7200)) AS rhn,
             toDecimal64('2.50', 2) AS dec2,
             sign(-7) AS sg,
             ifNotFinite(acos(2.0), 42.0) AS inf_repl,
             netloc('https://www.example.com/path?q=1') AS nl,
             firstSignificantSubdomain('https://a.b.example.com/x') AS fsd,
             cutToFirstSignificantSubdomain('https://a.b.example.com/x') AS cfsd,
             decodeURLComponent(encodeURLComponent('a b&c')) AS url_rt,
             leftPadUTF8('7', 3, '0') AS lp,
             positionCaseInsensitiveUTF8('Hello', 'ELL') AS pci,
             CAST(toStartOfSecond(TIMESTAMP '2024-01-01 01:02:03.456')
               AS STRING) AS tss,
             length(generateUUIDv4()) AS uuid_len,
             'MD5(a)' AS lit_untouched
    """).head()
    // CH MD5/SHA* return BYTES — hex() then matches CH's uppercase form
    assert(r.getString(0) === "900150983CD24FB0D6963F7D28E17F72")
    assert(r.getInt(1) === 32)
    assert(r.getString(2) === "www.example")
    assert(r.getSeq[String](3) === Seq("ab", "bc", "cd"))
    assert(r.getSeq[String](4) === Seq.empty)
    assert(r.getDate(5).toString === "2024-02-29")
    assert(r.getString(6) === "March")
    assert(r.getInt(7) === 10)
    assert(r.getLong(8) === 2L)
    assert(r.getDecimal(9) === new java.math.BigDecimal("2.50"))
    // CH sign returns Int8; Spark's builtin (not overridden) returns
    // the value-equal DOUBLE
    assert(r.getDouble(10) === -1.0)
    assert(r.getDouble(11) === 42.0)
    assert(r.getString(12) === "www.example.com")
    assert(r.getString(13) === "example")
    assert(r.getString(14) === "example.com")
    assert(r.getString(15) === "a b&c")
    assert(r.getString(16) === "007")
    assert(r.getInt(17) === 2)
    assert(r.getString(18) === "2024-01-01 01:02:03")
    assert(r.getInt(19) === 36)
    // the case-sensitive hash rename never touches string literals
    assert(r.getString(20) === "MD5(a)")
  }

  test("ninth-batch names: radar gaps closed — strings, arrays, quantiles") {
    val r = ClickHouseSql.sql(spark, """
      SELECT tokens('a b,,c!d') AS tk,
             format('{} and {}', 'x', 'y') AS f1,
             format('{1}-{0}', 'a', 'b') AS f2,
             splitByRegexp('\\d+', 'a1b22c') AS sre,
             extractGroups('a1b2', '([a-z])(\\d)') AS eg,
             arrayLast(x -> x > 1, array(1,2,3)) AS al,
             arrayLastIndex(x -> x > 1, array(1,2,3)) AS ali,
             arrayLastIndex(x -> x > 9, array(1,2,3)) AS ali0,
             arrayShingles(array(1,2,3,4), 2) AS sh,
             arrayShingles(array(1), 3) AS sh0,
             arrayEnumerateDense(array(10,20,10,30)) AS ed,
             round(sigmoid(0.0), 4) AS sg,
             toISOYear(toDate('2021-01-01')) AS iy,
             CAST(dateTrunc('month', toDate('2024-03-15')) AS DATE) AS dt,
             size(timeSlots(toDateTime('2024-01-01 00:10:00'), 3600)) AS ts_n,
             normalizeQuery('SELECT 12 + ''ab''') AS nq
    """).head()
    assert(r.getSeq[String](0) === Seq("a", "b", "c", "d"))
    assert(r.getString(1) === "x and y")
    assert(r.getString(2) === "b-a")
    assert(r.getSeq[String](3) === Seq("a", "b", "c"))
    assert(r.getSeq[String](4) === Seq("a", "1"))
    assert(r.getInt(5) === 3)
    assert(r.getLong(6) === 3L)
    assert(r.getLong(7) === 0L)
    assert(r.getSeq[Seq[Int]](8) === Seq(Seq(1, 2), Seq(2, 3), Seq(3, 4)))
    assert(r.getSeq[Seq[Int]](9) === Seq.empty)
    assert(r.getSeq[Long](10) === Seq(1L, 2L, 1L, 3L))
    assert(r.getDouble(11) === 0.5)
    // 2021-01-01 is a Friday of ISO week 2020-W53
    assert(r.getInt(12) === 2020)
    assert(r.getDate(13).toString === "2024-03-01")
    assert(r.getInt(14) === 3) // slots 00:00, 00:30, 01:00 cover 00:10+1h
    assert(r.getString(15) === "SELECT ? + ?")

    val agg = ClickHouseSql.sql(spark, """
      SELECT quantileExactWeighted(0.5)(x, w) AS qw,
             quantileExactLow(0.5)(x) AS ql,
             quantileExactHigh(0.5)(x) AS qh,
             singleValueOrNull(g) AS sv,
             singleValueOrNull(x) AS sv2
      FROM VALUES (1.0, 1, 'a'), (2.0, 1, 'a'), (3.0, 1, 'a'),
                  (4.0, 1, 'a') AS t(x, w, g)
    """).head()
    // even count: Low picks the lower middle, High the upper
    assert(agg.getDouble(1) === 2.0)
    assert(agg.getDouble(2) === 3.0)
    assert(agg.getString(3) === "a")   // one distinct value
    assert(agg.isNullAt(4))            // four distinct values
  }

  test("CREATE MATERIALIZED VIEW: POPULATE backfills, engine merges on FINAL") {
    import spark.implicits._
    for (t <- Seq("mv_base", "mv_daily", "mv_empty")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t))
    }
    Seq((1L, "a", 10L), (1L, "a", 5L), (2L, "b", 7L))
      .toDF("k", "tag", "v").write.saveAsTable("mv_base")

    ClickHouseSql.sql(spark, """
      CREATE MATERIALIZED VIEW mv_daily
      ENGINE = SummingMergeTree(v) ORDER BY (k)
      POPULATE
      AS SELECT k, tag, v FROM mv_base
    """)
    // raw rows are materialized; FINAL merges measures per sort key
    assert(spark.table("mv_daily").count() === 3)
    val merged = ClickHouseSql.sql(spark,
      "SELECT k, v FROM mv_daily FINAL ORDER BY k").collect()
    assert(merged.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 15L), (2L, 7L)))

    // without POPULATE the view starts empty, schema intact
    ClickHouseSql.sql(spark, """
      CREATE MATERIALIZED VIEW mv_empty
      ENGINE = MergeTree ORDER BY (k)
      AS SELECT k, v FROM mv_base
    """)
    assert(spark.table("mv_empty").count() === 0)
    assert(spark.table("mv_empty").columns.toSeq === Seq("k", "v"))

    for (t <- Seq("mv_base", "mv_daily", "mv_empty"))
      spark.sql(s"DROP TABLE $t")
  }

  test("OPTIMIZE TABLE FINAL materializes the merge in place") {
    spark.sql("DROP TABLE IF EXISTS ch_opt_t")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), "ch_opt_t"))
    ClickHouseSql.sql(spark, """
      CREATE TABLE ch_opt_t (k UInt32, name String, ver UInt64)
      ENGINE = ReplacingMergeTree(ver) ORDER BY (k)
    """)
    spark.sql("""INSERT INTO ch_opt_t VALUES
      (1, 'old', 1), (1, 'new', 2), (2, 'only', 1)""")
    assert(spark.table("ch_opt_t").count() === 3)
    ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_opt_t FINAL")
    // a PLAIN read now sees the merged state
    val rows = spark.sql("SELECT k, name FROM ch_opt_t ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "new"), (2L, "only")))
    // idempotent
    ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_opt_t FINAL")
    assert(spark.table("ch_opt_t").count() === 2)
    spark.sql("DROP TABLE ch_opt_t")
  }

  test("OPTIMIZE TABLE DEDUPLICATE drops exact duplicates, full-row and BY-key") {
    spark.sql("DROP TABLE IF EXISTS ch_dd_t")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), "ch_dd_t"))
    spark.sql("CREATE TABLE ch_dd_t (k BIGINT, v STRING) USING parquet")
    spark.sql("""INSERT INTO ch_dd_t VALUES
      (1, 'a'), (1, 'a'), (1, 'b'), (2, 'c'), (2, 'c')""")
    // full-row dedup keeps one copy of each identical row
    ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_dd_t DEDUPLICATE")
    assert(spark.sql("SELECT k, v FROM ch_dd_t ORDER BY k, v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (1L, "b"), (2L, "c")))
    // BY-key dedup keeps one deterministic representative per key
    ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_dd_t DEDUPLICATE BY k")
    assert(spark.sql("SELECT k, v FROM ch_dd_t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "c")))
    spark.sql("DROP TABLE ch_dd_t")
  }

  test("COLUMNS('regex') expands matching columns, with APPLY chains") {
    assert(ClickHouseSql.rewrite(
      "SELECT COLUMNS('^o_order') FROM t",
      _ => Seq("o_orderkey", "o_orderstatus", "o_custkey")) ===
      "SELECT `o_orderkey`, `o_orderstatus` FROM t")
    assert(ClickHouseSql.rewrite(
      "SELECT COLUMNS('key$') APPLY(max) FROM t",
      _ => Seq("o_orderkey", "o_custkey", "o_comment")) ===
      "SELECT max(`o_orderkey`) AS `o_orderkey`, " +
        "max(`o_custkey`) AS `o_custkey` FROM t")
    val r = ClickHouseSql.sql(spark,
      "SELECT COLUMNS('key$') APPLY(count) FROM orders_v").head()
    assert(r.getLong(0) === sf0001.orders.count())
    assert(r.getLong(1) === sf0001.orders.count())
    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.rewrite("SELECT COLUMNS('^zz') FROM t", _ => Seq("a"))
    }
    assert(err.getMessage.contains("matches no column"))
  }

  test("CH CREATE TABLE DDL: types map, engine registers, FINAL reads work") {
    // the type mapper alone
    assert(ClickHouseSql.mapChType("Nullable(String)") === "STRING")
    assert(ClickHouseSql.mapChType("LowCardinality(FixedString(8))") === "STRING")
    assert(ClickHouseSql.mapChType("Array(Nullable(UInt32))") === "ARRAY<BIGINT>")
    assert(ClickHouseSql.mapChType("Map(String, Float64)") === "MAP<STRING, DOUBLE>")
    assert(ClickHouseSql.mapChType("DateTime64(3)") === "TIMESTAMP")
    assert(ClickHouseSql.mapChType("Decimal(10, 2)") === "DECIMAL(10, 2)")
    assert(ClickHouseSql.mapChType("Enum8('a' = 1, 'b' = 2)") === "STRING")

    Seq("ch_ddl_t", "ch_ddl_t__parts").foreach(dropAnyType)
    ClickHouseSql.sql(spark, """
      CREATE TABLE ch_ddl_t (
        k UInt32,
        name LowCardinality(String) CODEC(ZSTD(3)),
        ver UInt64,
        amount Decimal(10, 2)
      ) ENGINE = ReplacingMergeTree(ver)
      PARTITION BY k
      ORDER BY (k)
      SETTINGS index_granularity = 8192
    """)
    // PARTITION BY k with k declared FIRST: the read surface must keep
    // the DECLARED order even though Spark stores partition columns
    // last in the physical table
    val schema = spark.table("ch_ddl_t").schema
    assert(schema.fieldNames.toSeq === Seq("k", "name", "ver", "amount"))
    assert(schema("k").dataType.sql === "BIGINT")
    assert(schema("name").dataType.sql === "STRING")
    assert(schema("amount").dataType.sql === "DECIMAL(10,2)")

    // positional INSERT binds to the DECLARED column order, verbatim CH
    ClickHouseSql.sql(spark, """INSERT INTO ch_ddl_t VALUES
      (1, 'old', 1, 10.00), (1, 'new', 2, 20.00), (2, 'only', 1, 5.00)""")
    val all = spark.table("ch_ddl_t")
      .orderBy("k", "ver").collect()
    assert(all.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getDecimal(3).doubleValue)).toSeq === Seq(
      (1L, "old", 1L, 10.0), (1L, "new", 2L, 20.0), (2L, "only", 1L, 5.0)))
    val rows = ClickHouseSql.sql(spark,
      "SELECT k, name FROM ch_ddl_t FINAL ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "new"), (2L, "only")))
    // a filter on the partition column prunes at scan time
    import org.apache.spark.sql.execution.FormattedMode
    val ddlPlan = spark.sql("SELECT name FROM ch_ddl_t WHERE k = 2")
      .queryExecution.explainString(FormattedMode)
    assert(ddlPlan.contains("PartitionFilters") && ddlPlan.contains("k"),
      ddlPlan.take(1500))
    ClickHouseSql.sql(spark, "DROP TABLE ch_ddl_t")
    assert(!spark.catalog.tableExists("ch_ddl_t") &&
      !spark.catalog.tableExists("ch_ddl_t__parts"))

    // unsupported engines and missing versions fail loudly
    val e1 = intercept[IllegalArgumentException] {
      ClickHouseSql.rewrite(
        "CREATE TABLE x (a UInt8) ENGINE = Memory ORDER BY (a)",
        _ => Nil)
    }
    assert(e1.getMessage.contains("unsupported table engine"))
    val e2 = intercept[IllegalArgumentException] {
      ClickHouseSql.rewrite(
        "CREATE TABLE x (a UInt8, v UInt8) ENGINE = ReplacingMergeTree ORDER BY (a)",
        _ => Nil)
    }
    assert(e2.getMessage.contains("version column"))
  }

  test("round-8 scalar batch: OrZero/OrNull casts, roundDown, bitmaskToList, norms") {
    val r = ClickHouseSql.sql(spark, """SELECT
      empty('') AS e1, notEmpty('a') AS e2, empty(array()) AS e3,
      toInt64OrZero('12x') AS z1, toInt64OrNull('12x') AS n1,
      toFloat64OrZero('1.5') AS f1, toDateOrNull('nope') AS d1,
      intDivOrZero(7, 0) AS dz, moduloOrZero(7, 3) AS mz,
      roundToExp2(100) AS r2, roundDown(5.7, array(1.0, 5.0, 10.0)) AS rd,
      roundDown(0.3, array(1.0, 5.0)) AS rd0,
      bitmaskToList(10) AS bm, arrayNorm(array(3.0, 4.0)) AS an,
      timeSlot(toDateTime('2024-01-01 00:47:11')) AS tsl,
      toFixedString('ab', 4) AS fs, toIPv4('1.2.3.4') AS ip,
      farmHash64('x') AS fh""").head()
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2))
    assert(r.getLong(3) === 0L && r.isNullAt(4))
    assert(r.getDouble(5) === 1.5 && r.isNullAt(6))
    assert(r.getLong(7) === 0L && r.getLong(8) === 1L)
    assert(r.getLong(9) === 64L)
    // SQL float literals parse as DECIMAL, so roundDown returns decimal
    assert(r.getDecimal(10).doubleValue === 5.0)
    assert(r.getDecimal(11).doubleValue === 1.0) // below lowest → lowest
    assert(r.getString(12) === "2,8")
    assert(r.getDouble(13) === 5.0)
    assert(r.getTimestamp(14).toString === "2024-01-01 00:30:00.0")
    assert(r.getString(15).length === 4 && r.getString(15).startsWith("ab"))
    assert(r.getLong(16) === 16909060L)
    assert(!r.isNullAt(17))
  }

  test("round-8 aggregate batch: stable aliases, regression struct, anyIf, sketches") {
    val r = ClickHouseSql.sql(spark, """SELECT
      sumKahan(o_totalprice) AS sk,
      stddevPopStable(o_totalprice) AS sp,
      varSampStable(o_totalprice) AS vs,
      sumWithOverflow(o_orderkey) AS so,
      simpleLinearRegression(o_custkey, o_totalprice) AS slr,
      anyIf(o_orderstatus, o_totalprice > 100000) AS av,
      quantileTiming(0.5)(o_totalprice) AS qt
      FROM orders_v""").head()
    val exp = sf0001.orders.agg(
      sum(col("o_totalprice")), stddev_pop(col("o_totalprice")),
      var_samp(col("o_totalprice")), sum(col("o_orderkey"))).head()
    assert(math.abs(r.getDouble(0) - exp.getDouble(0)) /
      exp.getDouble(0) < 1e-12)
    assert(r.getDouble(1) === exp.getDouble(1))
    assert(r.getDouble(2) === exp.getDouble(2))
    assert(r.getLong(3) === exp.getLong(3))
    val slr = r.getStruct(4)
    // k, b reproduce covar_pop/var_pop composition
    val kb = sf0001.orders.agg(
      (covar_pop(col("o_custkey"), col("o_totalprice")) /
        var_pop(col("o_custkey"))).as("k"),
      avg(col("o_totalprice")).as("my"), avg(col("o_custkey")).as("mx"))
      .head()
    assert(slr.getDouble(0) === kb.getDouble(0))
    assert(slr.getDouble(1) === kb.getDouble(1) -
      kb.getDouble(0) * kb.getDouble(2))
    assert(Set("F", "O", "P").contains(r.getString(5))) // any_value FILTER
    assert(r.getDouble(6) > 0.0)
    // order-dependent names teach the scale-safe rewrite, never compute
    val err = intercept[Exception] {
      ClickHouseSql.sql(spark, "SELECT deltaSum(o_totalprice) FROM orders_v")
        .collect()
    }
    assert(err.getMessage.contains("q70_delta_sum"))
  }

  test("CREATE TABLE … ENGINE … AS SELECT (CTAS) registers engines and partitions") {
    Seq("ch_ctas_t", "ch_ctas_p", "ch_ctas_p__parts").foreach(dropAnyType)
    // ReplacingMergeTree CTAS: engine registers, FINAL merges
    ClickHouseSql.sql(spark, """
      CREATE TABLE ch_ctas_t ENGINE = ReplacingMergeTree(ver) ORDER BY (k)
      AS SELECT * FROM VALUES (1, 'old', 1), (1, 'new', 2), (2, 'only', 1)
         AS v(k, name, ver)
    """)
    assert(spark.table("ch_ctas_t").count() === 3L)
    val fin = ClickHouseSql.sql(spark,
      "SELECT k, name FROM ch_ctas_t FINAL ORDER BY k").collect()
    assert(fin.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "new"), (2, "only")))
    // expression-partitioned CTAS: two-piece layout, declared order,
    // DROP PARTITION by month value
    ClickHouseSql.sql(spark, """
      CREATE TABLE ch_ctas_p ENGINE = MergeTree
      PARTITION BY toYYYYMM(d) ORDER BY (k)
      AS SELECT * FROM VALUES
        (1, DATE'2024-01-15'), (2, DATE'2024-01-20'), (3, DATE'2024-02-03')
        AS v(k, d)
    """)
    assert(spark.table("ch_ctas_p").columns.toSeq === Seq("k", "d"))
    assert(spark.table("ch_ctas_p").count() === 3L)
    ClickHouseSql.sql(spark, "ALTER TABLE ch_ctas_p DROP PARTITION 202401")
    assert(spark.table("ch_ctas_p").collect().map(_.getInt(0)).toSeq ===
      Seq(3))
    // no-arg SummingMergeTree CTAS has no declared types to infer
    // measures from — loud error
    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark, """
        CREATE TABLE ch_ctas_bad ENGINE = SummingMergeTree ORDER BY (k)
        AS SELECT 1 AS k, 2 AS v
      """)
    }
    assert(err.getMessage.contains("column"))
    ClickHouseSql.sql(spark, "DROP TABLE ch_ctas_t")
    ClickHouseSql.sql(spark, "DROP TABLE ch_ctas_p")
  }

  test("QUALIFY filters on window results, inline or via alias") {
    // inline window expression in the predicate
    val top = ClickHouseSql.sql(spark, """
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM orders_v
      QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        ORDER BY o_totalprice DESC, o_orderkey) = 1
      ORDER BY o_custkey
    """).collect()
    assert(top.length ===
      sf0001.orders.select("o_custkey").distinct().count())
    val best = sf0001.orders.groupBy(col("o_custkey"))
      .agg(max_by(col("o_orderkey"), struct(col("o_totalprice"),
        -col("o_orderkey"))).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    top.foreach(r => assert(r.getLong(1) === best(r.getLong(0))))
    // the helper column is projected away
    assert(top.head.schema.fieldNames.toSeq ===
      Seq("o_custkey", "o_orderkey", "o_totalprice"))

    // predicate referencing a SELECT alias (lateral column alias path)
    val viaAlias = ClickHouseSql.sql(spark, """
      SELECT o_custkey, o_orderkey,
             RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk
      FROM orders_v
      QUALIFY rnk <= 2
      ORDER BY o_custkey, rnk
    """).collect()
    assert(viaAlias.nonEmpty && viaAlias.forall(_.getInt(2) <= 2))

    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.rewrite(
        "SELECT DISTINCT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1",
        _ => Nil)
    }
    assert(err.getMessage.contains("DISTINCT"))
  }

  test("DISTINCT ON picks one row per key, honoring ORDER BY") {
    // highest-value order per customer, one row per customer
    val rows = ClickHouseSql.sql(spark, """
      SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
      FROM orders_v
      ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """).collect()
    val perKey = rows.groupBy(_.getLong(0))
    assert(perKey.values.forall(_.length == 1))
    // every returned (custkey, orderkey) is that customer's top pick
    // under the ORDER BY (max price, then smallest orderkey)
    val best = sf0001.orders.groupBy(col("o_custkey"))
      .agg(max_by(col("o_orderkey"), struct(col("o_totalprice"),
        -col("o_orderkey"))).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) === best(r.getLong(0)),
        s"custkey ${r.getLong(0)}")
    }
    assert(rows.length === sf0001.orders.select("o_custkey").distinct().count())
  }

  test("LIMIT offset, count rewrites to LIMIT/OFFSET; LIMIT BY untouched") {
    assert(ClickHouseSql.rewrite(
      "SELECT x FROM t ORDER BY x LIMIT 10, 5", _ => Nil) ===
      "SELECT x FROM t ORDER BY x LIMIT 5 OFFSET 10")
    val rows = ClickHouseSql.sql(spark, """
      SELECT o_orderkey FROM orders_v ORDER BY o_orderkey LIMIT 7, 3
    """).collect().map(_.getLong(0)).toSeq
    val exp = sf0001.orders.orderBy(col("o_orderkey"))
      .select(col("o_orderkey")).collect().map(_.getLong(0)).slice(7, 10).toSeq
    assert(rows === exp)
  }

  test("topK sketch keeps true heavy hitters past the capacity bound") {
    // 40k distinct light keys ≫ the 64-counter sketch; the heavy key
    // holds 20% of the stream (≫ n/capacity), so SpaceSaving guarantees
    // it survives every displacement and partial-aggregate merge
    spark.range(50000).select(
      when(col("id") % 5 === 0, lit("HH"))
        .otherwise(concat(lit("k"), col("id"))).as("v"))
      .createOrReplaceTempView("hh_t")
    val top = ClickHouseSql.sql(spark, "SELECT topK(1)(v) AS t FROM hh_t")
      .head().getSeq[String](0)
    assert(top === Seq("HH"))
  }

  test("topK/topKWeighted return most-frequent values, sketch-bounded") {
    val top = ClickHouseSql.sql(spark,
      "SELECT topK(2)(o_orderstatus) AS top FROM orders_v")
      .head().getSeq[String](0)
    val exact = sf0001.orders.groupBy(col("o_orderstatus")).count()
      .orderBy(col("count").desc, col("o_orderstatus"))
      .collect().map(_.getString(0)).take(2).toSeq
    assert(top === exact)

    // weighted: weight by o_totalprice — ranking flips to the status with
    // the largest summed weight, computed exactly per group
    val topW = ClickHouseSql.sql(spark, """
      SELECT topKWeighted(1)(o_orderstatus, CAST(o_totalprice AS BIGINT)) AS t
      FROM orders_v""").head().getSeq[String](0)
    val exactW = sf0001.orders.groupBy(col("o_orderstatus"))
      .agg(sum(col("o_totalprice").cast("bigint")).as("w"))
      .orderBy(col("w").desc, col("o_orderstatus"))
      .collect().map(_.getString(0)).take(1).toSeq
    assert(topW === exactW)

    // grouped + ties: deterministic value-order tie-break, numeric keys
    val grouped = ClickHouseSql.sql(spark, """
      SELECT o_orderstatus AS s, topK(3)(o_orderpriority) AS p
      FROM orders_v GROUP BY o_orderstatus ORDER BY o_orderstatus""").collect()
    grouped.foreach { row =>
      val s = row.getString(0)
      val exp3 = sf0001.orders.filter(col("o_orderstatus") === s)
        .groupBy(col("o_orderpriority")).count()
        .orderBy(col("count").desc, col("o_orderpriority"))
        .collect().map(_.getString(0)).take(3).toSeq
      assert(row.getSeq[String](1) === exp3, s"status $s")
    }
  }

  test("sixth-batch names: URL, IPv4, bit tests, temporal grids, JSON, arrays") {
    val r = spark.sql("""
      SELECT addYears(DATE'2020-02-29', 1) AS ay,
             subtractQuarters(DATE'2024-05-01', 2) AS sq,
             toStartOfFiveMinutes(TIMESTAMP'2024-01-01 00:07:30') AS t5,
             toStartOfInterval(TIMESTAMP'2024-01-01 00:07:30', INTERVAL 10 MINUTE) AS t10,
             toStartOfInterval(TIMESTAMP'2024-05-15 12:00:00', INTERVAL 1 MONTH) AS tm,
             toLastDayOfMonth(DATE'2024-02-05') AS ld,
             editDistance('kitten', 'sitting') AS ed,
             countMatches('ababab', 'ab') AS cm,
             leftUTF8('hello', 2) AS l2, rightUTF8('hello', 2) AS r2,
             translateUTF8('abca', 'ac', 'xy') AS tr,
             splitByWhitespace('a  b c') AS sw,
             alphaTokens('abc2def3') AS at
    """).head()
    assert(r.getAs[java.sql.Date]("ay").toString === "2021-02-28")
    assert(r.getAs[java.sql.Date]("sq").toString === "2023-11-01")
    assert(r.getAs[java.sql.Timestamp]("t5").toString === "2024-01-01 00:05:00.0")
    assert(r.getAs[java.sql.Timestamp]("t10").toString === "2024-01-01 00:00:00.0")
    assert(r.getAs[java.sql.Timestamp]("tm").toString === "2024-05-01 00:00:00.0")
    assert(r.getAs[java.sql.Date]("ld").toString === "2024-02-29")
    assert(r.getAs[Int]("ed") === 3)
    assert(r.getAs[Int]("cm") === 3)
    assert(r.getAs[String]("l2") === "he" && r.getAs[String]("r2") === "lo")
    assert(r.getAs[String]("tr") === "xbyx")
    assert(r.getAs[Seq[String]]("sw") === Seq("a", "b", "c"))
    assert(r.getAs[Seq[String]]("at") === Seq("abc", "def"))

    val u = spark.sql("""
      SELECT protocol(u) AS pr, domain(u) AS dm, domainWithoutWWW(u) AS dw,
             topLevelDomain(u) AS tld, path(u) AS pa, queryString(u) AS qs,
             fragment(u) AS fr, extractURLParameter(u, 'x') AS px,
             extractURLParameter(u, 'zz') AS pz,
             cutQueryString(u) AS cq, cutFragment(u) AS cf
      FROM (SELECT 'https://www.example.com/a/b?x=1&y=2#frag' AS u)
    """).head()
    assert(u.getAs[String]("pr") === "https")
    assert(u.getAs[String]("dm") === "www.example.com")
    assert(u.getAs[String]("dw") === "example.com")
    assert(u.getAs[String]("tld") === "com")
    assert(u.getAs[String]("pa") === "/a/b")
    assert(u.getAs[String]("qs") === "x=1&y=2")
    assert(u.getAs[String]("fr") === "frag")
    assert(u.getAs[String]("px") === "1" && u.getAs[String]("pz") === "")
    assert(u.getAs[String]("cq") === "https://www.example.com/a/b#frag")
    assert(u.getAs[String]("cf") === "https://www.example.com/a/b?x=1&y=2")

    val b = spark.sql("""
      SELECT IPv4NumToString(3232235777) AS ip, IPv4StringToNum('10.0.0.1') AS ipn,
             bitTest(5, 0) AS bt1, bitTest(5, 1) AS bt0,
             bitTestAll(7, 0, 1, 2) AS bta, bitTestAny(8, 0, 1) AS btn,
             bitRotateLeft(1, 1) AS brl, bitRotateRight(1, 1) AS brr,
             bitHammingDistance(5, 6) AS bhd,
             exp2(10) AS e2, intExp2(10) AS ie2,
             roundBankers(2.5) AS rb1, roundBankers(3.5) AS rb2,
             isFinite(1.0) AS fin, isInfinite(CAST('Infinity' AS DOUBLE)) AS inf
    """).head()
    assert(b.getAs[String]("ip") === "192.168.1.1")
    assert(b.getAs[Long]("ipn") === 167772161L)
    assert(b.getAs[Int]("bt1") === 1 && b.getAs[Int]("bt0") === 0)
    assert(b.getAs[Int]("bta") === 1 && b.getAs[Int]("btn") === 0)
    assert(b.getAs[Long]("brl") === 2L && b.getAs[Long]("brr") === Long.MinValue)
    assert(b.getAs[Int]("bhd") === 2)
    assert(b.getAs[Double]("e2") === 1024.0d && b.getAs[Long]("ie2") === 1024L)
    assert(b.getAs[java.math.BigDecimal]("rb1").doubleValue === 2.0d)
    assert(b.getAs[java.math.BigDecimal]("rb2").doubleValue === 4.0d)
    assert(b.getAs[Boolean]("fin") && b.getAs[Boolean]("inf"))

    val j = spark.sql("""
      SELECT JSONLength('[1,2,3]') AS la, JSONLength('{"a":1,"b":2}') AS lo,
             JSONExtractKeys('{"a":1,"b":2}') AS ks,
             JSONExtractRaw('{"a":{"b":1}}', 'a') AS raw,
             toJSONString(named_struct('x', 1)) AS tj,
             simpleJSONExtractInt('{"a":7}', 'a') AS si,
             arrayPushFront(array(2, 3), 1) AS pf,
             arrayPopFront(array(1, 2, 3)) AS po,
             arrayResize(array(1, 2), 4, 0) AS rz,
             arrayResize(array(1, 2, 3), 2, 0) AS rz2,
             arrayReverseSort(array(2, 3, 1)) AS rs,
             arrayRotateLeft(array(1, 2, 3, 4), 1) AS rl,
             arrayRotateRight(array(1, 2, 3, 4), 1) AS rr,
             arrayElementOrNull(array(1, 2), 5) AS en,
             arrayFold((acc, x) -> acc + x, array(1, 2, 3), 100) AS fo,
             arrayJaccardIndex(array(1, 2, 3), array(2, 3, 4)) AS ji,
             mapContains(map('a', 1), 'a') AS mc,
             mapValues(mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2))) AS mf
    """).head()
    assert(j.getAs[Int]("la") === 3 && j.getAs[Int]("lo") === 2)
    assert(j.getAs[Seq[String]]("ks") === Seq("a", "b"))
    assert(j.getAs[String]("raw") === """{"b":1}""")
    assert(j.getAs[String]("tj") === """{"x":1}""")
    assert(j.getAs[Long]("si") === 7L)
    assert(j.getAs[Seq[Int]]("pf") === Seq(1, 2, 3))
    assert(j.getAs[Seq[Int]]("po") === Seq(2, 3))
    assert(j.getAs[Seq[Int]]("rz") === Seq(1, 2, 0, 0))
    assert(j.getAs[Seq[Int]]("rz2") === Seq(1, 2))
    assert(j.getAs[Seq[Int]]("rs") === Seq(3, 2, 1))
    assert(j.getAs[Seq[Int]]("rl") === Seq(2, 3, 4, 1))
    assert(j.getAs[Seq[Int]]("rr") === Seq(4, 1, 2, 3))
    assert(j.isNullAt(j.fieldIndex("en")))
    assert(j.getAs[Int]("fo") === 106)
    assert(j.getAs[Double]("ji") === 0.5d)
    assert(j.getAs[Boolean]("mc"))
    assert(j.getAs[Seq[Int]]("mf") === Seq(2))

    // aggregates: weighted average, tuple sum+count, moments, bounding
    // slope, and the params-first sorted group array
    val a = spark.sql("""
      SELECT avgWeighted(v, w) AS aw, sumCount(v) AS sc,
             skewPop(v2) AS sk, kurtPop(v2) AS ku,
             boundingRatio(x, y) AS br
      FROM (SELECT * FROM VALUES (10, 1, 1, 0, 10), (20, 3, 2, 10, 30),
            (30, 0, 3, 5, 20) AS t(v, w, v2, x, y))
    """).head()
    assert(a.getAs[Double]("aw") === 17.5d)
    val sc = a.getStruct(a.fieldIndex("sc"))
    assert(sc.getLong(0) === 60L && sc.getLong(1) === 3L)
    assert(math.abs(a.getAs[Double]("sk")) < 1e-12)
    assert(math.abs(a.getAs[Double]("ku") - 1.5d) < 1e-12)
    assert(a.getAs[Double]("br") === 2.0d)

    val gs = ClickHouseSql.sql(spark, """
      SELECT groupArraySorted(2)(v) AS g
      FROM (SELECT * FROM VALUES (3), (1), (2) AS t(v))""").head()
    assert(gs.getAs[Seq[Int]]("g") === Seq(1, 2))
  }

  test("ALTER TABLE DELETE/UPDATE and lightweight DELETE mutate in place") {
    spark.sql("DROP TABLE IF EXISTS ch_mut_t")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), "ch_mut_t"))
    spark.sql("CREATE TABLE ch_mut_t (k BIGINT, name STRING, score BIGINT) USING parquet")
    spark.sql("""INSERT INTO ch_mut_t VALUES
      (1, 'a', 10), (2, 'b', 20), (3, 'c', 30), (4, NULL, 40)""")

    // classic mutation: delete cond-TRUE rows; NULL-cond rows survive
    ClickHouseSql.sql(spark, "ALTER TABLE ch_mut_t DELETE WHERE score >= 30 AND name = 'c'")
    assert(spark.sql("SELECT k FROM ch_mut_t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L)) // k=4 has NULL name → kept

    // UPDATE: assigned columns change only where cond holds; CH dialect
    // functions work inside the assignment and the condition
    ClickHouseSql.sql(spark,
      "ALTER TABLE ch_mut_t UPDATE score = plus(score, 100), name = upper(name) WHERE modulo(k, 2) = 0")
    val rows = spark.sql("SELECT k, name, score FROM ch_mut_t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, "a", 10L), (2L, "B", 120L), (4L, null, 140L)))

    // lightweight DELETE FROM
    ClickHouseSql.sql(spark, "DELETE FROM ch_mut_t WHERE k = 1")
    assert(spark.sql("SELECT k FROM ch_mut_t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(2L, 4L))

    // loud failures: no WHERE, unknown column
    val e1 = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark, "ALTER TABLE ch_mut_t DELETE")
    }
    assert(e1.getMessage.contains("requires WHERE"))
    val e2 = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark, "ALTER TABLE ch_mut_t UPDATE zz = 1 WHERE k = 2")
    }
    assert(e2.getMessage.contains("unknown column"))
    spark.sql("DROP TABLE ch_mut_t")
  }

  test("CH transform() remaps values; Spark's higher-order transform untouched") {
    val r = ClickHouseSql.sql(spark, """
      SELECT transform(s, array('F', 'O'), array('filled', 'open')) AS t3,
             transform(s, array('X'), array('never'), 'other') AS t4,
             transform(array(1, 2, 3), x -> x * 10) AS hof
      FROM (SELECT 'F' AS s)
    """).head()
    assert(r.getAs[String]("t3") === "filled")
    assert(r.getAs[String]("t4") === "other")
    assert(r.getAs[Seq[Int]]("hof") === Seq(10, 20, 30))
    // 3-arg miss with no default returns the input itself
    val miss = ClickHouseSql.sql(spark,
      "SELECT transform('P', array('F'), array('x')) AS m").head()
    assert(miss.getAs[String]("m") === "P")

    val ts = spark.sql("""
      SELECT parseDateTimeBestEffort('2024-01-02T03:04:05') AS a,
             parseDateTimeBestEffort('2024-01-02 03:04:05') AS b,
             parseDateTimeBestEffort('2024-01-02') AS c,
             parseDateTimeBestEffort('1700000000') AS d,
             parseDateTimeBestEffort('20240102') AS e,
             parseDateTimeBestEffort('02/03/2024') AS f,
             parseDateTimeBestEffortOrNull('not a date') AS g
    """).head()
    assert(ts.getAs[java.sql.Timestamp]("a").toString === "2024-01-02 03:04:05.0")
    assert(ts.getAs[java.sql.Timestamp]("b").toString === "2024-01-02 03:04:05.0")
    assert(ts.getAs[java.sql.Timestamp]("c").toString === "2024-01-02 00:00:00.0")
    assert(ts.getAs[java.sql.Timestamp]("d").toString === "2023-11-14 22:13:20.0")
    assert(ts.getAs[java.sql.Timestamp]("e").toString === "2024-01-02 00:00:00.0")
    assert(ts.getAs[java.sql.Timestamp]("f").toString === "2024-03-02 00:00:00.0")
    assert(ts.isNullAt(ts.fieldIndex("g")))
  }

  test("RENAME TABLE and EXCHANGE TABLES move tables and engine metadata") {
    Seq("ch_ren_a", "ch_ren_b", "ch_ren_c").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t))
    }
    spark.sql("CREATE TABLE ch_ren_a (k BIGINT, v BIGINT) USING parquet")
    spark.sql("INSERT INTO ch_ren_a VALUES (1, 10), (1, 20)")
    ClickHouseSql.registerEngine("ch_ren_a",
      Replacing(Seq("k"), Seq("v")))

    // rename carries data AND the engine registration
    ClickHouseSql.sql(spark, "RENAME TABLE ch_ren_a TO ch_ren_b")
    assert(!spark.catalog.tableExists("ch_ren_a"))
    assert(spark.table("ch_ren_b").count() === 2)
    assert(ClickHouseSql.engineOf("ch_ren_b").isDefined)
    assert(ClickHouseSql.engineOf("ch_ren_a").isEmpty)
    // FINAL works on the renamed table
    assert(ClickHouseSql.sql(spark,
      "SELECT v FROM ch_ren_b FINAL").head().getLong(0) === 20L)

    // exchange swaps contents and registrations
    spark.sql("CREATE TABLE ch_ren_c (k BIGINT, v BIGINT) USING parquet")
    spark.sql("INSERT INTO ch_ren_c VALUES (9, 90)")
    ClickHouseSql.sql(spark, "EXCHANGE TABLES ch_ren_b AND ch_ren_c")
    assert(spark.table("ch_ren_b").count() === 1)
    assert(spark.table("ch_ren_c").count() === 2)
    assert(ClickHouseSql.engineOf("ch_ren_b").isEmpty)
    assert(ClickHouseSql.engineOf("ch_ren_c").isDefined)

    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark, "RENAME TABLE ch_ren_b ch_ren_zz")
    }
    assert(err.getMessage.contains("RENAME TABLE expects"))
    Seq("ch_ren_b", "ch_ren_c").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("scalar WITH substitutes expression aliases per use") {
    // plain scalar aliases, used in SELECT and WHERE
    val r = ClickHouseSql.sql(spark,
      """WITH 10 AS lo, lo * 20 AS hi
        |SELECT count(*) AS n, max(o_orderkey - lo) AS adj
        |FROM orders_v WHERE o_orderkey BETWEEN lo AND hi""".stripMargin)
    val expect = spark.sql(
      """SELECT count(*) AS n, max(o_orderkey - 10) AS adj
        |FROM orders_v WHERE o_orderkey BETWEEN 10 AND 200""".stripMargin)
    assert(r.collect().toSeq === expect.collect().toSeq)

    // scalar-subquery alias form: WITH (SELECT …) AS m
    val r2 = ClickHouseSql.sql(spark,
      """WITH (SELECT max(o_orderkey) FROM orders_v) AS m
        |SELECT count(*) AS n FROM orders_v WHERE o_orderkey = m""".stripMargin)
    assert(r2.head().getLong(0) >= 1L)

    // mixed scalar + CTE in one list; alias visible inside the CTE body
    val r3 = ClickHouseSql.sql(spark,
      """WITH 100 AS cap, big AS (SELECT o_orderkey FROM orders_v WHERE o_orderkey > cap)
        |SELECT count(*) AS n FROM big""".stripMargin)
    val exp3 = spark.sql(
      "SELECT count(*) AS n FROM orders_v WHERE o_orderkey > 100")
    assert(r3.head().getLong(0) === exp3.head().getLong(0))

    // a pure-CTE WITH and WITH TOTALS/FILL text pass through untouched
    def cols(t: String): Seq[String] = Seq("a", "b")
    val cte = "WITH x AS (SELECT 1 AS a) SELECT a FROM x"
    assert(ClickHouseSql.rewrite(cte, cols) === cte)
    // alias is NOT substituted where it is being defined (AS alias)
    val shadow = ClickHouseSql.rewrite(
      "WITH 5 AS k SELECT a AS k FROM t ORDER BY k", cols)
    assert(shadow === "SELECT a AS k FROM t ORDER BY (5)")
  }

  test("GLOBAL IN erases; bare IN table expands to a subquery") {
    def cols(t: String): Seq[String] = Seq("a", "b")
    assert(ClickHouseSql.rewrite(
      "SELECT * FROM t WHERE a GLOBAL IN (SELECT a FROM s)", cols) ===
      "SELECT * FROM t WHERE a IN (SELECT a FROM s)")
    assert(ClickHouseSql.rewrite(
      "SELECT * FROM t WHERE a GLOBAL NOT IN (SELECT a FROM s)", cols) ===
      "SELECT * FROM t WHERE a NOT IN (SELECT a FROM s)")
    assert(ClickHouseSql.rewrite(
      "SELECT * FROM t WHERE a IN allowed_set", cols) ===
      "SELECT * FROM t WHERE a IN (SELECT * FROM allowed_set)")
    // plain IN lists and IN (subquery) are untouched
    val lst = "SELECT * FROM t WHERE a IN (1, 2, 3)"
    assert(ClickHouseSql.rewrite(lst, cols) === lst)

    // end-to-end: the named set drives a semi-join
    sf0001.orders.select(col("o_custkey")).distinct().limit(5)
      .createOrReplaceTempView("ch_in_set")
    val n = ClickHouseSql.sql(spark,
      "SELECT count(*) AS n FROM orders_v WHERE o_custkey IN ch_in_set")
      .head().getLong(0)
    val expect = sf0001.orders.join(spark.table("ch_in_set"),
      Seq("o_custkey"), "left_semi").count()
    assert(n === expect)
  }

  test("ALTER TABLE ADD/DROP/RENAME COLUMN materializes CH default fills") {
    import graft.functions.ClickHouseSql
    spark.sql("CREATE TABLE ch_alt (k BIGINT, v BIGINT) USING parquet")
    spark.sql("INSERT INTO ch_alt VALUES (1, 10), (2, 20)")

    // no DEFAULT → the TYPE's zero value on existing rows (CH semantics),
    // not NULL
    ClickHouseSql.sql(spark, "ALTER TABLE ch_alt ADD COLUMN tag String")
    val tags = spark.table("ch_alt").select("tag").collect().map(_.getString(0))
    assert(tags.toSeq === Seq("", ""))

    // explicit DEFAULT expression + AFTER positioning
    ClickHouseSql.sql(spark,
      "ALTER TABLE ch_alt ADD COLUMN score Float64 DEFAULT v * 2 AFTER k")
    assert(spark.table("ch_alt").columns.toSeq === Seq("k", "score", "v", "tag"))
    val sc = spark.table("ch_alt").orderBy("k").collect().map(_.getDouble(1))
    assert(sc.toSeq === Seq(20.0, 40.0))

    // IF NOT EXISTS no-ops on a present column
    ClickHouseSql.sql(spark, "ALTER TABLE ch_alt ADD COLUMN IF NOT EXISTS tag String")

    ClickHouseSql.sql(spark, "ALTER TABLE ch_alt RENAME COLUMN tag TO label")
    assert(spark.table("ch_alt").columns.contains("label"))

    ClickHouseSql.sql(spark, "ALTER TABLE ch_alt DROP COLUMN score")
    assert(spark.table("ch_alt").columns.toSeq === Seq("k", "v", "label"))
    assert(spark.table("ch_alt").count() === 2)

    // MODIFY COLUMN casts in place, keeping name and position
    ClickHouseSql.sql(spark, "ALTER TABLE ch_alt MODIFY COLUMN v String")
    assert(spark.table("ch_alt").columns.toSeq === Seq("k", "v", "label"))
    assert(spark.table("ch_alt").schema("v").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(spark.table("ch_alt").orderBy("k").collect()
      .map(_.getString(1)).toSeq === Seq("10", "20"))
    // IF EXISTS no-ops on a missing column; a bare DEFAULT change is loud
    ClickHouseSql.sql(spark, "ALTER TABLE ch_alt MODIFY COLUMN IF EXISTS zzz Int64")
    val modErr = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark, "ALTER TABLE ch_alt MODIFY COLUMN v DEFAULT '7'")
    }
    assert(modErr.getMessage.contains("target type"))

    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark, "ALTER TABLE ch_alt DROP COLUMN nope")
    }
    assert(err.getMessage.contains("not found"))
    spark.sql("DROP TABLE ch_alt")
  }

  test("CREATE DICTIONARY wires a table into dictGet; DROP unregisters") {
    import graft.functions.ClickHouseSql
    spark.sql("CREATE TABLE ch_dict_src (code BIGINT, cname STRING, pop BIGINT) USING parquet")
    spark.sql("INSERT INTO ch_dict_src VALUES (1, 'us', 330), (2, 'de', 83)")
    ClickHouseSql.sql(spark, """
      CREATE DICTIONARY dim_codes (code UInt64, cname String)
      PRIMARY KEY code
      SOURCE(CLICKHOUSE(TABLE 'ch_dict_src'))
      LAYOUT(HASHED()) LIFETIME(MIN 0 MAX 300)""")
    val r = spark.sql(
      "SELECT dictGet('dim_codes', 'cname', 2) AS c").head()
    assert(r.getString(0) === "de")
    // declared columns only: pop was not declared, so it is not an attribute
    val noAttr = intercept[Exception] {
      spark.sql("SELECT dictGet('dim_codes', 'pop', 1)").collect()
    }
    assert(noAttr.getMessage.contains("no attribute"))
    // IF NOT EXISTS no-ops; DROP removes; guarded DROP tolerates absence
    ClickHouseSql.sql(spark, """
      CREATE DICTIONARY IF NOT EXISTS dim_codes (code UInt64, cname String)
      PRIMARY KEY code SOURCE(CLICKHOUSE(TABLE 'ch_dict_src')) LAYOUT(FLAT())""")
    ClickHouseSql.sql(spark, "DROP DICTIONARY dim_codes")
    val gone = intercept[Exception] {
      spark.sql("SELECT dictGet('dim_codes', 'cname', 1)").collect()
    }
    assert(gone.getMessage.contains("not registered"))
    ClickHouseSql.sql(spark, "DROP DICTIONARY IF EXISTS dim_codes")
    spark.sql("DROP TABLE ch_dict_src")
  }

  test("SYSTEM STOP/START MERGES gates OPTIMIZE; RELOAD DICTIONARY re-snapshots") {
    import graft.functions.ClickHouseSql
    spark.sql("DROP TABLE IF EXISTS ch_sys_t")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), "ch_sys_t"))
    ClickHouseSql.sql(spark, """
      CREATE TABLE ch_sys_t (k UInt32, name String, ver UInt64)
      ENGINE = ReplacingMergeTree(ver) ORDER BY (k)""")
    spark.sql("INSERT INTO ch_sys_t VALUES (1, 'old', 1), (1, 'new', 2)")
    // stopped: OPTIMIZE refuses loudly; FINAL reads still collapse
    ClickHouseSql.sql(spark, "SYSTEM STOP MERGES ch_sys_t")
    val refused = intercept[Exception] {
      ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_sys_t FINAL")
    }
    assert(refused.getMessage.contains("merges are stopped"))
    assert(spark.table("ch_sys_t").count() === 2) // nothing merged
    assert(ClickHouseSql.sql(spark,
      "SELECT name FROM ch_sys_t FINAL").head().getString(0) === "new")
    // started again: OPTIMIZE merges in place
    ClickHouseSql.sql(spark, "SYSTEM START MERGES ch_sys_t")
    ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_sys_t FINAL")
    assert(spark.table("ch_sys_t").count() === 1)
    // bare STOP MERGES gates every table; bare START clears it
    ClickHouseSql.sql(spark, "SYSTEM STOP MERGES")
    assert(intercept[Exception] {
      ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_sys_t FINAL")
    }.getMessage.contains("merges are stopped"))
    ClickHouseSql.sql(spark, "SYSTEM START MERGES")
    ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_sys_t FINAL")
    spark.sql("DROP TABLE ch_sys_t")
    // RELOAD DICTIONARY re-snapshots the CURRENT source rows
    dropAnyType("ch_sys_dict_src")
    spark.sql("CREATE TABLE ch_sys_dict_src (code BIGINT, cname STRING) USING parquet")
    spark.sql("INSERT INTO ch_sys_dict_src VALUES (1, 'us')")
    ClickHouseSql.sql(spark, """
      CREATE DICTIONARY sys_codes (code UInt64, cname String)
      PRIMARY KEY code SOURCE(CLICKHOUSE(TABLE 'ch_sys_dict_src'))
      LAYOUT(HASHED())""")
    spark.sql("INSERT INTO ch_sys_dict_src VALUES (2, 'de')")
    // registration was a snapshot: the new row is invisible until reload
    assert(!spark.sql("SELECT dictHas('sys_codes', 2)").head().getBoolean(0))
    ClickHouseSql.sql(spark, "SYSTEM RELOAD DICTIONARY sys_codes")
    assert(spark.sql("SELECT dictHas('sys_codes', 2)").head().getBoolean(0))
    assert(spark.sql("SELECT dictGet('sys_codes', 'cname', 2)")
      .head().getString(0) === "de")
    // RELOAD DICTIONARIES (all) and FLUSH LOGS are accepted
    ClickHouseSql.sql(spark, "SYSTEM RELOAD DICTIONARIES")
    ClickHouseSql.sql(spark, "SYSTEM FLUSH LOGS")
    // unknown SYSTEM verbs fail loudly
    assert(intercept[Exception] {
      ClickHouseSql.sql(spark, "SYSTEM RESTART REPLICA r1")
    }.getMessage.contains("unsupported SYSTEM"))
    ClickHouseSql.sql(spark, "DROP DICTIONARY sys_codes")
    spark.sql("DROP TABLE ch_sys_dict_src")
  }

  test("SHOW CREATE TABLE reconstructs round-trippable DDL") {
    import graft.functions.ClickHouseSql
    Seq("ch_sct", "ch_sct__parts").foreach(dropAnyType)
    ClickHouseSql.sql(spark, """
      CREATE TABLE ch_sct (k UInt64, name String, note Nullable(String),
        amount Decimal(10, 2), d Date, ver UInt64)
      ENGINE = ReplacingMergeTree(ver)
      PARTITION BY toYYYYMM(d) ORDER BY (k, d)
      TTL d + INTERVAL 90 DAY""")
    val stmt = ClickHouseSql.sql(spark, "SHOW CREATE TABLE ch_sct")
      .head().getString(0)
    // normalized pieces all present
    assert(stmt.startsWith("CREATE TABLE ch_sct ("))
    assert(stmt.contains("k Int64"))
    assert(stmt.contains("note Nullable(String)"))
    assert(stmt.contains("amount Decimal(10, 2)"))
    assert(stmt.contains("ENGINE = ReplacingMergeTree(ver)"))
    assert(stmt.contains("PARTITION BY toYYYYMM(d)"))
    assert(stmt.contains("ORDER BY (k, d)"))
    assert(stmt.contains("TTL d + INTERVAL 90 DAY"))
    // round trip: the statement recreates an equivalent table —
    // partition pruning, FINAL merge, Nullable default, TTL all intact
    ClickHouseSql.sql(spark,
      "INSERT INTO ch_sct VALUES (1, 'a', 'x', 1.00, '2024-01-05', 1)")
    ClickHouseSql.sql(spark, "DROP TABLE ch_sct")
    ClickHouseSql.sql(spark, stmt)
    ClickHouseSql.sql(spark, """INSERT INTO ch_sct VALUES
      (1, 'old', 'x', 1.00, '2030-01-05', 1),
      (1, 'new', 'y', 2.00, '2030-01-05', 2)""")
    assert(ClickHouseSql.sql(spark,
      "SELECT name FROM ch_sct FINAL").head().getString(0) === "new")
    val stmt2 = ClickHouseSql.sql(spark, "SHOW CREATE TABLE ch_sct")
      .head().getString(0)
    assert(stmt2 === stmt, "SHOW CREATE is not a fixed point")
    ClickHouseSql.sql(spark, "DROP TABLE ch_sct")
    // plain unregistered Spark table: bare normalized form
    dropAnyType("ch_sct_plain")
    spark.sql("CREATE TABLE ch_sct_plain (a BIGINT, b STRING) USING parquet")
    val plain = ClickHouseSql.sql(spark, "SHOW CREATE TABLE ch_sct_plain")
      .head().getString(0)
    assert(plain === "CREATE TABLE ch_sct_plain (a Int64, b String) ENGINE = MergeTree")
    spark.sql("DROP TABLE ch_sct_plain")
  }

  test("table TTL applies at OPTIMIZE (merge) time; MODIFY/REMOVE TTL re-declare") {
    import graft.functions.ClickHouseSql
    dropAnyType("ch_ttl_t")
    ClickHouseSql.sql(spark, """
      CREATE TABLE ch_ttl_t (k UInt32, v String, d Date)
      ENGINE = MergeTree ORDER BY (k)
      TTL d + INTERVAL 30 DAY DELETE""")
    spark.sql("""INSERT INTO ch_ttl_t VALUES
      (1, 'ancient', DATE'2020-01-01'), (2, 'future', DATE'2030-01-01')""")
    // TTL is merge-time, not read-time: both rows visible before OPTIMIZE
    assert(spark.table("ch_ttl_t").count() === 2L)
    ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_ttl_t FINAL")
    assert(spark.table("ch_ttl_t").collect().map(_.getString(1)).toSeq ===
      Seq("future"))
    // MODIFY TTL re-declares: a 100-year horizon keeps everything
    spark.sql("INSERT INTO ch_ttl_t VALUES (3, 'old', DATE'2021-06-01')")
    ClickHouseSql.sql(spark,
      "ALTER TABLE ch_ttl_t MODIFY TTL d + INTERVAL 36500 DAY")
    ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_ttl_t FINAL")
    assert(spark.table("ch_ttl_t").count() === 2L)
    // back to the tight horizon: the old row leaves on the next merge
    ClickHouseSql.sql(spark,
      "ALTER TABLE ch_ttl_t MODIFY TTL d + INTERVAL 30 DAY")
    ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_ttl_t FINAL")
    assert(spark.table("ch_ttl_t").collect().map(_.getString(1)).toSeq ===
      Seq("future"))
    // REMOVE TTL: nothing expires any more
    ClickHouseSql.sql(spark, "ALTER TABLE ch_ttl_t REMOVE TTL")
    spark.sql("INSERT INTO ch_ttl_t VALUES (4, 'ancient2', DATE'2019-01-01')")
    ClickHouseSql.sql(spark, "OPTIMIZE TABLE ch_ttl_t FINAL")
    assert(spark.table("ch_ttl_t").count() === 2L)
    // storage-tier TTL actions fail loudly
    assert(intercept[Exception] {
      ClickHouseSql.sql(spark,
        "ALTER TABLE ch_ttl_t MODIFY TTL d + INTERVAL 1 DAY TO VOLUME 'cold'")
    }.getMessage.contains("storage tiers"))
    spark.sql("DROP TABLE ch_ttl_t")
  }

  test("seventh-batch scalar names: search, trim, temporal, geo") {
    val r = spark.sql("""
      SELECT positionCaseInsensitive('Hello World', 'WORLD') AS pci,
             multiSearchAny('needle in haystack', array('nope', 'hay')) AS msa,
             multiSearchAny('needle in haystack', array('nope', 'also-no')) AS msn,
             trimLeft('  x  ') AS tl,
             trimRight('  x  ') AS tr,
             toNullable(7) AS tn,
             dateName('month', DATE'2024-04-09') AS mn,
             dateName('weekday', DATE'2024-04-09') AS dn,
             dateName('year', DATE'2024-04-09') AS dy,
             CAST(DATE'2024-01-01' + toIntervalDay(3) AS STRING) AS pd,
             CAST(DATE'2024-01-31' + toIntervalMonth(1) AS STRING) AS pm,
             greatCircleDistance(-0.1278, 51.5074, 2.3522, 48.8566) AS gcd
    """).head()
    assert(r.getAs[Int]("pci") === 7)
    assert(r.getAs[Boolean]("msa") && !r.getAs[Boolean]("msn"))
    assert(r.getAs[String]("tl") === "x  ")
    assert(r.getAs[String]("tr") === "  x")
    assert(r.getAs[Int]("tn") === 7)
    assert(r.getAs[String]("mn") === "April")
    assert(r.getAs[String]("dn") === "Tuesday")
    assert(r.getAs[String]("dy") === "2024")
    assert(r.getAs[String]("pd") === "2024-01-04 00:00:00")
    assert(r.getAs[String]("pm") === "2024-02-29")
    // London→Paris ≈ 343.5 km; haversine on the mean-radius sphere
    val gcd = r.getAs[Double]("gcd")
    assert(gcd > 340000 && gcd < 348000, s"gcd=$gcd")
  }

  test("seventh-batch aggregates: sample moments, retention, histogram, sketch uniq") {
    import graft.functions.ClickHouseSql
    sf0001.lineitem.createOrReplaceTempView("lineitem_ch7")
    // parameterized f(p)(args) calls need the CH rewriter, not bare spark.sql
    val r = ClickHouseSql.sql(spark, """
      SELECT skewSamp(l_quantity) AS ss,
             kurtSamp(l_quantity) AS ks,
             skewPop(l_quantity) AS sp,
             kurtPop(l_quantity) AS kp,
             uniqTheta(l_orderkey) AS ut,
             quantileDeterministic(0.5)(l_quantity, 42) AS qd
      FROM lineitem_ch7
    """).head()
    val n = sf0001.lineitem.count().toDouble
    // sample adjustments shrink toward the population values as n grows
    assert(math.abs(r.getAs[Double]("ss") -
      r.getAs[Double]("sp") * math.pow((n - 1) / n, 1.5)) < 1e-9)
    assert(math.abs(r.getAs[Double]("ks") -
      r.getAs[Double]("kp") * math.pow((n - 1) / n, 2.0)) < 1e-9)
    assert(r.getAs[Long]("ut") > 0)
    val qd = r.getAs[Double]("qd")
    assert(qd >= 1.0 && qd <= 50.0)

    // retention: planted per-user event flags
    import spark.implicits._
    Seq((1, "a"), (1, "b"), (1, "c"), (2, "b"), (3, "a"), (3, "c"))
      .toDF("u", "e").createOrReplaceTempView("ret_ev")
    val ret = spark.sql("""
      SELECT u, retention(e = 'a', e = 'b', e = 'c') AS r
      FROM ret_ev GROUP BY u ORDER BY u""").collect()
    assert(ret(0).getSeq[Int](1) === Seq(1, 1, 1)) // user 1: a,b,c
    assert(ret(1).getSeq[Int](1) === Seq(0, 0, 0)) // user 2: no anchor 'a'
    assert(ret(2).getSeq[Int](1) === Seq(1, 0, 1)) // user 3: a,c

    // histogram(k)(x): k buckets back, each (lo, hi, height)
    val h = ClickHouseSql.sql(spark,
      "SELECT histogram(5)(l_quantity) AS h FROM lineitem_ch7").head()
    assert(h.getSeq[org.apache.spark.sql.Row](0).length === 5)

    // order-dependent names refuse with window guidance
    val err = intercept[Exception] {
      spark.sql("SELECT runningDifference(l_quantity) FROM lineitem_ch7").collect()
    }
    assert(err.getMessage.contains("lag"))
  }

  test("INTO OUTFILE exports one file; TRUNCATE gates overwrite; FORMAT maps") {
    import graft.functions.ClickHouseSql
    val dir = java.nio.file.Files.createTempDirectory("ch_outfile").toFile
    val csv = new java.io.File(dir, "top.csv").getPath
    ClickHouseSql.sql(spark,
      s"SELECT o_orderkey, o_totalprice FROM orders_v ORDER BY o_orderkey LIMIT 3 INTO OUTFILE '$csv'")
    val lines = scala.io.Source.fromFile(csv).getLines().toList
    assert(lines.length === 3) // plain CSV: no header, like ClickHouse
    assert(lines.head.startsWith(lines.head.split(",")(0)))

    // existing file refuses without TRUNCATE; TRUNCATE overwrites
    val err = intercept[IllegalArgumentException] {
      ClickHouseSql.sql(spark,
        s"SELECT o_orderkey FROM orders_v LIMIT 1 INTO OUTFILE '$csv'")
    }
    assert(err.getMessage.contains("TRUNCATE"))
    ClickHouseSql.sql(spark,
      s"SELECT o_orderkey FROM orders_v ORDER BY o_orderkey LIMIT 1 INTO OUTFILE '$csv' TRUNCATE")
    assert(scala.io.Source.fromFile(csv).getLines().size === 1)

    // FORMAT CSVWithNames adds the header; parquet round-trips
    val withNames = new java.io.File(dir, "wn.csv").getPath
    ClickHouseSql.sql(spark,
      s"SELECT o_orderkey AS k FROM orders_v LIMIT 2 INTO OUTFILE '$withNames' FORMAT CSVWithNames")
    assert(scala.io.Source.fromFile(withNames).getLines().next() === "k")
    val pq = new java.io.File(dir, "out.parquet").getPath
    ClickHouseSql.sql(spark,
      s"SELECT count(*) AS n FROM orders_v INTO OUTFILE '$pq'")
    assert(spark.read.parquet(pq).head().getLong(0) === sf0001.orders.count())
    dir.listFiles().foreach(_.delete()); dir.delete()
  }

  test("mapAdd/mapSubtract union keys with zero-filled arithmetic") {
    val r = spark.sql("""
      SELECT mapAdd(map('a', 1, 'b', 2), map('b', 10, 'c', 3)) AS ma,
             mapSubtract(map('a', 5), map('a', 2, 'z', 4)) AS ms""").head()
    assert(r.getMap[String, Int](0).toMap === Map("a" -> 1, "b" -> 12, "c" -> 3))
    assert(r.getMap[String, Int](1).toMap === Map("a" -> 3, "z" -> -4))
  }
}
