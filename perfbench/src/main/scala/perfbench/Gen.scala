package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, size, row), so the same seed always yields the same inputs;
  * the program under test only ever sees what these write.
  *
  * The analytics tables follow the schema and distribution shapes of
  * `graft.tools.SfGen` (which has a fixed salt and so cannot vary by
  * seed); the corpus, vector set and SBOMs are shaped for the workload
  * that reads them.
  */
object Gen {

  /** splitmix64 over (id, salt, seed) as a Spark column. */
  private def mix(seed: Long, salt: Long): Column =
    expr(s"xxhash64(CAST(id AS BIGINT) * 2654435761 + ${salt * 1000003L + seed}L)")

  private def u01(seed: Long, salt: Long): Column =
    shiftrightunsigned(mix(seed, salt), 11).cast("double") / lit((1L << 53).toDouble)

  private def uMod(seed: Long, salt: Long, n: Long): Column = pmod(mix(seed, salt), lit(n))

  private def pick(seed: Long, salt: Long, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (uMod(seed, salt, values.size.toLong) + 1).cast("int"))

  /** Writes `name`.parquet under `dir` once; a finished marker makes a
    * cached copy reusable across runs of the same (seed, size). */
  def cached(dir: Path)(write: Path => Unit): Path = {
    val done = dir.resolve("_GENERATED")
    if (!Files.exists(done)) {
      Files.createDirectories(dir)
      write(dir)
      Files.writeString(done, "")
    }
    dir
  }

  /** One single-file table `name`.parquet, the layout of the test data
    * in TESTDATA.md (DuckDB's oracle views read it by exact file name). */
  private def save(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"))
    Main.deleteTree(tmp)
  }

  /** The ten analytics tables. `mult` scales row counts the way SfGen's
    * multiplier does (1.0 = sf0.1's counts); `nEmb` sets the embeddings
    * row count independently, since the vector workload needs more
    * vectors than the analytics workload. */
  def tables(spark: SparkSession, seed: Long, mult: Double, nEmb: Long, dir: Path): Unit = {
    import spark.implicits._
    // the tables are independent: collect them, then write them as
    // concurrent Spark jobs
    val writes = ArrayBuffer.empty[() => Unit]
    def save(df: => DataFrame, dir: Path, name: String): Unit =
      writes += (() => Gen.save(df, dir, name))
    def n(base: Long): Long = math.max(1L, (base * mult).toLong)
    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrders = n(150000); val nEvents = n(100000); val nDocs = n(5000)
    val nUsers = n(1500)
    val s = seed

    save(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name"), dir, "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), dir, "nation")
    save(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uMod(s, 1, 25).cast("int").as("c_nationkey"),
      round(u01(s, 2) * 10999.65 - 999.85, 2).as("c_acctbal"),
      pick(s, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), dir, "customer")
    save(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uMod(s, 4, 25).cast("int").as("s_nationkey"),
      round(u01(s, 5) * 10999.65 - 999.85, 2).as("s_acctbal")), dir, "supplier")
    save(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(s, 6, Seq("large", "hot", "small", "cold", "dark", "light", "new", "old")),
        lit(" "), pick(s, 7, Seq("ring", "bolt", "wheel", "case", "drum", "plate", "tube", "cap")))
        .as("p_name"),
      concat(lit("Brand#"), uMod(s, 8, 25).cast("string")).as("p_brand"),
      pick(s, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (uMod(s, 10, 50) + 1).cast("int").as("p_size"),
      round(u01(s, 11) * 99.9 + 900.0, 2).as("p_retailprice")), dir, "part")
    val orderDays = uMod(s, 15, 2405)
    save(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      uMod(s, 12, nCust).as("o_custkey"),
      pick(s, 13, Seq("O", "P", "F")).as("o_orderstatus"),
      round(u01(s, 14) * 498991.27 + 1001.91, 2).as("o_totalprice"),
      (lit("1995-01-01").cast("timestamp") + make_dt_interval(orderDays.cast("int")))
        .as("o_orderdate"),
      pick(s, 16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), dir, "orders")
    // 1..8 lines per order, shipdate 1..95 days after the order date
    val ln = col("l_linenumber")
    def lineMod(salt: Long, k: Long, n: Long): Column = pmod(mix(s, salt) + ln * k, lit(n))
    save(spark.range(nOrders)
      .select(col("id"), explode(sequence(lit(1), (uMod(s, 17, 8) + 1).cast("int")))
        .as("l_linenumber"))
      .select(
        col("id").as("l_orderkey"),
        lineMod(18, 1, nPart).as("l_partkey"),
        lineMod(19, 7, nSupp).as("l_suppkey"),
        ln.cast("int").as("l_linenumber"),
        (lineMod(20, 13, 50) + 1).cast("double").as("l_quantity"),
        round(shiftrightunsigned(mix(s, 21) + ln * 31, 11).cast("double") /
          lit((1L << 53).toDouble) * 104099.23 + 900.68, 2).as("l_extendedprice"),
        (lineMod(22, 1, 11).cast("double") / 100.0).as("l_discount"),
        (lineMod(23, 1, 9).cast("double") / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (lineMod(24, 1, 3) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(lit("O"), lit("F")), (lineMod(25, 1, 2) + 1).cast("int"))
          .as("l_linestatus"),
        (lit("1995-01-01").cast("timestamp") +
          make_dt_interval((orderDays + lineMod(26, 1, 95) + 1).cast("int"))).as("l_shipdate")),
      dir, "lineitem")
    save(spark.range(nEvents).select(
      col("id").as("event_id"),
      (lit("2024-01-01").cast("timestamp") +
        make_dt_interval(lit(0), lit(0), lit(0), u01(s, 27) * lit(30.0 * 86400))).as("ts"),
      uMod(s, 28, nUsers).as("user_id"),
      pick(s, 29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(u01(s, 30) * 560.21, 2).as("value"),
      format_string("{\"k\": %d}", uMod(s, 31, 100)).as("props")), dir, "events")
    save(spark.createDataFrame(corpusRows(seed, nDocs, 0.002, 0.0))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), dir, "documents")
    save(embeddings(spark, seed, nEmb), dir, "embeddings")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try writes.map(w => pool.submit[Unit](() => w())).foreach(_.get())
    finally pool.shutdown()
  }

  /** 64-dim vectors, 10 labels with a weak per-label centre under
    * dominant noise (SfGen's profiled similarity density). */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"), uMod(seed, 38, 10).cast("int").as("label"))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, 63), d ->
             CAST(CASE pmod(xxhash64(CAST(label AS BIGINT) * 7919 + CAST(d AS BIGINT) + ${seed}L), 4)
                    WHEN 0 THEN 0.02 WHEN 1 THEN -0.02 ELSE 0.0 END
               + (CAST(shiftrightunsigned(xxhash64(CAST(vec_id AS BIGINT) * 2654435761
                    + CAST(d AS BIGINT) * 911 + ${seed}L), 11) AS DOUBLE) / 9007199254740992.0 - 0.5) * 0.2
               AS FLOAT))"""))
      .select(col("vec_id"), col("embedding"), col("label"))

  val stopwords: IndexedSeq[String] =
    IndexedSeq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Document rows (doc_id, text, lang, source, n_chars). A `nearDupShare`
    * of the docs are near-duplicates of an earlier doc (one word
    * replaced), `exactDupShare` are verbatim copies; the rest are
    * independent. Content words are drawn from a vocabulary that grows
    * with the corpus (Heaps' law, as SfGen scales it) and a tenth of the
    * tokens are stopwords, so docs pass or fail the quality gate on
    * their own length and stopword share. */
  def corpusRows(seed: Long, n: Long, exactDupShare: Double, nearDupShare: Double)
    : Seq[(Long, String, String, String, Long)] = {
    val vocab = math.max(200, math.round(40 * math.pow(n.toDouble, 0.55)).toInt)
    val langs = IndexedSeq("en", "en", "en", "en", "zh", "es", "de", "fr")
    val texts = new Array[Array[String]](n.toInt)
    def word(r: SplittableRandom): String = s"w${r.nextInt(vocab)}"
    (0L until n).map { id =>
      val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
      val u = r.nextDouble()
      val words =
        if (id > 0 && u < exactDupShare) texts(r.nextInt(id.toInt))
        else if (id > 0 && u < exactDupShare + nearDupShare) {
          val w = texts(r.nextInt(id.toInt)).clone()
          w(r.nextInt(w.length)) = word(r)
          w
        } else Array.fill(8 + r.nextInt(53)) {
          if (r.nextInt(10) == 0) stopwords(r.nextInt(stopwords.size)) else word(r)
        }
      texts(id.toInt) = words
      val text = words.mkString(" ")
      (id, text, langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}", text.length.toLong)
    }
  }

  /** The curation corpus: only the documents table (CorpusPipeline reads
    * nothing else). */
  def corpus(spark: SparkSession, seed: Long, n: Long, nearDupShare: Double, dir: Path): Unit =
    save(spark.createDataFrame(corpusRows(seed, n, 0.01, nearDupShare))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), dir, "documents")

  // ---------------------------------------------------------------- SBOMs

  /** One generated SBOM: the served document, the repository it is
    * ingested for, and the (name, expected license after mapping) of
    * every component it carries. */
  final case class Sbom(repository: String, json: String, expected: Seq[(String, String)])

  val repositories: IndexedSeq[String] = IndexedSeq("acme/web-portal", "acme/api", "acme/cli-tools")

  private val licenses = IndexedSeq("MIT", "Apache-2.0", "BSD-3-Clause", "ISC", "GPL-3.0-only",
    "MPL-2.0", "LGPL-2.1-only", "BSD-2-Clause")

  /** Package-name pool shared by the SBOMs and the mappings file. */
  private def pkgName(k: Int): String = s"pkg-$k"
  private val pkgPool = 5000

  /** License mappings: every third pool name maps to a license. */
  def licenseMappings: Map[String, String] =
    (0 until pkgPool by 3).map(k => pkgName(k) -> licenses(k % licenses.size)).toMap

  /** One pass of `n` SBOMs. Component counts are log-uniform between 10
    * and 20,000, one at the middle of each 1/n quantile band; a third of
    * the documents are SPDX, a quarter are `.sbom`-wrapped and the
    * repositories take equal turns. Each of these is assigned to the
    * documents by its own seeded shuffle, so every pass carries the same
    * mix and the per-pass cost is steady from seed to seed. */
  def sbomPass(seed: Long, n: Int): IndexedSeq[Sbom] = {
    val r = new SplittableRandom(seed ^ 0x5B0AL)
    val counts = componentCounts(r, n)
    val spdx = shuffle((0 until n).map(_ < (n + 1) / 3), r)
    val wrapped = shuffle((0 until n).map(_ < (n + 2) / 4), r)
    val repos = shuffle((0 until n).map(i => repositories(i % repositories.size)), r)
    (0 until n).map(i => sbom(seed, i, counts(i), repos(i), spdx(i), wrapped(i)))
  }

  private def componentCounts(r: SplittableRandom, n: Int): IndexedSeq[Int] = {
    val lo = math.log(10.0); val hi = math.log(20000.0)
    shuffle((0 until n).map { i =>
      math.round(math.exp(lo + (hi - lo) * (i + 0.5) / n)).toInt
    }, r)
  }

  def shuffle[A](xs: IndexedSeq[A], r: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  private def q(s: String): String = "\"" + s + "\""

  /** SBOM `i` of a seed for `repo`, with a planted mix of concrete,
    * unknown, empty and NOASSERTION licenses. `expected` is what the
    * component table must hold for it after license mapping. */
  def sbom(seed: Long, i: Int, components: Int, repo: String, spdx: Boolean,
    wrapped: Boolean): Sbom = {
    val r = new SplittableRandom(seed * 31 + i)
    val mappings = licenseMappings
    val comps = (0 until components).map { c =>
      val name = pkgName(r.nextInt(pkgPool))
      val version = s"${r.nextInt(5)}.${r.nextInt(20)}.$c"
      val kind = r.nextInt(10) // 0-5 concrete, 6-7 unknown, 8 empty, 9 NOASSERTION (SPDX)
      (name, version, kind, licenses(r.nextInt(licenses.size)))
    }
    def mapped(name: String): String = mappings.getOrElse(name, "unknown")
    val body = if (!spdx) {
      val cs = comps.map { case (name, version, kind, lic) =>
        val licField = kind match {
          case k if k <= 5 => s""","licenses":[{"license":{"id":${q(lic)}}}]"""
          case 8 => s""","licenses":[{"license":{"id":""}}]"""
          case _ => ""
        }
        s"""{"type":"library","name":${q(name)},"version":${q(version)},""" +
          s""""purl":${q(s"pkg:npm/$name@$version")}$licField}"""
      }
      s"""{"bomFormat":"CycloneDX","specVersion":"1.6","version":1,""" +
        s""""metadata":{"component":{"type":"application","name":${q(repo)}}},""" +
        s""""components":[${cs.mkString(",")}]}"""
    } else {
      val ps = comps.zipWithIndex.map { case ((name, version, kind, lic), c) =>
        val licField = kind match {
          case k if k <= 5 => s""","licenseConcluded":${q(lic)}"""
          case 6 | 7 => s""","licenseDeclared":"""""
          case 8 => s""","licenseConcluded":"""""
          case _ => s""","licenseConcluded":"NOASSERTION""""
        }
        s"""{"name":${q(name)},"SPDXID":"SPDXRef-$c","versionInfo":${q(version)}$licField,""" +
          s""""externalRefs":[{"referenceCategory":"PACKAGE-MANAGER","referenceType":"purl",""" +
          s""""referenceLocator":${q(s"pkg:npm/$name@$version")}}]}"""
      }
      s"""{"spdxVersion":"SPDX-2.3","SPDXID":"SPDXRef-DOCUMENT","name":${q(repo)},""" +
        s""""packages":[${ps.mkString(",")}]}"""
    }
    val expected = comps.map { case (name, _, kind, lic) =>
      val l = kind match {
        case k if k <= 5 => lic
        case 9 if spdx => "NOASSERTION"
        case _ => mapped(name)
      }
      name -> l
    }
    Sbom(repo, if (wrapped) s"""{"sbom":$body}""" else body, expected)
  }

  def writeLicenseMappings(dir: Path): Path = {
    val f = dir.resolve("license-mappings.json")
    if (!Files.exists(f)) {
      Files.createDirectories(dir)
      Files.writeString(f, licenseMappings.toSeq.sorted
        .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"))
    }
    f
  }
}
