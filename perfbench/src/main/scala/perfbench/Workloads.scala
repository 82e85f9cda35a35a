package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{PersistCache, SparkEntry, Tables}

/** One benchmark workload: how its inputs are made, what set-up it
  * needs before timing, the operations of each pass of its closed loop,
  * and the checks its outputs must pass. */
trait Workload {
  def name: String
  /** Unit of `items`, for the human-readable report. */
  def itemUnit: String
  /** Make (or reuse) the seeded inputs; not timed. */
  def generate(spark: SparkSession): Unit
  /** Work between session start and timing, timed as set-up. */
  def warm(spark: SparkSession, tr: Tracer): Unit
  /** Traced runs only: per-pass probes outside the timed operations. */
  def probe(spark: SparkSession, tr: Tracer): Unit = ()
  /** The operations of pass `p`, in order; each returns items done. */
  def pass(spark: SparkSession, tr: Tracer, p: Int): Seq[(String, () => Long)]
  /** Output checks, run after timing; returns the failures. */
  def check(spark: SparkSession): Seq[String]
  /** Where the inputs live (also swept by the I/O calibration). */
  def dataDir: Path
  /** (data dir, result dir) pairs for the DuckDB oracle comparison. */
  def oracleChecks: Seq[(Path, Path)] = Nil
  /** Workload-specific layer figures from the traced loop. */
  def layers(tr: Tracer): Seq[(String, Double)] = Nil
}

object Workload {
  def apply(name: String, seed: Long, work: Path): Workload = name match {
    case "olap_adhoc" => new RegistryQueries(name, seed, work, olapQueries, mult = 0.1,
      nEmb = 500, warmQuery = Some(olapWarm), buildIndexes = false, probeIndexes = true)
    case "vector_search" => new RegistryQueries(name, seed, work, vectorQueries, mult = 0.1,
      nEmb = 2500, warmQuery = None, buildIndexes = true, probeIndexes = false)
    case "sbom_ingest" => new SbomIngest(seed, work)
    case "corpus_curate" => new CorpusCurate(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** `k` registry queries spread evenly over the name-sorted matches of
    * `p`: a fixed systematic sample that keeps the cost mix of the whole
    * family while one pass fits in a run. */
  def systematic(k: Int)(p: String => Boolean): IndexedSeq[String] = {
    val all = SparkEntry.registry.map(_.name).filter(p).sorted.toIndexedSeq
    (0 until math.min(k, all.size)).map(i => all(i * all.size / math.min(k, all.size)))
  }

  private def olapFamily(n: String): Boolean = n.startsWith("q") || n.startsWith("sbom_")

  /** 24 of the 199 `q*` and `sbom_*` queries. */
  lazy val olapQueries: IndexedSeq[String] = systematic(24)(olapFamily)

  /** Run in every set-up so the first timed query does not pay the
    * JVM's warm-up alone; never one of the timed queries. */
  lazy val olapWarm: String =
    systematic(Int.MaxValue)(olapFamily).filterNot(olapQueries.contains).head

  /** 20 of the 37 `ann_*` and `embed_*` queries. */
  lazy val vectorQueries: IndexedSeq[String] =
    systematic(20)(n => n.startsWith("ann_") || n.startsWith("embed_"))
}

/** Registry queries in a closed loop over a seeded table set: built
  * through `SparkEntry.queries` and run to the `noop` sink, as
  * `graft.Bench` runs them. */
final class RegistryQueries(val name: String, seed: Long, work: Path,
  queries: IndexedSeq[String], mult: Double, nEmb: Long, warmQuery: Option[String],
  buildIndexes: Boolean, probeIndexes: Boolean) extends Workload {

  def itemUnit: String = "queries"
  val dataDir: Path = work.resolve(s"data/tables-s$seed-m$mult-e$nEmb")
  private val outDir = work.resolve(s"out/$name-s$seed")
  private lazy val fns = SparkEntry.queries
  /** Analysis time of each built query (Spark analyses while building,
    * so the execution listener never sees it). */
  private val analysisMs = ArrayBuffer.empty[Double]
  private val tableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def generate(spark: SparkSession): Unit =
    Gen.cached(dataDir)(Gen.tables(spark, seed, mult, nEmb, _))

  private def open(t: Tables, table: String) = table match {
    case "region" => t.region; case "nation" => t.nation; case "customer" => t.customer
    case "supplier" => t.supplier; case "part" => t.part; case "orders" => t.orders
    case "lineitem" => t.lineitem; case "events" => t.events; case "documents" => t.documents
    case "embeddings" => t.embeddings
  }

  def warm(spark: SparkSession, tr: Tracer): Unit = {
    val t = Tables(spark, dataDir.toString)
    tableNames.foreach(n => open(t, n).count())
    warmQuery.foreach(q => fns(q)(spark, dataDir.toString).write.format("noop").mode("overwrite").save())
    if (buildIndexes) buildAnn(t, tr)
  }

  private def buildAnn(t: Tables, tr: Tracer): Unit =
    graft.ann.Ann.buildSteps(t).foreach { case (step, run) => tr.span(s"Ann.build_$step")(run()) }

  /** Times every `Tables` accessor; with `probeIndexes`, also every
    * `Ann.buildSteps` step, from an empty session memo that is emptied
    * again afterwards so the timed queries never read those indexes. */
  override def probe(spark: SparkSession, tr: Tracer): Unit = {
    val t = Tables(spark, dataDir.toString)
    tableNames.foreach(n => tr.span(s"open.Tables.$n")(open(t, n)))
    if (probeIndexes) {
      PersistCache.invalidate(spark)
      buildAnn(t, tr)
      PersistCache.invalidate(spark)
    }
  }

  def pass(spark: SparkSession, tr: Tracer, p: Int): Seq[(String, () => Long)] = {
    val order = Gen.shuffle(queries, new SplittableRandom(seed * 1000003L + p))
    order.map { q =>
      q -> { () =>
        val df = tr.span("SparkEntry.construct")(fns(q)(spark, dataDir.toString))
        if (tr.enabled) analysisMs += df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs.toDouble).getOrElse(0.0)
        tr.span("execute")(df.write.format("noop").mode("overwrite").save())
        1L
      }
    }
  }

  /** A seeded sample of the oracle-backed queries, written for the
    * DuckDB comparison. */
  def check(spark: SparkSession): Seq[String] = {
    val oracle = SparkEntry.oracleSql
    val sample = Gen.shuffle(queries.filter(oracle.contains), new SplittableRandom(seed))
      .take(2)
    Main.deleteTree(outDir)
    Files.createDirectories(outDir)
    sample.foreach { q =>
      fns(q)(spark, dataDir.toString).coalesce(1).write.mode("overwrite")
        .parquet(outDir.resolve(q).toString)
    }
    Files.writeString(outDir.resolve("oracle_sql.json"),
      sample.map(q => s"${Json.str(q)}: ${Json.str(oracle(q))}").mkString("{", ",", "}"))
    Nil
  }

  override def oracleChecks: Seq[(Path, Path)] = Seq(dataDir -> outDir)

  override def layers(tr: Tracer): Seq[(String, Double)] = {
    val ops = tr.all.filter(_.parent == -1).filter(s => queries.contains(s.name))
    val builds = tr.named("SparkEntry.construct")
    val wall = ops.map(_.durNs).sum.toDouble
    // a job with a shuffle while the plan is being built is a
    // materialization (GroupedPrefix/GlobalRank stage pins), not a
    // table open's one-stage schema job
    val family = ops.zip(builds).filter { case (_, b) =>
      b.counts("shuffle_write_b") > 0 || b.counts("stages") > b.counts("jobs") }.map(_._1.name).distinct
    val ann = tr.all.filter(_.name.startsWith("Ann.build_")).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, ss) => s"${n}_ms" -> Trace.meanMs(ss) }
    Seq(
      "SparkEntry.construct_ms" -> Trace.meanMs(builds),
      "SparkEntry.construct_jobs" -> Trace.mean(builds.map(_.counts("jobs").toDouble)),
      "SparkEntry.analysis_ms" -> Trace.mean(analysisMs.toSeq),
      "construct_share" -> (if (wall > 0) builds.map(_.durNs).sum / wall else 0.0),
      "construct_materialize_queries" -> family.size.toDouble) ++ ann
  }
}

/** The reference's own job: `SbomPipeline.run` in normal mode, fed by an
  * in-memory transport, inserting into a few repository tables, each
  * insert followed by a read-back aggregate; every fifth insert the
  * tables are compacted. */
final class SbomIngest(seed: Long, work: Path) extends Workload {
  import graft.sources.{Fetcher, SbomPipeline, SbomSources}

  val name = "sbom_ingest"
  def itemUnit: String = "components"
  private val docsPerPass = 20
  private val compactEvery = 5
  private val root = work.resolve(s"out/$name-s$seed")
  private val tableRoot = root.resolve("tables")
  val dataDir: Path = work.resolve(s"data/sbom-s$seed")
  private lazy val mappings = Gen.writeLicenseMappings(dataDir)

  /** Planted (table → license → count), what each read-back saw against
    * what had been planted by then, and the table's parquet file count
    * before each traced read-back. */
  private val planted = scala.collection.mutable.Map.empty[String, Map[String, Long]]
  private val readbacks = ArrayBuffer.empty[(String, Map[String, Long], Map[String, Long])]
  private val fileSamples = ArrayBuffer.empty[Double]
  private var inserts = 0

  /** Writes the mappings file; tables left by an earlier run are removed
    * so the planted counts describe the whole table. */
  def generate(spark: SparkSession): Unit = { Main.deleteTree(root); mappings; () }

  /** The table `SbomPipeline` derives for a repository under `under`. */
  private def table(under: Path, repo: String): String =
    under.resolve(repo.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase).toString

  private def ingest(spark: SparkSession, tr: Tracer, sbom: Gen.Sbom, key: String,
    into: Path): Long = {
    val transport = new Fetcher.DirectTransport {
      def request(): Either[String, String] = Right(key)
      def download(token: String): Either[String, String] = Right(sbom.json)
    }
    val cfg = SbomPipeline.Config(source = "github", repository = Some(sbom.repository),
      s3Key = s"$key.json", bucketDir = root.resolve("bucket").toUri.toString,
      tableRoot = Some(into.toUri.toString), licenseMappings = Some(mappings.toUri.toString))
    tr.span("SbomPipeline.run")(SbomPipeline.run(spark, cfg, Some(transport))).componentCount
  }

  def warm(spark: SparkSession, tr: Tracer): Unit = {
    val into = root.resolve("warm")
    val sbom = Gen.sbom(seed, -1, 10, Gen.repositories(0), spdx = false, wrapped = false)
    ingest(spark, tr, sbom, "warm", into)
    SbomSources.readComponentTable(spark, table(into, sbom.repository))
      .groupBy("license").count().collect()
    ()
  }

  def pass(spark: SparkSession, tr: Tracer, p: Int): Seq[(String, () => Long)] = {
    Gen.sbomPass(seed * 7919L + p, docsPerPass).zipWithIndex.map { case (sbom, i) =>
      "ingest" -> { () =>
        val n = ingest(spark, tr, sbom, s"sbom-$p-$i", tableRoot)
        val t = table(tableRoot, sbom.repository)
        planted(t) = sbom.expected.groupBy(_._2).foldLeft(planted.getOrElse(t, Map.empty)) {
          case (m, (lic, xs)) => m.updated(lic, m.getOrElse(lic, 0L) + xs.size)
        }
        inserts += 1
        if (inserts % compactEvery == 0) tr.span("SbomSources.compactComponentTable") {
          planted.keys.foreach(SbomSources.compactComponentTable(spark, _))
        }
        if (tr.enabled) fileSamples += Main.parquetFiles(Paths.get(t)).toDouble
        val df = tr.span("open.SbomSources.readComponentTable")(
          SbomSources.readComponentTable(spark, t))
        val seen = tr.span("readback")(df.groupBy("license").count().collect())
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        readbacks += ((t, seen, planted(t)))
        n
      }
    }
  }

  def check(spark: SparkSession): Seq[String] = {
    val stale = readbacks.zipWithIndex.collect { case ((t, seen, want), i) if seen != want =>
      s"read-back $i of $t: saw $seen, planted $want" }
    val tables = planted.toSeq.flatMap { case (t, want) =>
      val df = SbomSources.readComponentTable(spark, t)
      val got = df.groupBy("license").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val rows = df.count()
      (if (rows != want.values.sum) Seq(s"$t: ${rows} rows, planted ${want.values.sum}") else Nil) ++
        (if (got != want) Seq(s"$t: license counts $got, planted $want") else Nil)
    }
    stale.take(3).toSeq ++ tables
  }

  override def layers(tr: Tracer): Seq[(String, Double)] = {
    val runs = tr.named("SbomPipeline.run").filter(_.parent != -1)
    Seq(
      "SbomPipeline.run_ms" -> Trace.meanMs(runs),
      "SbomPipeline.jobs" -> Trace.mean(runs.map(_.counts("jobs").toDouble)),
      "readback_ms" -> Trace.meanMs(tr.named("readback")),
      "SbomSources.compact_ms" -> Trace.meanMs(tr.named("SbomSources.compactComponentTable")),
      "SbomSources.table_files" -> Trace.mean(fileSamples.toSeq))
  }
}

/** One `CorpusPipeline.run` per operation over a seeded corpus with a
  * planted near-duplicate share, each with a fresh session memo, each
  * writing the sharded corpus and its manifest. */
final class CorpusCurate(seed: Long, work: Path) extends Workload {
  import graft.text.CorpusPipeline

  val name = "corpus_curate"
  def itemUnit: String = "docs"
  val docs = 8000L
  val nearDupShare = 0.2
  val dataDir: Path = work.resolve(s"data/corpus-s$seed-n$docs")
  private val outDir = work.resolve(s"out/$name-s$seed")
  private val results = ArrayBuffer.empty[CorpusPipeline.Result]

  def generate(spark: SparkSession): Unit =
    Gen.cached(dataDir)(Gen.corpus(spark, seed, docs, nearDupShare, _))

  def warm(spark: SparkSession, tr: Tracer): Unit = {
    Tables(spark, dataDir.toString).documents.count()
    ()
  }

  override def probe(spark: SparkSession, tr: Tracer): Unit = {
    tr.span("open.Tables.documents")(Tables(spark, dataDir.toString).documents)
    ()
  }

  def pass(spark: SparkSession, tr: Tracer, p: Int): Seq[(String, () => Long)] =
    Seq("curate" -> { () =>
      PersistCache.invalidate(spark)
      val t = Tables(spark, dataDir.toString)
      if (tr.enabled) graft.dedup.Dedup.buildSteps(t)
        .filter { case (step, _) => step == "sim_pairs" || step == "cc_labels" }
        .foreach { case (step, run) => tr.span(s"Dedup.$step")(run()) }
      val r = tr.span("CorpusPipeline.run")(
        CorpusPipeline.run(t, CorpusPipeline.Config(outDir = outDir.toString)))
      results += r
      println(s"[perfbench] curate stages: ${r.stages.map(y => s"${y.stage}=${y.docs}").mkString(" ")}")
      r.stages.head.docs
    })

  def check(spark: SparkSession): Seq[String] = {
    val yields = results.map(_.stages.map(s => (s.stage, s.docs, s.tokens)))
    val shrinking = yields.headOption.toSeq.flatMap { ys =>
      ys.sliding(2).collect { case Seq(a, b) if b._2 > a._2 || b._3 > a._3 =>
        s"stage ${b._1} grew from ${a._1}: $a -> $b" }
    }
    val repeatable = yields.distinct.size match {
      case n if n > 1 => Seq(s"stage yields differ between runs of seed $seed: ${yields.distinct}")
      case _ => Nil
    }
    // yields of this seed recorded by an earlier run must match too
    val record = work.resolve(s"out/$name-yields-s$seed-n$docs.txt")
    val mine = yields.headOption.map(_.mkString(";")).getOrElse("")
    val earlier =
      if (Files.exists(record)) {
        val prior = Files.readString(record)
        if (prior != mine) Seq(s"stage yields differ from an earlier run: $prior vs $mine") else Nil
      } else { Files.writeString(record, mine); Nil }
    val readBack = results.lastOption.toSeq.flatMap { r =>
      val corpus = spark.read.parquet(outDir.resolve("corpus").toString)
        .agg(count(lit(1)), coalesce(sum(col("n_tok")), lit(0L))).head()
      val man = spark.read.parquet(outDir.resolve("manifest").toString)
        .agg(coalesce(sum(col("n_docs")), lit(0L)), coalesce(sum(col("n_tokens")), lit(0L))).head()
      Seq(
        ("corpus docs", corpus.getLong(0), r.docsWritten),
        ("corpus tokens", corpus.getLong(1), r.tokensWritten),
        ("manifest docs", man.getLong(0), r.docsWritten),
        ("manifest tokens", man.getLong(1), r.tokensWritten))
        .collect { case (what, got, want) if got != want => s"$what read back $got, wrote $want" }
    }
    shrinking ++ repeatable ++ earlier ++ readBack
  }

  override def layers(tr: Tracer): Seq[(String, Double)] = {
    val runs = tr.named("CorpusPipeline.run")
    val cc = tr.named("Dedup.cc_labels")
    Seq(
      "Dedup.sim_pairs_ms" -> Trace.meanMs(tr.named("Dedup.sim_pairs")),
      "Dedup.cc_labels_ms" -> Trace.meanMs(cc),
      "Dedup.cc_labels_jobs" -> Trace.mean(cc.map(_.counts("jobs").toDouble)),
      "Dedup.cc_labels_shuffle_mb" -> Trace.mean(cc.map(s =>
        (s.counts("shuffle_write_b") + s.counts("shuffle_read_b")) / 1048576.0)),
      "CorpusPipeline.run_ms" -> Trace.meanMs(runs),
      "CorpusPipeline.jobs" -> Trace.mean(runs.map(_.counts("jobs").toDouble)),
      "CorpusPipeline.files_written" -> Main.parquetFiles(outDir).toDouble,
      "near_dup_share_planted" -> nearDupShare,
      "neardup_cut_removed" -> results.lastOption.map { r =>
        val by = r.stages.map(s => s.stage -> s.docs).toMap
        (by("exact_dedup") - by("neardup_cut")).toDouble / docs
      }.getOrElse(0.0))
  }
}
