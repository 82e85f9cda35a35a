package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point for one workload and seed.
  *
  * Set up `setups` times (median reported), then run whole passes of the
  * workload's closed loop until `--seconds` have elapsed, check the
  * outputs, and write the end-to-end metrics. With `--trace 1` the loop
  * also records spans and listener counts, and the per-layer metrics and
  * the spans are written too; the tracing overhead is the client time
  * spent at span boundaries draining the listener bus, per operation.
  *
  * The result goes to `<work>/result-<workload>-s<seed>-t<trace>.json`; `run.py` adds the DuckDB
  * oracle verdict and prints the final line.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  /** Set-ups per run; `setup_s` is their median. */
  val setups = 3

  final case class Op(name: String, ms: Double, items: Long, ok: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  /** Parquet files under `p`. */
  def parquetFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count().toInt finally s.close()
    }

  /** A session configured exactly as `graft.Bench` configures it, with
    * its scratch space kept inside the work directory. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** (rchar, wchar) of this process, or zeros where /proc is absent. */
  private def procIo(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/self/io")
    val m = try src.getLines().map(_.split(":\\s*"))
      .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    finally src.close()
    (m.getOrElse("rchar", 0L), m.getOrElse("wchar", 0L))
  } catch { case NonFatal(_) => (0L, 0L) }

  private def cached(spark: SparkSession): (Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    ((infos.map(_.memSize).sum + infos.map(_.diskSize).sum) / 1048576.0, infos.length)
  }

  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 2 }
    sys.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    Files.createDirectories(o.work)
    val wl = Workload(o.workload, o.seed, o.work)
    var spark: SparkSession = null
    var counters: Option[Counters] = None
    val tr = new Tracer(spark, counters)

    // set-up, several times; input generation is excluded from the first
    val setupS = ArrayBuffer.empty[Double]
    val starts = ArrayBuffer.empty[Double]
    var genNs = 0L
    for (k <- 0 until setups) {
      if (spark != null) { spark.stop(); spark = null }
      val s0 = if (k == 0) t0 else System.nanoTime()
      val b0 = System.nanoTime()
      spark = session(o.work)
      starts += (System.nanoTime() - b0) / 1e6
      if (k == 0) {
        val g0 = System.nanoTime()
        wl.generate(spark)
        genNs = System.nanoTime() - g0
      }
      if (o.trace) counters = Some(Counters.install(spark))
      wl.warm(spark, tr)
      if (o.trace) { Counters.uninstall(spark, counters.get); counters = None }
      setupS += (System.nanoTime() - s0 - (if (k == 0) genNs else 0L)) / 1e9
    }
    println(f"[perfbench] ${o.workload} seed=${o.seed}: inputs ${genNs / 1e9}%.2f s, " +
      s"set-ups ${setupS.map(s => f"$s%.2f").mkString(", ")} s")

    // one closed-loop client; whole passes until the time is up
    def loop(): (Seq[Op], Seq[(Double, Int)]) = {
      val ops = ArrayBuffer.empty[Op]
      val cache = ArrayBuffer.empty[(Double, Int)]
      val start = System.nanoTime()
      var p = 0
      while (p == 0 || System.nanoTime() - start < o.seconds * 1000000000L) {
        if (tr.enabled) wl.probe(spark, tr)
        for ((name, run) <- wl.pass(spark, tr, p)) {
          tr.op += 1
          val s = System.nanoTime()
          val (items, ok) =
            try (tr.span(name)(run()), true)
            catch { case NonFatal(e) =>
              System.err.println(s"[perfbench] $name failed: $e"); (0L, false)
            }
          ops += Op(name, (System.nanoTime() - s) / 1e6, items, ok)
          if (tr.enabled) cache += cached(spark)
        }
        p += 1
      }
      (ops.toSeq, cache.toSeq)
    }

    val e2e = new java.util.LinkedHashMap[String, (Double, String)]()
    val layer = new java.util.LinkedHashMap[String, (Double, String)]()
    if (o.trace) counters = Some(Counters.install(spark))
    val gc0 = gcMs(); val (r0, w0) = procIo(); val l0 = System.nanoTime()
    val (ops, cache) = loop()
    val wallMs = (System.nanoTime() - l0) / 1e6
    val gc = gcMs() - gc0; val (r1, w1) = procIo()

    // the median operation time is printed by `report`, not returned: it
    // moves with run-to-run JVM noise more than the whole-pass rate does
    val busyS = ops.map(_.ms).sum / 1000
    e2e.put("setup_s", (Stats.median(setupS.toSeq), "s"))
    e2e.put("items_per_s", (ops.map(_.items).sum / busyS, "1/s"))
    report(wl, ops)

    if (o.trace) {
      def put(k: String, v: Double, unit: String): Unit = layer.put(k, (v, unit))
      val n = ops.size.toDouble
      val opSpans = tr.all.filter(s => s.parent == -1 && ops.exists(_.name == s.name))
      val sum = opSpans.map(_.counts).foldLeft(Counts.zero)(_ + _)
      def per(k: String): Double = sum(k) / n
      val cores = Runtime.getRuntime.availableProcessors
      val opens = tr.all.filter(_.name.startsWith("open."))
      put("GraftSession.start_ms", Stats.median(starts.toSeq), "ms")
      put("table_open_ms", Trace.meanMs(opens), "ms")
      put("table_open_jobs", Trace.mean(opens.map(_.counts("jobs").toDouble)), "count")
      put("catalyst.analysis_ms", per("analysis_ms"), "ms")
      put("catalyst.optimization_ms", per("optimization_ms"), "ms")
      put("catalyst.planning_ms", per("planning_ms"), "ms")
      put("sched.jobs", per("jobs"), "count")
      put("sched.stages", per("stages"), "count")
      put("sched.tasks", per("tasks"), "count")
      put("sched.task_overhead_ms", (sum("task_wall_ms") - sum("task_run_ms")) / n, "ms")
      put("exec.task_run_ms", per("task_run_ms"), "ms")
      put("exec.task_cpu_ms", per("task_cpu_ns") / 1e6, "ms")
      put("exec.gc_ms", gc / n, "ms")
      put("exec.occupancy", sum("task_run_ms") / (opSpans.map(_.durNs).sum / 1e6 * cores), "ratio")
      put("shuffle.write_mb", per("shuffle_write_b") / 1048576.0, "MB")
      put("shuffle.read_mb", per("shuffle_read_b") / 1048576.0, "MB")
      put("io.read_mb", (r1 - r0) / n / 1048576.0, "MB")
      put("io.write_mb", (w1 - w0) / n / 1048576.0, "MB")
      put("cache.retained_mb", cache.lastOption.map(_._1).getOrElse(0.0), "MB")
      put("cache.rdds", cache.lastOption.map(_._2.toDouble).getOrElse(0.0), "count")
      put("trace.overhead_ms", tr.bookkeepingNs / 1e6 / n, "ms")
      val extra = wl.layers(tr) ++ Seq(
        "shuffle.fetch_wait_ms" -> per("fetch_wait_ms"),
        "spill.mb" -> per("spill_b") / 1048576.0,
        "cache.peak_mb" -> (if (cache.isEmpty) 0.0 else cache.map(_._1).max),
        "loop_wall_ms" -> wallMs)
      extra.foreach { case (k, v) => println(f"[perfbench] layer $k%-32s $v%.3f") }
      val traceFile = o.work.resolve(s"trace-${o.workload}-s${o.seed}.json")
      Files.writeString(traceFile,
        s"""{"workload":"${o.workload}","seed":${o.seed},"cores":$cores,""" +
          s""""layers":${Json.obj(extra)},"spans":${tr.json}}""")
      println(s"[perfbench] spans written to $traceFile")
      Counters.uninstall(spark, counters.get); counters = None
    }
    val failures = safeCheck(wl, spark)
    failures.foreach(f => println(s"[perfbench] CHECK FAILED: $f"))
    Files.writeString(o.work.resolve(s"ops-${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}.tsv"),
      ops.map(op => s"${op.name}\t${op.ms}\t${op.items}\t${op.ok}\n").mkString)
    val calib = calibration(wl.dataDir)
    spark.stop()
    val failed = ops.count(!_.ok)
    def metrics(m: java.util.LinkedHashMap[String, (Double, String)]): String = {
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, (v, unit)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(unit)}}"
      }.mkString("{", ",", "}")
    }
    val oracle = wl.oracleChecks.map { case (d, out) => s"[${Json.str(d.toString)},${Json.str(out.toString)}]" }
    Files.writeString(o.work.resolve(s"result-${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}.json"),
      s"""{"correct":${failures.isEmpty && failed == 0},"attempted":${ops.size},"failed":$failed,""" +
        s""""e2e":${metrics(e2e)},"layers":${metrics(layer)},"oracle":[${oracle.mkString(",")}],""" +
        s""""calibration":$calib}""")
  }

  private def safeCheck(wl: Workload, spark: SparkSession): Seq[String] =
    try wl.check(spark)
    catch { case NonFatal(e) => Seq(s"check threw: $e") }

  /** Per-operation latency summary: the median, and the highest
    * percentile above it that has at least ten samples beyond it. */
  private def report(wl: Workload, ops: Seq[Op]): Unit = {
    val ms = ops.filter(_.ok).map(_.ms)
    val tail = Stats.highestReportable(ms.size).filter(_ > 50)
      .flatMap(p => Stats.percentile(ms, p).map(v => f", p${p.toInt}=$v%.1f ms")).getOrElse("")
    val med = if (ms.isEmpty) "no successful operation" else f"median=${Stats.median(ms)}%.1f ms"
    println(f"[perfbench] ${wl.name}: ${ops.size} ops, ${ops.map(_.items).sum} ${wl.itemUnit}, $med$tail")
    ops.groupBy(_.name).toSeq.sortBy(-_._2.map(_.ms).sum).take(5).foreach { case (n, xs) =>
      println(f"[perfbench]   $n%-28s n=${xs.size}%3d median=${Stats.median(xs.map(_.ms))}%.1f ms")
    }
  }

  /** Host calibration recorded beside every run (context, not a metric):
    * the fixed-work CPU spin at one thread and at full width, and the
    * fixed-work read sweep over the run's data directory. */
  private def calibration(data: Path): String = {
    val cores = Runtime.getRuntime.availableProcessors
    val c1 = graft.Bench.calibSpin(1, 30000000L)
    val cn = graft.Bench.calibSpin(cores, 30000000L)
    val (io, ioWarm) = graft.Bench.ioSpin(data.toString, 16L << 20, 32L << 20)
    s"""{"calib_1t_s":${Json.num(c1)},"calib_${cores}t_s":${Json.num(cn)},""" +
      s""""io_mbps":${Json.num(io)},"io_warm_mbps":${Json.num(ioWarm)}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}
