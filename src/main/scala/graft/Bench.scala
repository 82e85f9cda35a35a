package graft

/** Benchmark main: times every registry query at SPARK_GRAFT_SF_DIR and
  * prints ONE compact JSON line. Queries run in deterministic sorted
  * order, each SPARK_GRAFT_BENCH_REPS (default 3) times, and the line
  * reports per-query MEDIANS plus a `max_spread` field — single-run
  * timings proved untrustworthy (round 4: two untouched queries swung
  * 10-15x from GC/JIT noise). The harness that consumes this output
  * keeps only the last ~2000 bytes of the log, so the line is emitted
  * last (build.sbt suppresses sbt's "[success]" trailer) and budgeted to
  * fit that window: per-query seconds are rounded to 3 decimals and the
  * fastest queries are rolled up into an `_other` entry when the full
  * map would overflow. Full-precision timings for local analysis go to
  * /tmp/graft_bench_full.json.
  *
  * Shared index structures (simhash pair graph + CC labels; IVF cells/
  * probes; PQ codes) are built in an explicit warm-up phase and reported
  * as `_build_*` entries — otherwise the whole build cost lands on
  * whichever sharing query happens to run first, masking both build and
  * search regressions.
  *
  * A query that throws is reported as `"name":"err"` (and counted in
  * `errors`) instead of a near-zero timing — a broken operator must
  * never bench as fast.
  */
object Bench {

  /** One timed entry: name, wall seconds, whether it threw. */
  final case class Timing(name: String, sec: Double, err: Boolean)

  /** Per-query diagnostic counters (worst rep): GC millis, cached-block
    * footprint after the run, and the I/O deltas — in_mb (logical
    * read() bytes via /proc/self/io rchar), rd_mb (bytes that hit the
    * storage layer via read_bytes — past the page cache), sh_mb
    * (task-metric shuffle read+write).
    */
  final case class QDiag(gcMs: Long = 0L, memMb: Long = 0L,
    diskMb: Long = 0L, inMb: Long = 0L, rdMb: Long = 0L, shMb: Long = 0L)

  private def r3(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Timed runs per query: SPARK_GRAFT_BENCH_REPS, default 3. */
  def benchReps: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)

  /** Upper median (index n/2 of the sorted runs) — for the usual 3 reps
    * this is the true median; robust against one slow JIT/GC outlier,
    * which is exactly what single-run timings are not (round 4 showed
    * untouched queries swinging 10-15x run to run).
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** Build the one-line JSON contract from raw timings (pure; spec'd by
    * BenchSpec). Errors sort first so they are never rolled into the
    * `_other` bucket; remaining entries are slowest-first and cut at the
    * FIRST entry that doesn't fit (the map must be exactly the
    * errors+slowest-N prefix or readers would conclude a long-named slow
    * query sits in the fast _other bucket). ~60 bytes stay reserved for
    * the rollup entries. If even the error entries overflow the budget
    * (mass breakage), the dropped errored queries surface as an explicit
    * `"_other_err_N"` marker — never as seconds in the numeric rollup,
    * which would make broken operators read as fast.
    */
  def buildLine(results: Seq[Timing], sfDir: String, budget: Int = 1600,
                reps: Int = 1, maxSpread: Double = 0.0,
                stealPct: Double = -1.0, diagJson: String = "",
                calib1t: Double = -1.0, calib32t: Double = -1.0,
                calibIoMbps: Double = -1.0,
                calibIoWarmMbps: Double = -1.0): String = {
    val total = results.map(_.sec).sum
    val errors = results.count(_.err)
    val sorted = results.sortBy(t => (!t.err, -t.sec))
    def render(t: Timing): String =
      "\"" + t.name + "\":" + (if (t.err) "\"err\"" else r3(t.sec))
    // Flagged-query diagnostics (gc/spread/cache/input for anything
    // slower than 2x its all-rounds best) ride INSIDE the budget: the
    // artifact must carry its own noise-vs-plan attribution, but never
    // at the cost of pushing the line out of the consumer's log-tail
    // window.
    val diagField = if (diagJson.isEmpty) "" else s""""diag":{$diagJson},"""
    // reps/max_spread appear only for multi-run benches so the single-run
    // contract (and its log-tail size bound) is unchanged.
    val repsField =
      if (reps > 1) s""""reps":$reps,"max_spread":${r3(maxSpread)},""" else ""
    // Host CPU-steal over the run (virtualized hosts only): >10% means the
    // hypervisor took that share of our cycles and wall-times are inflated
    // by contention we cannot control — readers should compare medians
    // across rounds with this number beside them.
    val stealField = if (stealPct >= 0) s""""steal_pct":${r3(stealPct)},""" else ""
    // Fixed-work CPU calibration (r13 verdict's ask): the same integer-
    // hash spin timed single-thread and at full width, run before the
    // reps. A slow HOST moves these numbers with the query medians; a
    // slow PLAN moves only the medians — the attribution BENCH_r13
    // could not make (259.4 s driver vs 230.7 s quiet-host replay on
    // identical code, steal 0.06%) now lives in the artifact itself.
    val calibField =
      if (calib1t >= 0 && calib32t >= 0)
        s""""calib_1t":${r3(calib1t)},"calib_32t":${r3(calib32t)},"""
      else ""
    // Fixed-work I/O calibration (r14 verdict's ask): BENCH_r14 flagged
    // four scan-heavy queries at 2.9-6.2x their all-rounds best while
    // calib_32t read ~the record — the CPU spin CLEARED the host, so the
    // residual hypothesis was a non-CPU resource (storage / page cache).
    // These two numbers test exactly that: MB/s for a sequential pass
    // over the SF dir's parquet bytes (first touch), then for >=128 MiB
    // of warm re-reads (pure page-cache/memory-bandwidth work). A host
    // with storage or memory pressure shows it HERE while the CPU calib
    // stays flat — the attribution r14 could not make.
    val calibIoField =
      if (calibIoMbps >= 0 && calibIoWarmMbps >= 0)
        s""""calib_io_mbps":${r3(calibIoMbps)},""" +
          s""""calib_io_warm_mbps":${r3(calibIoWarmMbps)},"""
      else ""
    // ALL envelope fields come out of the queries budget (not just diag):
    // the line self-bounds at ~budget+60 no matter which diagnostics a
    // round carries, so new fields can never push the artifact out of
    // the consumer's ~2000-byte log-tail window.
    val envelope = repsField + stealField + calibField + calibIoField +
      diagField
    val sb = new StringBuilder
    var kept = 0
    var fits = true
    while (fits && kept < sorted.length) {
      val entry = (if (sb.isEmpty) "" else ",") + render(sorted(kept))
      if (sb.length + entry.length <= budget - 60 - envelope.length) {
        sb.append(entry); kept += 1
      }
      else fits = false
    }
    val dropped = sorted.drop(kept)
    val (droppedErr, droppedOk) = dropped.partition(_.err)
    def sep: String = if (sb.isEmpty) "" else ","
    if (droppedErr.nonEmpty)
      sb.append(sep + "\"_other_err_" + droppedErr.size + "\":\"err\"")
    if (droppedOk.nonEmpty)
      sb.append(sep + "\"_other_" + droppedOk.size + "q\":" + r3(droppedOk.map(_.sec).sum))
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","errors":$errors,""" +
      envelope +
      s""""queries":{$sb},"sf":"$sfDir"}"""
  }

  /** Per-query BEST (minimum) seconds across EVERY BENCH_r*.json in `dir`
    * plus the quiet-host local records in `dir`/docs (bench_r*_local
    * .json) — the reference the slow-query flag compares against. The
    * trailing-round reference used through r11 had a ratchet blindspot: a
    * regression that PERSISTS becomes its own reference after one round
    * and self-exempts from the diagnostics built for exactly that case
    * (dedup_semantic read ~9x its quiet-host level in r10 AND r11 with no
    * diag entry). The all-rounds minimum is an absolute reference — once
    * a query has ever run fast, every later slow reading keeps firing the
    * gc/mem/disk attribution until the cause is fixed or diagnosed.
    * Envelope fields the regex also catches (value, reps, …) can never
    * collide with registry query names; absent/unreadable → empty.
    */
  def bestRoundSecs(dir: String = "."): Map[String, Double] = try {
    def jsons(d: java.io.File, pat: String): Array[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.matches(pat))
    val fs = jsons(new java.io.File(dir), "BENCH_r\\d+\\.json") ++
      jsons(new java.io.File(dir, "docs"), "bench_r\\d+_local\\.json")
    fs.foldLeft(Map.empty[String, Double]) { (acc, f) =>
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "\"([A-Za-z0-9_]+)\":([0-9]+\\.?[0-9]*)".r.findAllMatchIn(txt)
        .foldLeft(acc) { (m, g) =>
          val (k, v) = (g.group(1), g.group(2).toDouble)
          m.updated(k, math.min(v, m.getOrElse(k, Double.MaxValue)))
        }
    }
  } catch { case _: Throwable => Map.empty }

  /** Compact diag entries for flagged queries: slower than 2x the
    * all-rounds-best reading (and >1 s), or rep spread >2x on a >2 s
    * query — the two contention signatures that burned judge time in
    * r6–r11. Slowest-first, capped at `cap` bytes so the contract line
    * keeps its size bound. Pure; spec'd by BenchSpec.
    *
    * `calibFactor` (≥1) normalizes the 2x-vs-best rule by the HOST: it
    * is this run's calib_32t over the fastest calib_32t any artifact
    * has recorded, so a query on a host measuring 1.4x slower on fixed
    * CPU work must read >2.8x its cross-host best before it flags — a
    * uniformly slow host stops flagging plans it didn't regress
    * (r13's dedup_ngram_jaccard false-flag), while a genuine plan
    * regression still fires because calibration doesn't move with it.
    * The spread rule is per-run and needs no host normalization.
    *
    * Each entry also carries the query's I/O deltas — r14's four flags
    * had calibFactor ~1.0 and zero gc/cache signal, leaving "how much
    * did this query actually pull from storage?" unanswerable from the
    * artifact. in_mb/rd_mb come from /proc/self/io (rchar = logical
    * read() bytes, read_bytes = bytes that HIT THE STORAGE LAYER —
    * past the page cache), which in local mode covers the whole query:
    * Spark 4's vectorized parquet path bypasses Hadoop FS statistics,
    * so task inputMetrics see ~0 of an 11 MB scan (measured). sh_mb is
    * task-metric shuffle read+write (that plumbing works). The
    * signature that closes r14's open question: a flagged query with
    * in_mb at its quiet-host level but rd_mb > 0 on every rep is
    * re-reading evicted page cache — host storage pressure, not the
    * plan; calib_io_warm_mbps low confirms it.
    */
  def diagEntries(
    runs: Seq[(String, Seq[Double])],
    perQueryDiag: Map[String, QDiag],
    prior: Map[String, Double],
    cap: Int = 520,
    calibFactor: Double = 1.0): String = {
    val cf = math.max(calibFactor, 1.0)
    val flagged = runs.flatMap { case (name, secs) =>
      if (secs.isEmpty) None else {
        val med = median(secs)
        val spr = (secs.max - secs.min) / math.max(med, 1e-9)
        val slowVsPrior =
          prior.get(name).exists(p => med > 2 * p * cf && med > 1.0)
        if (slowVsPrior || (spr > 2.0 && med > 2.0)) {
          val d = perQueryDiag.getOrElse(name, QDiag())
          Some((med, s""""$name":{"gc_ms":${d.gcMs},"spread":${r3(spr)},""" +
            s""""mem_mb":${d.memMb},"disk_mb":${d.diskMb},""" +
            s""""in_mb":${d.inMb},"rd_mb":${d.rdMb},"sh_mb":${d.shMb}}"""))
        } else None
      }
    }.sortBy(-_._1).map(_._2)
    val sb = new StringBuilder
    var fits = true
    for (e <- flagged if fits) {
      val entry = (if (sb.isEmpty) "" else ",") + e
      if (sb.length + entry.length <= cap) sb.append(entry) else fits = false
    }
    sb.toString
  }

  /** Per-query scaling slope between a low-SF and a high-SF timing map:
    * slope = hi/lo wall seconds. With testdata SFs 10x apart in rows, a
    * LINEAR operator reads ~<=10 plus constant-cost dilution (usually
    * well under); a slope past `flagRatio` (default 15 — the 10x row
    * growth plus generous JIT/GC headroom) on a query whose high-SF
    * median is at least `hiFloorSec` (tiny-timing ratios are noise, not
    * scaling laws: 0.05 s -> 0.9 s is jitter either side) flags the
    * query as empirically super-linear — the one failure mode no plan
    * reading catches reliably. Pure; spec'd by BenchSpec. Returns
    * (name, loSec, hiSec, slope, flagged) sorted slope-desc so the
    * artifact leads with the worst scaler.
    */
  def scalingSlopes(lo: Map[String, Double], hi: Map[String, Double],
    flagRatio: Double = 15.0, hiFloorSec: Double = 2.0)
    : Seq[(String, Double, Double, Double, Boolean)] =
    hi.keys.toSeq.filter(lo.contains).map { k =>
      val l = lo(k); val h = hi(k)
      val slope = h / math.max(l, 1e-9)
      (k, l, h, slope, slope > flagRatio && h >= hiFloorSec)
    }.sortBy { case (n, _, _, s, _) => (-s, n) }

  /** Parse a /tmp/graft_bench_full.json dump back into per-query rep
    * seconds (errored reps are dropped; a query whose every rep errored
    * is absent). The dump is written by this object, so the shape is
    * closed: `"name":{"sec":[…],…}`. Pure; spec'd by BenchSpec.
    */
  def parseFullDump(txt: String): Map[String, Seq[Double]] =
    "\"([A-Za-z0-9_]+)\":\\{\"sec\":\\[([^\\]]*)\\]".r
      .findAllMatchIn(txt).map { m =>
        val secs = m.group(2).split(",").toSeq.map(_.trim)
          .filter(s => s.nonEmpty && !s.contains("err"))
          .map(_.toDouble)
        m.group(1) -> secs
      }.filter(_._2.nonEmpty).toMap

  /** Fixed-work host calibration: `threads` workers each fold
    * `perThread` rounds of a 64-bit splitmix-style integer hash (pure
    * ALU, no memory traffic, no allocation — the work is identical on
    * every host and every run) and the wall time comes back in seconds.
    * ~1 s single-thread on the reference hardware. The folded results
    * are XOR-combined and published via a static sink so the JIT can
    * never elide the loop. Deliberately JVM-warm-independent at this
    * length: a 1e9-iteration loop C2-compiles within its first ~1%.
    */
  @volatile private var calibSink: Long = 0L
  def calibSpin(threads: Int, perThread: Long = 300000000L): Double = {
    val results = new java.util.concurrent.atomic.AtomicLong(0L)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { tid =>
      val th = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L ^ tid
        var i = 0L
        while (i < perThread) {
          x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
          x ^= x >>> 27; x *= 0x94d049bb133111ebL
          x ^= x >>> 31
          i += 1
        }
        results.getAndAdd(x | 1L)
        ()
      })
      th.setDaemon(true); th.start(); th
    }
    ts.foreach(_.join())
    calibSink ^= results.get()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-work I/O calibration: sequentially read the SF dir's
    * parquet bytes through a 1 MiB buffer — both single-file tables
    * (the driver's layout) and Spark-written `*.parquet` DIRECTORIES
    * of part files (SfGen's layout; the r15 review caught the first
    * cut matching files only, so the scaling-decade runs silently
    * dropped the field). Pass 1 times up to `capBytes` of first-touch
    * reads (cold if the host hasn't cached the dir — and capped, so
    * the probe stays fixed-work at sf10+ instead of sweeping the
    * whole dataset); the warm phase then re-reads the SAME capped
    * span until `warmBytes` have been read (>=128 MiB — several
    * passes over a ~17 MB sf0.1 dir), which is pure page-cache/
    * memory-bandwidth work on a healthy host. Returns (firstMBps,
    * warmMBps); (-1,-1) if the dir has no parquet bytes or the probe
    * fails (a diagnostic must never kill the bench — files can vanish
    * between listing and open). A byte of every buffer folds into a
    * volatile sink so the read is never elided. Complements
    * calibSpin: CPU-flat + IO-slow is the storage-pressure signature
    * r14's four flags hypothesized but could not evidence.
    */
  @volatile private var ioSink: Long = 0L
  def ioSpin(sfDir: String, warmBytes: Long = 128L << 20,
    capBytes: Long = 256L << 20): (Double, Double) = try {
    def parquetFiles(d: java.io.File): Array[java.io.File] = {
      val entries = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      val files = entries.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      val dirParts = entries
        .filter(f => f.isDirectory && f.getName.endsWith(".parquet"))
        .flatMap(dd => Option(dd.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(p => p.isFile && p.getName.endsWith(".parquet")))
      (files ++ dirParts).sortBy(_.getPath)
    }
    val files = parquetFiles(new java.io.File(sfDir))
    if (files.isEmpty) return (-1.0, -1.0)
    val buf = new Array[Byte](1 << 20)
    def sweep(cap: Long): Long = {
      var read = 0L
      val it = files.iterator
      while (it.hasNext && read < cap) {
        val in = new java.io.FileInputStream(it.next())
        try {
          var n = in.read(buf)
          while (n > 0 && read < cap) { read += n; ioSink ^= buf(0); n = in.read(buf) }
        } finally in.close()
      }
      read
    }
    val t0 = System.nanoTime()
    val firstBytes = sweep(capBytes)
    val t1 = System.nanoTime()
    // zero-byte parquet (crashed generator): a sweep that reads nothing
    // would spin forever — report unmeasurable instead
    if (firstBytes == 0L) return (-1.0, -1.0)
    var warmRead = 0L
    var warmStuck = false
    while (warmRead < warmBytes && !warmStuck) {
      val got = sweep(capBytes)
      // files truncated to zero between passes (the first-sweep guard
      // only covers the cold pass): bail out with the partial
      // measurement instead of spinning forever (r15 ADVICE)
      if (got == 0L) warmStuck = true else warmRead += got
    }
    if (warmRead == 0L) return (-1.0, -1.0)
    val t2 = System.nanoTime()
    def mbps(bytes: Long, nanos: Long): Double =
      (bytes / 1048576.0) / math.max(nanos / 1e9, 1e-9)
    (mbps(firstBytes, t1 - t0), mbps(warmRead, t2 - t1))
  } catch { case _: Throwable => (-1.0, -1.0) }

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line, or None
    * on non-Linux / restricted environments.
    */
  private def cpuJiffies(): Option[(Long, Long)] = try {
    val line = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next() finally src.close()
    }
    val vals = line.trim.split("\\s+").drop(1).map(_.toLong)
    // denominator = user..steal (first 8 fields) only: guest/guest_nice
    // are already folded into user/nice by the kernel, and double-
    // counting them understates steal%
    if (vals.length >= 8) Some((vals(7), vals.take(8).sum)) else None
  } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // GraftSession defaults matter here: without AQE the iterative index
    // builds run every tiny shuffle at full static width (32 tasks of a
    // few hundred rows each), and the build phase is 2-3x slower at
    // local[32] than AQE-coalesced — measured, not theoretical.
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val jiffies0 = cpuJiffies()
    // Host calibration BEFORE any Spark work contends for cores: the
    // same fixed integer-hash work single-thread and at full width,
    // then the fixed I/O sweep (first-touch + warm) over the SF dir —
    // ordered CPU-first so the spin never measures a page-cache fill.
    val calib1t = calibSpin(1)
    val calib32t = calibSpin(GraftSession.cores)
    val (calibIoMbps, calibIoWarm) = ioSpin(sfDir)
    // Per-query I/O counters (r14 verdict's #1 ask): the process-wide
    // /proc/self/io deltas — rchar (logical read() bytes: parquet,
    // shuffle files, spill; page-cache hits included) and read_bytes
    // (bytes that HIT THE STORAGE LAYER — the page-cache-miss traffic
    // that is the r14 storage-pressure hypothesis). Local mode = one
    // JVM, so the process delta IS the query's I/O. Task inputMetrics
    // are NOT used for input: Spark 4's vectorized parquet reader
    // bypasses Hadoop FS statistics (a full 11 MB lineitem scan
    // registered ~18 KB — measured), so that channel under-counts
    // ~600x. Shuffle task metrics DO work and give the per-query
    // shuffle volume via an async listener, drained before each delta
    // (see ListenerBusAccess).
    val shBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null)
            shBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten)
        }
      })
    def drainBus(): Unit =
      org.apache.spark.graft.ListenerBusAccess
        .waitUntilEmpty(spark.sparkContext)
    // (rchar, read_bytes) from /proc/self/io; (0,0) on non-Linux —
    // deltas then read 0, never fail the bench.
    def procIo(): (Long, Long) = try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      val m = try src.getLines().map(_.split(":\\s*"))
        .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
      finally src.close()
      (m.getOrElse("rchar", 0L), m.getOrElse("read_bytes", 0L))
    } catch { case _: Throwable => (0L, 0L) }
    // Warm the table scans (file-index + codegen + nanos conversion) so
    // per-query timings reflect operator cost, not first-touch overhead.
    val t = Tables(spark, sfDir)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
      t.lineitem, t.events, t.documents, t.embeddings).foreach(_.count())
    // Diagnostics riding every timing (full dump only, not the contract
    // line): JVM GC millis spent during the run, and the cached-block
    // footprint after it (storage memory + disk across all persisted
    // RDDs) — the round-6 regression cluster (q49 11x, threshold_sweep
    // 5.2x, untouched code) pointed at storage-memory pressure evicting
    // memoized frames and forcing recompute; these columns answer that
    // in one bench run instead of a Spark-UI session.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    def storageMB(): (Long, Long) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.map(_.memSize).sum >> 20, infos.map(_.diskSize).sum >> 20)
    }
    val diag = scala.collection.mutable.LinkedHashMap.empty[String,
      scala.collection.mutable.ArrayBuffer[QDiag]]
    def timed(name: String)(run: => Unit): Timing = {
      drainBus() // prior query's straggler task-end events stay out
      val (rc0, rb0) = procIo(); val sh0 = shBytes.get()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val err = try { run; false } catch { case _: Throwable => true }
      val sec = (System.nanoTime() - t0) / 1e9
      drainBus() // this query's events are all counted before the delta
      val (mem, disk) = storageMB()
      val (rc1, rb1) = procIo()
      diag.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty)
        .append(QDiag(gcMillis() - gc0, mem, disk,
          (rc1 - rc0) >> 20, (rb1 - rb0) >> 20,
          (shBytes.get() - sh0) >> 20))
      Timing(name, sec, err)
    }
    // Optional name filter (SPARK_GRAFT_BENCH_ONLY, comma-separated
    // query/_build names) for targeted runs — the sf1 scaling decade
    // times the top-N most expensive entries, not all 337. The filter
    // applies AFTER warm-up so a filtered run still measures the same
    // steady state the full run does.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // Itemized per-index build timings (dependency order — each memoized
    // structure is counted once, under its own name). Build steps are
    // never filtered out from UNDER a selected query: a filtered query
    // that needs an unselected build simply pays it inside its first
    // rep, so builds stay selected whenever any query is.
    val builds = SparkEntry.buildSteps(t)
      .filter { case (name, _) => selected(s"_build_$name") }
      .map { case (name, run) => timed(s"_build_$name")(run()) }
    // Settling pause: let the build phase's GC debt and JIT compilation
    // drain before any query is timed — round 4 showed the first queries
    // after the builds absorbing 10x phantom costs on untouched code.
    System.gc()
    Thread.sleep(3000)
    val reps = benchReps
    // Deterministic sorted order + median of `reps` runs per query: a
    // per-query number must be attributable to the query's plan, not to
    // where it landed relative to a GC pause or a contended neighbor.
    val queryRuns: Seq[(String, Seq[Timing])] =
      SparkEntry.queries.toSeq.filter(q => selected(q._1))
        .sortBy(_._1).map { case (name, fn) =>
        // noop sink: computes the full result (count() would let the
        // optimizer prune unreferenced aggregate/project expressions and
        // under-measure) without writing anything.
        val rs = Seq.fill(reps)(
          timed(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
        name -> rs
      }
    val queries = queryRuns.map { case (name, rs) =>
      Timing(name, median(rs.map(_.sec)), rs.exists(_.err))
    }
    val maxSpread = {
      val spreads = queryRuns.collect {
        case (_, rs) if !rs.exists(_.err) && rs.length > 1 =>
          val s = rs.map(_.sec)
          (s.max - s.min) / math.max(median(s), 1e-9)
      }
      if (spreads.isEmpty) 0.0 else spreads.max
    }
    val results = builds ++ queries
    // Full-precision dump for local profiling (not part of the contract):
    // every individual run, so spread is inspectable per query.
    try {
      val allRuns = builds.map(b => b.name -> Seq(b)) ++ queryRuns
      val full = allRuns
        .sortBy { case (_, rs) => -median(rs.map(_.sec)) }
        .map { case (n, rs) =>
          val runs = rs.map(r => if (r.err) "\"err\"" else r.sec.toString)
          val d = diag.getOrElse(n, Seq.empty)
          val gc = d.map(_.gcMs).mkString(",")
          val mem = d.map(_.memMb).mkString(",")
          val disk = d.map(_.diskMb).mkString(",")
          val inMb = d.map(_.inMb).mkString(",")
          val rdMb = d.map(_.rdMb).mkString(",")
          val shMb = d.map(_.shMb).mkString(",")
          s""""$n":{"sec":[${runs.mkString(",")}],"gc_ms":[$gc],""" +
            s""""cache_mem_mb":[$mem],"cache_disk_mb":[$disk],""" +
            s""""in_mb":[$inMb],"rd_mb":[$rdMb],"sh_mb":[$shMb]}"""
        }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(
        java.nio.file.Paths.get("/tmp/graft_bench_full.json"),
        full.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    val stealPct = (for {
      (s0, t0) <- jiffies0
      (s1, t1) <- cpuJiffies()
      if t1 > t0
    } yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(-1.0)
    // Flagged-query attribution IN the artifact (r10 verdict: the gc/
    // cache columns lived only in the full dump on the bench host, so a
    // 10x swing on unchanged code could not be adjudicated from
    // evidence): per-rep max gc millis and the cache footprint for any
    // query >2x its ALL-ROUNDS-BEST median or with a >2x rep spread.
    // Host-normalize the 2x-vs-best rule: bestRoundSecs' generic regex
    // also harvests "calib_32t" from every artifact that carries it, so
    // its minimum IS the fastest host on record; this run's ratio to it
    // (clamped ≥1 — a faster host never loosens the rule) scales the
    // flag threshold.
    val prior = bestRoundSecs()
    val calibFactor = prior.get("calib_32t")
      .map(best => math.max(1.0, calib32t / math.max(best, 1e-9)))
      .getOrElse(1.0)
    val diagJson = diagEntries(
      queryRuns.collect { case (n, rs) if !rs.exists(_.err) =>
        n -> rs.map(_.sec) },
      diag.map { case (n, d) =>
        n -> QDiag(d.map(_.gcMs).max, d.map(_.memMb).max,
          d.map(_.diskMb).max, d.map(_.inMb).max,
          d.map(_.rdMb).max, d.map(_.shMb).max)
      }.toMap,
      prior, calibFactor = calibFactor)
    val line = buildLine(results, sfDir, reps = reps, maxSpread = maxSpread,
      stealPct = stealPct, diagJson = diagJson,
      calib1t = calib1t, calib32t = calib32t,
      calibIoMbps = calibIoMbps, calibIoWarmMbps = calibIoWarm)
    spark.stop()
    println(line)
  }
}
