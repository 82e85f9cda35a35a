package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counter values at one instant, keyed by `Counters.names`. */
final case class Counts(v: Vector[Long]) {
  def -(o: Counts): Counts = Counts(v.lazyZip(o.v).map(_ - _))
  def +(o: Counts): Counts = Counts(v.lazyZip(o.v).map(_ + _))
  def apply(name: String): Long = v(Counters.index(name))
  def toMap: Map[String, Long] = Counters.names.zip(v).toMap
}

object Counts {
  val zero: Counts = Counts(Vector.fill(Counters.names.size)(0L))
}

/** Scheduler, task and planner counts, accumulated from the Spark
  * listener bus and the SQL query-execution listener. Installed only in
  * traced runs. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = Vector.fill(Counters.names.size)(new AtomicLong())
  private def add(name: String, d: Long): Unit = c(Counters.index(name)).addAndGet(d)

  def snapshot: Counts = Counts(c.map(_.get()))

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (e.taskInfo != null) add("task_wall_ms", e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(s"${p}_ms", s.durationMs))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Counters {
  val names: Vector[String] = Vector("jobs", "stages", "tasks", "task_wall_ms", "task_run_ms",
    "task_cpu_ns", "shuffle_write_b", "shuffle_read_b", "fetch_wait_ms", "spill_b",
    "analysis_ms", "optimization_ms", "planning_ms")
  val index: Map[String, Int] = names.zipWithIndex.toMap

  def install(spark: SparkSession): Counters = {
    val k = new Counters
    spark.sparkContext.addSparkListener(k)
    spark.listenerManager.register(k)
    k
  }

  def uninstall(spark: SparkSession, k: Counters): Unit = {
    spark.sparkContext.removeSparkListener(k)
    spark.listenerManager.unregister(k)
  }
}

/** One traced interval: a call the benchmark made into a layer. Spans of
  * one operation share `op`; `parent` is the enclosing span (-1 at the
  * top). `counts` are the listener counts accumulated inside it. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
  startNs: Long, endNs: Long, counts: Counts) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (overlapping children count
    * once). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => a < b }.sortBy(_._1)
      var covered = 0L; var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

object Trace {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def meanMs(spans: Seq[Span]): Double = mean(spans.map(_.durNs / 1e6))
}

/** In-memory span recorder for one single-threaded client. Disabled, it
  * runs each body with no bookkeeping at all. */
final class Tracer(spark: => SparkSession, counters: => Option[Counters]) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = 0
  /** Client time spent draining the listener bus at span boundaries. */
  var bookkeepingNs: Long = 0L

  def enabled: Boolean = counters.isDefined

  /** Drain the listener bus so counts reflect every finished task. */
  def counts(): Counts = counters match {
    case Some(k) =>
      val t0 = System.nanoTime()
      org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      val c = k.snapshot
      bookkeepingNs += System.nanoTime() - t0
      c
    case None => Counts.zero
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = counts()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = counts()
        stack = stack.tail
        spans(id) = Span(id, name, parent, op, t0, t1, c1 - c0)
      }
    }

  /** Finished spans (a span's slot is filled when it ends). */
  def all: Seq[Span] = spans.filter(_ != null).toSeq

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def json: String = {
    val self = Span.selfNs(all)
    all.map { s =>
      val cs = s.counts.toMap.filter(_._2 != 0).map { case (k, v) => s""""$k":$v""" }
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)},""" +
        s""""counts":{${cs.mkString(",")}}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}
