package graft.tools

import graft.{Bench, GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import scala.jdk.CollectionConverters._

/** The dev tool: times and prints the plans of registry queries and
  * bench build steps on the Bench session (`GraftSession.local`).
  *
  *   runMain graft.tools.Dev <time|plan|executed> <sfDir> <name1,name2,...> [out]
  *
  * Each name is a registry query or a build step `_build_<step>` of
  * `SparkEntry.buildSteps`; every name is resolved before anything runs.
  * The report goes to stdout, or is written to `out`.
  *
  *   - time: a query runs once to warm its scans and index builds, then
  *     SPARK_GRAFT_BENCH_REPS (default 3) timed runs through Bench's noop
  *     sink; the line gives their median and every run. A build step is
  *     timed once, as Bench times it: a second run would hit the memo.
  *   - plan: a query's formatted plan before execution — under AQE it
  *     hides the runtime rewrites, which `executed` shows. A build step
  *     has no plan until its actions run, so it runs and each action's
  *     formatted plan (initial and final) is printed.
  *   - executed: the AQE-final plan that actually ran — a query's noop
  *     write, or every action a build step fires.
  *
  * Replaces: TimeOne, TimeQ, BuildProfile → time; Explain, PlanDump,
  * PlanAudit → plan; ExecutedPlan → executed.
  */
object Dev {
  private val usage =
    "usage: graft.tools.Dev <time|plan|executed> <sfDir> <name1,name2,...> [out]"

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4, usage)
    val Array(mode, sfDir, list) = args.take(3)
    require(Set("time", "plan", "executed")(mode), usage)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val t = Tables(spark, sfDir)
      val queries = SparkEntry.queries
      val targets = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { n =>
        n -> (if (n.startsWith("_build_")) Right(buildStep(t, n.stripPrefix("_build_")))
        else {
          val fn = queries.getOrElse(n,
            throw new IllegalArgumentException(s"unknown registry query: $n"))
          Left(() => fn(spark, sfDir))
        })
      }
      def captured(action: => Unit): Seq[QueryExecution] = {
        val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
        val listener = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
            qes.add(qe)
          override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        // the listener hears about an action asynchronously, on the bus
        try { action; org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext) }
        finally spark.listenerManager.unregister(listener)
        qes.asScala.toSeq
      }
      def actions(plans: Seq[String]): String =
        if (plans.isEmpty) "(no plan captured)"
        else plans.zipWithIndex.map { case (p, i) => s"-------- action ${i + 1} --------\n$p" }
          .mkString("\n")
      val report = targets.map { case (n, target) =>
        (mode, target) match {
          case ("time", Left(q)) =>
            noop(q())
            val runs = Seq.fill(Bench.benchReps)(secs(noop(q())))
            f"$n: median ${Bench.median(runs)}%.3f s " +
              s"(runs ${runs.map(r => f"$r%.3f").mkString(", ")})"
          case ("time", Right(step)) => f"$n: ${secs(step())}%.3f s (one build)"
          case ("plan", Left(q)) =>
            s"======== $n ========\n" + q().queryExecution.explainString(FormattedMode)
          case ("plan", Right(step)) =>
            s"======== $n (all actions) ========\n" +
              actions(captured(step()).map(_.explainString(FormattedMode)))
          // the noop write is the query's last action; a memoized index
          // it reads may fire earlier ones
          case (_, Left(q)) =>
            s"======== $n (executed) ========\n" +
              captured(noop(q())).lastOption.fold("(no plan captured)")(_.executedPlan.toString)
          case (_, Right(step)) =>
            s"======== $n (executed, all actions) ========\n" +
              actions(captured(step()).map(_.executedPlan.toString))
        }
      }.mkString("", "\n", "\n")
      if (args.length == 4)
        java.nio.file.Files.write(java.nio.file.Paths.get(args(3)), report.getBytes("UTF-8"))
      else print(report)
    } finally spark.stop()
  }

  /** The named step of `SparkEntry.buildSteps`; an unknown name is an
    * error listing the valid ones. */
  private[graft] def buildStep(t: Tables, name: String): () => Unit = {
    val steps = SparkEntry.buildSteps(t)
    steps.collectFirst { case (`name`, run) => run }.getOrElse(
      throw new IllegalArgumentException(s"unknown build step _build_$name; valid: " +
        steps.map("_build_" + _._1).mkString(", ")))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def secs(run: => Unit): Double = {
    val t0 = System.nanoTime()
    run
    (System.nanoTime() - t0) / 1e9
  }
}
