package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * `local` is the one place in the engine that builds a session: Bench,
  * Verify, SfGen and the dev tool all run on it, so they plan and time
  * the same engine. Local mode mirrors the driver harness (local[32],
  * 32 shuffle partitions); on a real cluster callers apply `configure`
  * to their own builder and set master/partitions to match executor
  * topology — everything `configure` sets is topology-independent:
  * AQE (runtime coalescing + skew-join splitting), UTC, nanos-parquet
  * tolerance, and the graft native function surface.
  */
object GraftSession {
  /** Local core count: SPARK_GRAFT_CPUS, default 32 (the driver harness). */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A local session with `cores` threads and as many shuffle partitions. */
  def local(): SparkSession = configure(
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)).getOrCreate()

  /** Apply graft defaults to any builder (cluster or local). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
    .config("spark.ui.enabled", "false")
}
