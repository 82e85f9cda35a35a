package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place that decides how an intermediate is held. A call site
  * names its INTENT; the storage level and the fill policy follow from
  * it, so eager-vs-lazy is one rule per intent, not a comment per site.
  *
  *   - `truncate` — iterative loops (label propagation, k-core peeling,
  *     LTTB steps, graph-search hops, pipeline stages). Untruncated,
  *     round r's plan embeds round r−1 once per reference and planning
  *     goes exponential. The plan becomes a LogicalRDD at the call; the
  *     blocks fill LAZILY during the first consuming action (r16: one
  *     blocking job per round saved). The blocks have no lineage, so an
  *     executor loss fails the consumers: the cluster switch to reliable
  *     `checkpoint()` (checkpoint directory set) is this method's line.
  *   - `snapshot` — EAGER: computed at the call, before any consumer.
  *     ClickHouseSql's INSERT, MV-replay, mutation and projection verbs
  *     read a table they then rewrite, so the block must be frozen
  *     first. GroupedPrefix.stage and GlobalRank.withRowNumber freeze
  *     nondeterministic layout tags; they went back to eager in r17
  *     because the r16 lazy fill anti-scaled on the 32-core bench
  *     host (q141_quantile_exact 1.85 → 22.9 s, 8-core twin 1.3 s,
  *     PERF_r16.json) while the local 12-query A/B read a wash (24.1 vs
  *     23.4 s).
  *   - `share` — multi-consumer intermediates and session-memoized
  *     builds. `persist(MEMORY_AND_DISK)` keeps lineage (a lost block is
  *     recomputed) and spills under memory pressure instead of evicting
  *     into a silent recompute per consumer. LAZY (r16): the blocks fill
  *     during the first consuming action; the CacheManager's
  *     per-partition locking keeps a concurrent first compute single,
  *     and its canonicalized-plan key lets repeated runs of one query
  *     share one entry. A frame already held — persisted, or the output
  *     of `truncate`/`snapshot` — is returned as it is. A caller that
  *     needs the fill before its action plans calls `count()` itself
  *     (dedup_triangles, whose independent AQE stages would otherwise
  *     race to fill the same blocks).
  *
  * Nothing here releases blocks: `share` frames stay until unpersisted
  * (PersistCache.invalidate for memoized builds), checkpoints until
  * their RDDs are garbage-collected.
  */
object Materialize {

  def truncate(df: DataFrame): DataFrame = atCaller(df)(df.localCheckpoint(false))

  def snapshot(df: DataFrame): DataFrame = atCaller(df)(df.localCheckpoint(true))

  def share(df: DataFrame): DataFrame =
    if (held(df)) df else df.persist(StorageLevel.MEMORY_AND_DISK)

  // a frame built from a plain RDD is a LogicalRDD too, but unstored
  private def held(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE || (df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.getStorageLevel != StorageLevel.NONE
      case _ => false
    })

  /** Labels the checkpoint's RDD (and an eager fill's job) with the
    * caller's line, as a direct `localCheckpoint` call was: Spark takes
    * the first non-Spark frame, which would be this file for every site.
    */
  private def atCaller(df: DataFrame)(checkpoint: => DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("callSite.short")
    Thread.currentThread.getStackTrace.find(e => !Seq("java.", "jdk.", "scala.",
      "org.apache.spark.", "graft.plans.Materialize").exists(e.getClassName.startsWith))
      .foreach(e => sc.setCallSite(s"localCheckpoint at ${e.getFileName}:${e.getLineNumber}"))
    try checkpoint finally sc.setLocalProperty("callSite.short", prev)
  }
}
