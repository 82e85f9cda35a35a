package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.plans.Materialize
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The shared memo registry's contract: one build per (session, key)
  * even under concurrent misses, hits return the same frame, invalidate
  * drops and allows a rebuild, every build is held with
  * Materialize.share. Also the fill contract of Materialize's three
  * intents.
  */
class PersistCacheSpec extends SparkSpec {

  test("concurrent misses on one key run the build exactly once") {
    val builds = new AtomicInteger(0)
    val key = "spec#concurrent-" + System.nanoTime()
    val futures = (1 to 8).map { _ =>
      Future {
        PersistCache.getOrElseUpdate(spark, key) {
          builds.incrementAndGet()
          Thread.sleep(50) // widen the race window
          spark.range(10).toDF()
        }
      }
    }
    val frames = Await.result(Future.sequence(futures), 30.seconds)
    assert(builds.get() === 1)
    // every caller got the one cached frame
    assert(frames.map(System.identityHashCode).distinct.size === 1)
  }

  test("hits return the cached frame; invalidate forces a rebuild") {
    val builds = new AtomicInteger(0)
    val key = "spec#invalidate-" + System.nanoTime()
    def get() = PersistCache.getOrElseUpdate(spark, key) {
      builds.incrementAndGet()
      spark.range(5).toDF()
    }
    val a = get(); val b = get()
    assert(builds.get() === 1)
    assert(a eq b)
    PersistCache.invalidate(spark)
    get()
    assert(builds.get() === 2)
  }

  test("slot count is bounded: LRU session slots evict past maxSessions") {
    val Seq(s1, s2, s3) = Seq.fill(3)(spark.newSession())
    Seq(s1, s2, s3).foreach(
      _.conf.set("spark.graft.persistcache.maxSessions", "2"))
    val builds = new AtomicInteger(0)
    // distinct row count per build: identical plans would share ONE
    // CacheManager entry across sessions and a later persist would
    // re-cache what the eviction released
    def get(s: org.apache.spark.sql.SparkSession) =
      PersistCache.getOrElseUpdate(s, "spec#lru") {
        s.range(10 + builds.incrementAndGet()).toDF().persist()
      }
    try {
      val f1 = get(s1)
      Thread.sleep(2); get(s2)
      Thread.sleep(2); get(s3) // third slot under a bound of 2 → s1 evicts
      // s1's frame was unpersisted by the eviction…
      assert(f1.storageLevel === StorageLevel.NONE)
      // …and a re-get rebuilds it (slot gone)
      val before = builds.get()
      get(s1)
      assert(builds.get() === before + 1)
    } finally Seq(s1, s2, s3).foreach(PersistCache.invalidate)
  }

  /** A 100-row frame whose source bumps `acc` once per row evaluated. */
  private def countedSource(acc: org.apache.spark.util.LongAccumulator): DataFrame = {
    val rdd = spark.sparkContext.parallelize(1 to 100, 4)
      .map { i => acc.add(1); Row(i) }
    spark.createDataFrame(rdd, StructType(Seq(StructField("v", IntegerType))))
  }

  private def sumV(df: DataFrame): Long = df.agg(sum("v")).head().getLong(0)

  // keeps the name of the former Pin.pinned test: Materialize.share now
  // carries that contract unchanged
  test("Pin.pinned materializes ONCE, serves consumers from cache, keeps lineage") {
    val acc = spark.sparkContext.longAccumulator("share_builds")
    val shared = Materialize.share(countedSource(acc))
    // the share is LAZY — registering the cache runs nothing…
    assert(acc.value === 0L, "share() must not run a dedicated job")
    // …the FIRST consumer materializes the source exactly once…
    assert(shared.count() === 100L)
    assert(acc.value === 100L)
    // …and every later consumer reads the cached blocks, not the source
    assert(sumV(shared) === 5050L)
    assert(acc.value === 100L, "a consumer re-ran the shared source")
    // lineage survives (persist, not localCheckpoint): the plan still
    // reaches the source relation, so a lost block is recomputable
    assert(shared.storageLevel === StorageLevel.MEMORY_AND_DISK)
    shared.unpersist(blocking = true)
  }

  test("Materialize.truncate cuts the plan at the call and fills on the first action") {
    val acc = spark.sparkContext.longAccumulator("truncate_builds")
    val cut = Materialize.truncate(countedSource(acc))
    assert(acc.value === 0L, "truncate() must not run a job at the call")
    val rdd = cut.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    // plan dumps name the calling site, not Materialize.scala
    assert(rdd.toString.contains("at localCheckpoint at PersistCacheSpec.scala:"), rdd.toString)
    assert(cut.count() === 100L)
    assert(acc.value === 100L)
    assert(sumV(cut) === 5050L)
    assert(acc.value === 100L, "a second consumer re-ran the truncated source")
  }

  test("Materialize.snapshot runs the source once at the call, before any consumer") {
    val acc = spark.sparkContext.longAccumulator("snapshot_builds")
    val snap = Materialize.snapshot(countedSource(acc))
    assert(acc.value === 100L, "snapshot() must fill at the call")
    assert(snap.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(snap.count() === 100L)
    assert(sumV(snap) === 5050L)
    assert(acc.value === 100L, "a consumer re-ran the snapshotted source")
  }

  test("memo builds are shared; persisted or checkpointed builds are kept as they are") {
    val key = "spec#share-" + System.nanoTime()
    // distinct row counts: no other spec's frame may share a cache entry
    val plain = PersistCache.getOrElseUpdate(spark, key + "-plain")(spark.range(7001).toDF())
    assert(plain.storageLevel === StorageLevel.MEMORY_AND_DISK)
    val persisted = spark.range(7002).toDF().persist(StorageLevel.MEMORY_ONLY)
    val kept = PersistCache.getOrElseUpdate(spark, key + "-persisted")(persisted)
    assert(kept eq persisted)
    assert(kept.storageLevel === StorageLevel.MEMORY_ONLY)
    val cut = Materialize.truncate(spark.range(7003).toDF())
    val keptCut = PersistCache.getOrElseUpdate(spark, key + "-truncated")(cut)
    assert(keptCut eq cut)
    assert(keptCut.storageLevel === StorageLevel.NONE, "a checkpoint was persisted again")
    Seq(plain, persisted).foreach(_.unpersist(blocking = true))
  }
}
