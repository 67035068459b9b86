package graft

import org.apache.spark.sql.functions._

/** Unit semantics of the session cache registry (the query-sweep gate
  * lives in QueriesSpec: every SparkEntry query must leave
  * `getPersistentRDDs` at baseline after `Graft.releaseCaches`).
  */
class CacheRegistrySpec extends SparkSuite {

  private def persistentCount = spark.sparkContext.getPersistentRDDs.size

  test("persist registers and release drops storage; shared survives plain release") {
    import spark.implicits._
    Graft.releaseCaches(spark, includeShared = true)
    val base = persistentCount
    // distinct data on purpose: the CacheManager dedupes canonically
    // equal plans, and two identical local relations would share ONE
    // cache entry (column names are not part of the canonical form)
    val eph = CacheRegistry.persist((1 to 100).toDF("n"))
    val shr = CacheRegistry.persist((1 to 200).toDF("m"), shared = true)
    assert(eph.count() == 100 && shr.count() == 200)
    assert(persistentCount == base + 2)
    Graft.releaseCaches(spark) // ephemeral only
    assert(persistentCount == base + 1)
    // the released frame is still correct — just recomputed
    assert(eph.agg(sum("n")).head.getLong(0) == 5050L)
    Graft.releaseCaches(spark, includeShared = true)
    assert(persistentCount == base)
    assert(shr.agg(sum("m")).head.getLong(0) == 20100L)
  }

  test("localCheckpoint blocks are released with the registry") {
    import spark.implicits._
    Graft.releaseCaches(spark, includeShared = true)
    val base = persistentCount
    val ck = CacheRegistry.localCheckpoint((1 to 50).toDF("n"))
    assert(persistentCount == base + 1)
    assert(ck.count() == 50) // consumed before release (lineage is truncated)
    Graft.releaseCaches(spark)
    assert(persistentCount == base)
  }

  test("localCheckpointWithRelease retires blocks inline (iterative-loop shape)") {
    import spark.implicits._
    Graft.releaseCaches(spark, includeShared = true)
    val base = persistentCount
    var (labels, release) =
      CacheRegistry.localCheckpointWithRelease((1 to 20).toDF("n"))
    (1 to 3).foreach { _ =>
      val (next, releaseNext) = CacheRegistry.localCheckpointWithRelease(
        labels.select((col("n") + 1).as("n")))
      release() // previous round retired as soon as the next is materialized
      labels = next
      release = releaseNext
      assert(persistentCount == base + 1) // never more than one round live
    }
    assert(labels.agg(min("n")).head.getInt(0) == 4)
    release()
    assert(persistentCount == base)
  }

  test("releaseSince drops only ephemeral caches registered after the mark") {
    import spark.implicits._
    Graft.releaseCaches(spark, includeShared = true)
    val base = persistentCount
    val before = CacheRegistry.persist((1 to 30).toDF("a"))
    assert(before.count() == 30)
    val mark = CacheRegistry.mark()
    val scopedEph = CacheRegistry.persist((1 to 40).toDF("b"))
    val scopedShr = CacheRegistry.persist((1 to 50).toDF("c"), shared = true)
    assert(scopedEph.count() == 40 && scopedShr.count() == 50)
    assert(persistentCount == base + 3)
    CacheRegistry.releaseSince(spark, mark)
    // pre-mark ephemeral and the shared entry survive; the scoped one is gone
    assert(persistentCount == base + 2)
    Graft.releaseCaches(spark, includeShared = true)
    assert(persistentCount == base)
  }

  test("shared registrations dedupe by canonicalized plan: a hub frame " +
      "re-registered per consumer query holds ONE entry") {
    import spark.implicits._
    Graft.releaseCaches(spark, includeShared = true)
    CacheRegistry.forget(spark)
    val base = CacheRegistry.registered(spark)
    // the tokenPairs/tokenTable pattern: every consumer query calls the
    // hub builder, which persists the same projection again
    def hub() = CacheRegistry.persist(
      (1 to 60).toDF("h").select((col("h") * 2).as("h2")), shared = true)
    val frames = (1 to 5).map(_ => hub())
    assert(frames.head.count() == 60)
    assert(CacheRegistry.registered(spark) == base + 1,
      s"expected one shared entry, got ${CacheRegistry.registered(spark) - base}")
    // a DIFFERENT shared plan still registers separately
    val other = CacheRegistry.persist((1 to 7).toDF("z"), shared = true)
    assert(other.count() == 7)
    assert(CacheRegistry.registered(spark) == base + 2)
    Graft.releaseCaches(spark, includeShared = true)
  }

  test("persistKeyed returns the SAME dataset instance per key (a fresh-" +
      "lambda plan can never canonical-dedupe), one entry and one cached " +
      "RDD per key; shared release rebuilds") {
    import spark.implicits._
    Graft.releaseCaches(spark, includeShared = true)
    CacheRegistry.forget(spark)
    val base = CacheRegistry.registered(spark)
    val baseRdds = persistentCount
    // the ALTO-hub pattern: a mapPartitions lambda is a NEW instance per
    // call, so sameResult never matches across invocations — plan-keyed
    // shared dedupe misses and each call would leak one cache
    // the lambda CAPTURES a local (like the ALTO readers capture their
    // config): each call is a fresh closure instance, so two builds'
    // plans are never sameResult — a non-capturing lambda would be a
    // JVM singleton and dedupe fine, which is exactly why the leak was
    // easy to miss
    def build() = {
      val mult = 2
      (1 to 40).toDS().mapPartitions(it => it.map(_ * mult)).toDF("v")
    }
    def hub() = CacheRegistry.persistKeyed(spark, "spec-hub")(build())
    val a = hub()
    assert(a.count() == 40)
    val b = hub()
    assert(b eq a, "persistKeyed must return the SAME instance per key")
    assert(CacheRegistry.registered(spark) == base + 1)
    assert(persistentCount == baseRdds + 1, "one cached RDD per key")
    // contrast: plan-keyed shared persist of the same builder DOES leak
    val p1 = CacheRegistry.persist(build(), shared = true)
    val p2 = CacheRegistry.persist(build(), shared = true)
    assert(p1.count() == 40 && p2.count() == 40)
    assert(CacheRegistry.registered(spark) == base + 3,
      "fresh-lambda plans cannot canonical-dedupe (the leak persistKeyed fixes)")
    // a different key is a different cache
    val c = CacheRegistry.persistKeyed(spark, "spec-hub-2")(build())
    assert(c.count() == 40 && !(c eq a))
    // shared release drops keyed entries; the next call rebuilds fresh
    Graft.releaseCaches(spark, includeShared = true)
    assert(CacheRegistry.registered(spark) == base)
    val d = hub()
    assert(!(d eq a) && d.count() == 40)
    Graft.releaseCaches(spark, includeShared = true)
  }

  test("persistKeyed race: a losing racer with the SAME canonical plan " +
      "must not uncache the winner's data") {
    Graft.releaseCaches(spark, includeShared = true)
    CacheRegistry.forget(spark)
    // Both racers pass build() before either inserts (the latch holds
    // mk until both arrived), producing the exact double-build race:
    // identical canonical plans, two persist() calls, one loser. The
    // loser's Dataset.unpersist uncaches BY PLAN, so pre-fix it
    // dropped the winner's cached data while the registry kept serving
    // the now-unpersisted Dataset.
    val latch = new java.util.concurrent.CountDownLatch(2)
    def mk = {
      latch.countDown()
      latch.await(10, java.util.concurrent.TimeUnit.SECONDS)
      spark.range(100).toDF("race_v") // deterministic plan, no lambda
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      import scala.jdk.CollectionConverters._
      val results = pool.invokeAll(Seq.fill(2)(new java.util.concurrent
        .Callable[org.apache.spark.sql.DataFrame] {
          override def call() =
            CacheRegistry.persistKeyed(spark, "race-key")(mk)
        }).asJava).asScala.map(_.get())
      assert(results(0) eq results(1),
        "both racers must adopt the winner's Dataset")
      val winner = results.head
      assert(winner.count() == 100)
      assert(winner.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE,
        "the winner's cache survived the loser's release")
    } finally {
      pool.shutdown()
      Graft.releaseCaches(spark, includeShared = true)
    }
  }

  test("forget drops a session's registrations without touching others") {
    Graft.releaseCaches(spark, includeShared = true)
    CacheRegistry.forget(spark)
    val s2 = spark.newSession()
    val main = CacheRegistry.persist(spark.range(10).toDF("a"))
    val second = CacheRegistry.persist(s2.range(20).toDF("b"))
    assert(main.count() == 10 && second.count() == 20)
    assert(CacheRegistry.registered(spark) == 1 &&
      CacheRegistry.registered(s2) == 1)
    CacheRegistry.forget(s2)
    assert(CacheRegistry.registered(s2) == 0 &&
      CacheRegistry.registered(spark) == 1)
    second.unpersist() // forget does not clean up; drop the block directly
    Graft.releaseCaches(spark, includeShared = true)
  }

  test("connectedComponents leaves storage at baseline after releaseCaches") {
    import spark.implicits._
    Graft.releaseCaches(spark, includeShared = true)
    val base = persistentCount
    // a 9-node chain forces multiple pointer-jumping rounds
    // (localThreshold=0 forces the DISTRIBUTED loop — the round-16
    // union-find fast path holds no storage at all, pinned below)
    val edges = (1L to 8L).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val comps = operators.Dedup.connectedComponents(edges,
      localThreshold = 0L)
    assert(comps.agg(countDistinct("comp")).head.getLong(0) == 1L)
    // only the final labels checkpoint is live while the result is used
    assert(persistentCount == base + 1, spark.sparkContext.getPersistentRDDs)
    Graft.releaseCaches(spark)
    assert(persistentCount == base)
    // the fast path: same answer, and its edge checkpoint, stored
    // serialized, is gone by the time the labels come back
    val levels = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.storage.StorageLevel]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(r => levels.add(r.storageLevel))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val local = operators.Dedup.connectedComponents(edges)
      assert(persistentCount == base, spark.sparkContext.getPersistentRDDs)
      assert(local.agg(countDistinct("comp")).head.getLong(0) == 1L)
      Graft.releaseCaches(spark)
      assert(persistentCount == base, spark.sparkContext.getPersistentRDDs)
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      eventually(timeout(10.seconds)) {
        assert(levels.contains(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER), levels)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("localCheckpointWithRelease stores at the level it is given") {
    import spark.implicits._
    Graft.releaseCaches(spark, includeShared = true)
    val base = persistentCount
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val (ck, release) = CacheRegistry.localCheckpointWithRelease(
      (1 to 40).toDF("n"), Some(ser))
    val levels = spark.sparkContext.getPersistentRDDs.values
      .map(_.getStorageLevel).toSeq
    assert(persistentCount == base + 1 && levels.contains(ser), levels)
    assert(ck.agg(sum("n")).head.getLong(0) == 820L)
    release()
    assert(persistentCount == base)
  }
}
