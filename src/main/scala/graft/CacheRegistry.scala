package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}

/** Session-scoped registry of every cache the library creates —
  * persisted frames and `localCheckpoint` storage blocks — so a
  * long-lived session (a notebook, the REST service, the driver's
  * 132-query bench) can return executor storage to its baseline
  * instead of accumulating cached plans without bound. Before round 8
  * the library held eight `.persist()` sites with no `unpersist` path:
  * each invocation grew storage memory AND the `CacheManager`'s
  * cached-plan list that every subsequent action scans for plan
  * matches.
  *
  * Two scopes:
  *  - '''ephemeral''' (default) — single-query caches (a narrow
  *    projection feeding two branches of one plan). Released by
  *    [[release]]; [[graft.Verify]] and [[graft.Bench]] call it after
  *    every query's action completes.
  *  - '''shared''' — cross-query caches that amortize over a warm
  *    session (the [[graft.operators.TextAnalysis.tokenPairs]]
  *    tokenize pass shared by the corpus-statistics family). Survive
  *    plain [[release]]; dropped by `release(includeShared = true)`.
  *
  * Registration does NOT change laziness: a persisted frame still
  * materializes inside whichever consumer action runs first, exactly
  * as before — the registry only remembers how to let the storage go.
  * Cleanup is idempotent (Spark's `unpersist` on an uncached plan is a
  * no-op), so registering the same shared plan once per consumer query
  * is safe.
  */
object CacheRegistry {

  // planKey holds the CANONICALIZED logical plan for shared dedupe:
  // structural equality, not a 32-bit hash — a hash collision would
  // skip registering a DISTINCT persisted frame, pinning its storage
  // with no release handle (the exact leak this registry prevents).
  // Entries already capture the whole Dataset in their cleanup
  // closure, so holding the plan adds no material footprint.
  private final case class Entry(id: Long, shared: Boolean,
      cleanup: () => Unit,
      planKey: Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = None,
      namedKey: Option[String] = None,
      ds: Dataset[_] = null)

  private val nextId = new AtomicLong()
  // keyed by SparkContext-owning session object; suites and the
  // bench/verify mains drive one session, service requests share it
  private val entries =
    new ConcurrentHashMap[SparkSession, mutable.ArrayBuffer[Entry]]()

  /** Evict entries keyed by sessions whose context has stopped — a
    * stopped context's caches are gone with it, so the handles only
    * leak map entries in a multi-session JVM. Swept on every
    * registration (sessions are few); [[forget]] is the explicit
    * form. */
  private def sweepStopped(): Unit = {
    val it = entries.keySet.iterator
    while (it.hasNext) {
      if (it.next().sparkContext.isStopped) it.remove()
    }
  }

  private def add(s: SparkSession, shared: Boolean,
      cleanup: () => Unit,
      planKey: Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = None): Unit = {
    sweepStopped()
    val buf = entries.computeIfAbsent(s,
      _ => mutable.ArrayBuffer.empty[Entry])
    buf.synchronized {
      // shared caches register once per canonicalized plan: the hub
      // frames (tokenPairs/tokenTable) re-register on every consumer
      // query, and duplicate entries would pin one Dataset plan per
      // query for the life of the warm session
      val dup = shared && planKey.isDefined &&
        buf.exists(e => e.shared &&
          e.planKey.zip(planKey).exists { case (a, b) => a.sameResult(b) })
      if (!dup) {
        buf += Entry(nextId.incrementAndGet(), shared, cleanup, planKey); ()
      }
    }
  }

  /** `df.persist()` plus a registered release handle. Lazy exactly like
    * bare `persist`: the first consumer action materializes the cache.
    */
  def persist[T](df: Dataset[T], shared: Boolean = false): Dataset[T] = {
    df.persist()
    val key = if (shared)
      Some(df.queryExecution.analyzed.canonicalized) else None
    add(df.sparkSession, shared,
      () => { df.unpersist(blocking = false); () }, key)
    df
  }

  /** A shared cache with an EXPLICIT identity key, for plans whose
    * canonicalized form can never match across invocations — the ALTO
    * parse hub frames embed `mapPartitions` lambdas, and a fresh lambda
    * instance per call defeats `sameResult`, so plan-keyed dedupe
    * registered (and Spark's CacheManager built) a NEW ~75 MB parse
    * cache on every query invocation: the round-14 bench probe watched
    * executor storage climb one such cache per rep while p04's reps
    * DEGRADED 8→14 s (each rep paid a full re-parse into a cache miss).
    * The first call under a key builds and persists; every later call
    * in the warm session returns the SAME Dataset instance, so Spark's
    * cache hits by object identity of the plan, not canonical equality.
    * Released by `release(includeShared = true)` like any shared entry
    * (a later call then rebuilds).
    *
    * The first build is materialized before it is returned (one
    * `count`): until a cache's first job, an adaptively planned cached
    * plan reports no output partitioning, so the first consumer of a
    * fresh doc-clustered hub would plan its own `hashpartitioning`
    * exchange on top of the one that built the cache. */
  def persistKeyed[T](spark: SparkSession, key: String)(
      mk: => Dataset[T]): Dataset[T] = {
    sweepStopped()
    val buf = entries.computeIfAbsent(spark,
      _ => mutable.ArrayBuffer.empty[Entry])
    def hit(): Option[Dataset[T]] = buf.synchronized {
      buf.find(_.namedKey.contains(key)).map(_.ds.asInstanceOf[Dataset[T]])
    }
    hit().getOrElse {
      // Build (plan construction + analysis) and persist OUTSIDE the
      // lock — the REST service shares one session across requests, and
      // a slow first build must not block every concurrent registry
      // operation. Double-checked insert: a losing racer releases its
      // duplicate cache and adopts the winner's Dataset.
      val df = mk
      df.persist()
      val existing = buf.synchronized {
        buf.find(_.namedKey.contains(key))
          .map(_.ds.asInstanceOf[Dataset[T]])
          .orElse {
            buf += Entry(nextId.incrementAndGet(), shared = true,
              () => { df.unpersist(blocking = false); () },
              None, Some(key), df)
            None
          }
      }
      existing match {
        case Some(winner) =>
          // `Dataset.unpersist` uncaches by PLAN match (CacheManager
          // .uncacheQuery), so when the two racers built the same
          // canonical plan, unpersisting the loser would also drop the
          // winner's cached data while the registry keeps serving the
          // now-unpersisted Dataset. Only release the loser's cache
          // when its plan is genuinely distinct from the winner's —
          // otherwise the loser's persist was absorbed by the same
          // cache entry and there is nothing separate to release.
          if (!df.queryExecution.analyzed.sameResult(
              winner.queryExecution.analyzed))
            df.unpersist(blocking = false)
          winner
        case None =>
          df.count()
          df
      }
    }
  }

  /** Eager lineage-truncating checkpoint whose storage blocks are
    * released with the registry. `Dataset.localCheckpoint` offers no
    * public handle to the RDD it persists, so the handle is recovered
    * by diffing the context's persistent-RDD ids around the (eager)
    * call — queries and suites build plans sequentially per session,
    * so the diff is exact.
    */
  def localCheckpoint[T](df: Dataset[T], shared: Boolean = false): Dataset[T] = {
    val (out, release) = localCheckpointWithRelease(df)
    add(df.sparkSession, shared, release)
    out
  }

  /** The [[localCheckpoint]] mechanics with the release handle returned
    * to the caller instead of registered — for iterative plans
    * ([[graft.operators.Dedup.connectedComponents]]) that retire each
    * round's checkpoint as soon as the next round is materialized,
    * instead of holding every round's blocks until end-of-query.
    */
  def localCheckpointWithRelease[T](df: Dataset[T]): (Dataset[T], () => Unit) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint()
    // primary handle: the checkpointed RDD straight off the result's
    // plan (exact even when concurrent work persists other RDDs);
    // id-diff only as a fallback for a future plan shape
    val planRdd = out.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }
    val release = planRdd match {
      case Some(rdd) => () => { rdd.unpersist(blocking = false); () }
      case None =>
        val added = (sc.getPersistentRDDs.keySet -- before).toSeq
        () => added.foreach { id =>
          sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
        }
    }
    (out, release)
  }

  /** Register an externally-created release handle (e.g. the final
    * round of an iterative checkpoint loop whose intermediates were
    * retired inline via [[localCheckpointWithRelease]]). */
  def registerRelease(spark: SparkSession, shared: Boolean = false)(
      cleanup: () => Unit): Unit = add(spark, shared, cleanup)

  /** Release every registered cache for `spark` — ephemeral only by
    * default, everything with `includeShared = true`. A released
    * `persist` cache is simply recomputed by the next action that
    * needs it; a released `localCheckpoint` is gone for good (lineage
    * was truncated), so call this only once the frames a query
    * returned are no longer actioned — [[graft.Verify]]/[[graft.Bench]]
    * release after each query's action completes and rebuild the plan
    * from scratch for the next run.
    */
  def release(spark: SparkSession, includeShared: Boolean = false): Unit = {
    val buf = entries.get(spark)
    if (buf != null) {
      val drop = buf.synchronized {
        val (d, keep) = buf.toVector.partition(e => includeShared || !e.shared)
        buf.clear()
        buf ++= keep // retained shared entries stay registered for later
        d
      }
      drop.foreach(_.cleanup())
    }
  }

  /** Scope marker for [[releaseSince]]: a point in the registration
    * order. */
  def mark(): Long = nextId.get()

  /** Release only the EPHEMERAL caches registered after `mark` — the
    * scoped form for long-lived hosts (a streaming foreachBatch, a
    * server request) that must clean up their own batch's caches
    * without touching frames other in-flight work still holds. */
  def releaseSince(spark: SparkSession, mark: Long): Unit = {
    val buf = entries.get(spark)
    if (buf != null) {
      val drop = buf.synchronized {
        val (d, keep) = buf.toVector.partition(e => !e.shared && e.id > mark)
        buf.clear()
        buf ++= keep
        d
      }
      drop.foreach(_.cleanup())
    }
  }

  /** Drop a session's registrations without running cleanups — for a
    * session that is stopping (its caches die with the context). The
    * stopped-session sweep calls the same path automatically on the
    * next registration. */
  def forget(spark: SparkSession): Unit = {
    entries.remove(spark); ()
  }

  /** Count of live registered entries (spec hook). */
  def registered(spark: SparkSession): Int = {
    val buf = entries.get(spark)
    if (buf == null) 0 else buf.synchronized(buf.length)
  }
}
