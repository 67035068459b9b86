package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-layer recorder: a SparkListener (jobs, stages, tasks and their
  * metrics, all with Spark's own event times) and a
  * QueryExecutionListener (exchanges in each executed plan), both
  * registered on the benchmark's own session. */
final class SparkTrace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import SparkTrace.{Stage, Task}

  private val jobs = ArrayBuffer.empty[(Int, Long)]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private var exchanges = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait for the listener bus, then forget everything recorded. */
  def reset(): Unit = {
    drain()
    synchronized {
      jobs.clear(); jobEnds.clear(); stages.clear(); tasks.clear()
      exchanges = 0
    }
  }

  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += ((e.jobId, e.time)) }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobEnds(e.jobId) = e.time }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    synchronized {
      stages += Stage(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val t =
      if (m == null) Task(e.stageId, info.launchTime, info.finishTime,
        info.duration, 0, 0, 0)
      else Task(e.stageId, info.launchTime, info.finishTime, info.duration,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    synchronized { tasks += t }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val n = SparkTrace.exchangesIn(qe.executedPlan)
    synchronized { exchanges += n }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Job wall intervals (epoch ms) recorded so far. */
  def jobIntervals: Vector[(Long, Long)] = synchronized {
    jobs.toVector.flatMap { case (id, s) => jobEnds.get(id).map(e => (s, e)) }
  }

  /** Totals since the last [[reset]], per `units` units of work (passes
    * or requests), plus the driver gap summed over the unit windows. */
  def metrics(units: Int, unitWindowsMs: Seq[(Long, Long)]): Seq[(String, Double, String)] = {
    drain()
    synchronized {
      val u = math.max(1, units).toDouble
      val taskIv = tasks.map(t => (t.launchMs, t.finishMs)).toVector
      val gapMs = unitWindowsMs.map { case (s, e) =>
        val inside = taskIv.map(iv => (math.max(iv._1, s), math.min(iv._2, e)))
        (e - s) - Trace.unionNs(inside)
      }.sum
      val longest = stages.filter(_.doneMs > 0).sortBy(s => s.submitMs - s.doneMs).headOption
      val skew = longest.map { st =>
        val ds = tasks.filter(_.stageId == st.id).map(_.durMs.toDouble).toVector
        if (ds.isEmpty) 1.0 else ds.max / math.max(1.0, Stats.median(ds))
      }.getOrElse(1.0)
      Seq(
        ("spark.jobs", jobs.size / u, "count"),
        ("spark.stages", stages.size / u, "count"),
        ("spark.tasks", tasks.size / u, "count"),
        ("spark.task_ms", tasks.map(_.durMs).sum / u, "ms"),
        ("spark.driver_gap_ms", gapMs / u, "ms"),
        ("spark.exchanges", exchanges / u, "count"),
        ("spark.shuffle_read_bytes", tasks.map(_.shuffleRead).sum / u, "bytes"),
        ("spark.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum / u, "bytes"),
        ("spark.spill_bytes", tasks.map(_.spill).sum / u, "bytes"),
        ("spark.task_skew", skew, "ratio"))
    }
  }
}

object SparkTrace {
  final case class Task(stageId: Int, launchMs: Long, finishMs: Long,
      durMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Stage(id: Int, submitMs: Long, doneMs: Long)

  /** Exchanges a plan executed: shuffle and broadcast exchanges,
    * looking through adaptive query stages; reused exchanges do not
    * count again. */
  def exchangesIn(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchangesIn(a.executedPlan)
    case s: QueryStageExec => exchangesIn(s.plan)
    case e: Exchange => 1L + e.children.map(exchangesIn).sum
    case other =>
      other.children.map(exchangesIn).sum + other.subqueries.map(exchangesIn).sum
  }
}
