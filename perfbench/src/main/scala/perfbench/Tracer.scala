package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

final class TraceCounters {
  var jobs, stages, tasks, retries = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  /** Shuffle exchanges seen in executed plans, by identity. */
  val exchanges: java.util.Set[AnyRef] =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
  var planMs = 0L
  /** executorRunTime of each finished task, per (stage, attempt). */
  val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
}

/** Runtime and Catalyst counters gathered from outside the engine: a
  * SparkListener for jobs, stages and task metrics, and a
  * QueryExecutionListener for planning time and shuffle exchanges. Every
  * read drains the listener bus first, so no event of a finished action is
  * missed or attributed to the next window.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  @volatile private var c = new TraceCounters

  private object Plans extends AdaptiveSparkPlanHelper

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val cc = c
      cc.tasks += 1
      if (e.taskInfo.attemptNumber > 0) cc.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        cc.runMs += m.executorRunTime
        cc.cpuNs += m.executorCpuTime
        cc.gcMs += m.jvmGCTime
        cc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        cc.spill += m.diskBytesSpilled
        cc.stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val cc = c
      cc.planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      // a cached frame's exchanges sit in its cached plan, behind the scan
      def walk(p: SparkPlan): Unit = Plans.foreach(p) {
        case e: ShuffleExchangeLike => cc.exchanges.add(e)
        case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
        case _ =>
      }
      walk(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  private var attached = false
  private var wallNs = 0L
  private var resumedAt = 0L

  def drain(): Unit = BusBridge.drain(sc)

  /** Open a counting window: drain stale events, reset, attach. */
  def start(): Unit = {
    drain()
    c = new TraceCounters
    wallNs = 0L
    resume()
  }

  /** Attach again after [[pause]], keeping the window's counts. */
  def resume(): Unit = {
    drain()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
    resumedAt = System.nanoTime()
  }

  /** Detach; what runs until [[resume]] is not counted. */
  def pause(): Unit = {
    wallNs += System.nanoTime() - resumedAt
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Close the window: the counters and the seconds spent attached. */
  def stop(): (TraceCounters, Double) = {
    if (attached) pause()
    (c, wallNs / 1e9)
  }

  /** Jobs counted so far in the open window (drained). */
  def jobsSoFar(): Long = { drain(); c.jobs }

  /** Per-unit runtime metrics of a closed window of `units` units of work
    * on `cores` task slots.
    */
  def runtimeMetrics(w: (TraceCounters, Double), units: Int, cores: Int): Map[String, Double] = {
    val (cc, wall) = w
    val u = math.max(units, 1).toDouble
    val longest = cc.stageTasks.values.maxByOption(_.sum)
    val skew = longest.map { ts =>
      val sorted = ts.sorted
      val med = Stats.median(sorted.map(_.toDouble).toSeq)
      if (med > 0) sorted.last / med else 1.0
    }.getOrElse(1.0)
    Map(
      "spark.jobs" -> cc.jobs / u,
      "spark.stages" -> cc.stages / u,
      "spark.tasks" -> cc.tasks / u,
      "spark.task_retries" -> cc.retries / u,
      "spark.exchanges" -> cc.exchanges.size / u,
      "spark.shuffle_write_bytes" -> cc.shuffleWrite / u,
      "spark.shuffle_read_bytes" -> cc.shuffleRead / u,
      "spark.spill_bytes" -> cc.spill / u,
      "spark.task_run_s" -> cc.runMs / 1e3 / u,
      "spark.task_cpu_s" -> cc.cpuNs / 1e9 / u,
      "spark.gc_s" -> cc.gcMs / 1e3 / u,
      "spark.fetch_wait_s" -> cc.fetchWaitMs / 1e3 / u,
      "spark.busy_ratio" -> (if (wall > 0) cc.runMs / 1e3 / (wall * cores) else 0.0),
      "spark.task_skew" -> skew,
      "catalyst.plan_s" -> cc.planMs / 1e3 / u)
  }
}

/** In-memory spans, written as JSON when the run ends. */
final class Spans {
  private val t0 = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Map[String, Any]]

  def apply[T](name: String, attrs: (String, Any)*)(body: => T): (T, Double) = {
    val s = System.nanoTime()
    val out = body
    val e = System.nanoTime()
    buf += Map("name" -> name, "start_s" -> (s - t0) / 1e9,
      "dur_s" -> (e - s) / 1e9) ++ attrs
    (out, (e - s) / 1e9)
  }

  def toJson: String = Json(buf.toSeq)
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the same rule as numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
