package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.graftshim.PlanBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark saw of one registered query run alone through the noop sink:
  * wall time, the final write's planning vs execution split, the jobs,
  * stages and tasks it launched, their bytes, spill and task-time skew,
  * and the final write's exchanges. Per-exchange bytes and skew are the
  * cost model of distribution-aware aggregation scheduling (PAPERS.md).
  *
  * Counters cover every job in the window, whatever thread submitted it:
  * operators such as `Similarity.ivfpqTopK` fit on pooled
  * `ExecutionContext.global` threads, which inherit whatever job group was
  * set when the pool made them, so job-group attribution would miss or
  * misfile their jobs. Profile one query at a time on a quiet session.
  *
  * `inputBytes` is Spark's task input metric as reported. It barely moves
  * on local Parquet reads: q1 reports 5.9 KB at both sf0.001 and sf0.01,
  * where lineitem is 116 KB and 1 MB. The shuffle bytes track the data.
  */
final case class QueryProfile(
    query: String,
    wallS: Double,
    planningMs: Long,
    executionMs: Long,
    jobs: Int,
    stages: Int,
    tasks: Int,
    inputBytes: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    taskMsMax: Long,
    taskMsMedian: Long,
    shuffles: Int,
    broadcasts: Int,
    reusedExchanges: Int) {

  /** One flat JSON object with snake_case keys, `tags` first. */
  def json(tags: (String, String)*): String = {
    val values = productIterator.map {
      case v: String => "\"" + v + "\""
      case v: Double => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      case v => v.toString
    }
    (tags.map { case (k, v) => (k, "\"" + v + "\"") } ++ productElementNames.zip(values))
      .map { case (k, v) => "\"" + k.replaceAll("([A-Z])", "_$1").toLowerCase + "\":" + v }
      .mkString("{", ",", "}")
  }
}

object QueryProfile {

  /** Runs `SparkEntry.queries(query)` once, from building its DataFrame to
    * the end of its noop write, and profiles that window. The listener bus
    * is drained at both edges, the listeners are removed in a `finally`,
    * and the session is left running.
    */
  def apply(spark: SparkSession, query: String, sfDir: String): QueryProfile = {
    val window = new Window
    PlanBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(window)
    spark.listenerManager.register(window)
    try {
      val t0 = System.nanoTime()
      SparkEntry.queries(query)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wallS = (System.nanoTime() - t0) / 1e9
      PlanBridge.drainListenerBus(spark)
      window.profile(query, wallS)
    } finally {
      spark.listenerManager.unregister(window)
      spark.sparkContext.removeSparkListener(window)
    }
  }

  private final class Window extends SparkListener with QueryExecutionListener {
    private val jobs, stages = new AtomicInteger
    private val taskEnds = new ConcurrentLinkedQueue[SparkListenerTaskEnd]
    // the last SQL execution to end in the window: the noop write
    private val action = new AtomicReference[(QueryExecution, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskEnds.add(e)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      action.set((qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    def profile(query: String, wallS: Double): QueryProfile = {
      val (qe, durationNs) = Option(action.get)
        .getOrElse(sys.error(s"$query: no SQL execution ended in the profile window"))
      // the write's own tracker: analysis, optimization and physical
      // planning, all inside the execution's duration
      val planningMs = qe.tracker.phases.values.map(_.durationMs).sum
      val ends = taskEnds.asScala.toSeq
      val metrics = ends.flatMap(e => Option(e.taskMetrics))
      val taskMs = ends.map(_.taskInfo.duration).sorted
      val (shuffles, broadcasts, reused) = exchanges(qe.executedPlan)
      QueryProfile(query, wallS, planningMs,
        math.max(0L, durationNs / 1000000 - planningMs),
        jobs.get, stages.get, ends.size,
        metrics.map(_.inputMetrics.bytesRead).sum,
        metrics.map(_.shuffleReadMetrics.totalBytesRead).sum,
        metrics.map(_.shuffleWriteMetrics.bytesWritten).sum,
        metrics.map(_.diskBytesSpilled).sum,
        taskMs.lastOption.getOrElse(0L), if (taskMs.isEmpty) 0L else taskMs(taskMs.size / 2),
        shuffles, broadcasts, reused)
    }
  }

  /** Shuffle, broadcast and reused exchanges of an executed plan, counted by
    * node: the final AQE plan's tree string hides upstream exchanges inside
    * materialized query stages, and the initial plan prints a shared
    * subplan once per consumer.
    */
  private[graft] def exchanges(plan: SparkPlan): (Int, Int, Int) = {
    var shuffles, broadcasts, reused = 0
    def walk(n: SparkPlan): Unit = {
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ShuffleExchangeExec => shuffles += 1
        case _: BroadcastExchangeExec => broadcasts += 1
        case _: ReusedExchangeExec => reused += 1
        case _ =>
      }
      (n.children ++ n.subqueries).foreach(walk)
    }
    walk(plan)
    (shuffles, broadcasts, reused)
  }
}
