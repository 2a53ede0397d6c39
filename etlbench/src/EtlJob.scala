package etlbench

import java.sql.Timestamp
import java.time.{Instant, LocalDate}
import java.util.UUID

import scala.concurrent.ExecutionContext

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftshim.PlanBridge

import graft.analytics.MonitoringAnalytics
import graft.ingest.{HttpReportSource, HttpTokenFetcher, ReportSource, TokenManager}
import graft.model.{JobRun, ReportRun, Status}
import graft.run.{Monitoring, Orchestrator}
import graft.run.Orchestrator.{ReportTask, RunResult}

/** Where one job writes: CSV sink and the two monitoring stores. */
final case class Store(root: String) {
  val csvDir = s"$root/csv"
  val reportDir = s"$root/report_monitoring"
  val jobDir = s"$root/job_monitoring"
}

/** Latest-wins job view plus B1-B4, collected. */
final case class Dashboard(latest: Seq[Row], b1: Seq[Row], b2: Seq[Row], b3: Seq[Row], b4: Seq[Row])

final case class JobOutcome(tasks: Seq[ReportTask], startEvent: JobRun, result: RunResult,
    dashboard: Dashboard, startWallNs: Long, endWallNs: Long) {
  def jobS: Double = (endWallNs - startWallNs) / 1e9
}

/** The report ETL job composed from the layers' public functions in
  * `EtlMain.run`'s order, with its `--source http` wiring: config -> RUNNING
  * event -> fan-out over `HttpReportSource` and `TokenManager(HttpTokenFetcher)`
  * -> report rows and terminal event -> latest-wins + B1-B4, collected.
  *
  * With `traced`, every layer call is wrapped in a span, remote calls go
  * through [[TimedSource]] and the token fetch through [[Trace.timedFetch]],
  * and each span's Spark jobs are counted by a [[JobCounter]].
  */
final class EtlJob(spark: SparkSession, script: Script, stub: StubServer, store: Store,
    counter: Option[JobCounter]) {
  import spark.implicits._

  private val traced = counter.isDefined
  private val jobsBySpan = scala.collection.mutable.LinkedHashMap[String, Int]()

  private def layer[T](name: String, parent: Long, id: Long = Trace.nextId())(body: => T): T =
    if (!traced) body
    else {
      PlanBridge.drainListenerBus(spark)
      val before = counter.get.jobs.get
      val out = Trace.span(name, parent, id)(body)
      PlanBridge.drainListenerBus(spark)
      jobsBySpan(name) = jobsBySpan.getOrElse(name, 0) + counter.get.jobs.get - before
      out
    }

  private def tokenFactory: () => TokenManager = {
    val url = stub.tokenUrl
    if (traced) () => new TokenManager(Trace.timedFetch(url))
    else () => new TokenManager(() => HttpTokenFetcher.fetch(url, Script.ClientId, Script.ClientSecret))
  }

  private def sourceFactory: () => ReportSource = {
    val base = stub.baseUrl
    if (traced) () => new TimedSource(new HttpReportSource(base))
    else () => new HttpReportSource(base)
  }

  def run(): JobOutcome = {
    val w = script.workload
    val runId = UUID.randomUUID().toString
    val root = Trace.nextId()
    Trace.runId = runId
    val t0 = Trace.wallNs()

    val tasks = layer("config.tasks", root) {
      if (w.seededConfig) Orchestrator.tasksFor(spark, Script.Env, runId, Script.FromDate, Script.ToDate)
      else script.reportNames.map(r =>
        ReportTask(runId, r, Script.Retries, Script.TimeoutSec, Script.FromDate, Script.ToDate))
    }

    val startEvent = JobRun(runId, Script.FromDate, Script.ToDate,
      Timestamp.from(Instant.now()), None, Status.Running, tasks.size, 0, 0, None)
    layer("monitoring.append_running", root) {
      Monitoring.appendJobEvents(Seq(startEvent).toDS(), store.jobDir)
    }

    val fanoutId = Trace.nextId()
    Trace.callParent = fanoutId
    val result = layer("orchestrator.fanout", root, fanoutId) {
      w.mode match {
        case "distributed" =>
          Orchestrator.runDistributed(spark, sourceFactory, tokenFactory,
            tasks, store.csvDir, Script.FromDate, Script.ToDate)
        case _ =>
          Orchestrator.runDriverParallel(sourceFactory(), tokenFactory(),
            tasks, store.csvDir, Script.FromDate, Script.ToDate)(ExecutionContext.global)
      }
    }

    layer("monitoring.append_reports", root) {
      Monitoring.appendReportRuns(result.reports.toDS(), store.reportDir)
    }
    layer("monitoring.append_terminal", root) {
      Monitoring.appendJobEvents(Seq(result.job).toDS(), store.jobDir)
    }

    val dash = dashboard(root)
    val t1 = Trace.wallNs()
    if (traced) Trace.add(Trace.Span(root, "job", -1L, t0, t1, runId))
    JobOutcome(tasks, startEvent, result, dash, t0, t1)
  }

  /** One dashboard refresh, as `EtlMain.run` issues it after the job:
    * latest-wins over the job events, then B1-B4, with `asOf` = `to_date`.
    */
  def dashboard(parent: Long): Dashboard = {
    val asOf = java.sql.Date.valueOf(LocalDate.parse(Script.ToDate))
    val (jobEvents, reports) = layer("analytics.read", parent) {
      (Monitoring.reportMonitoring(spark, store.jobDir), Monitoring.reportMonitoring(spark, store.reportDir))
    }
    val jobState = Monitoring.latestJobState(jobEvents)
    Dashboard(
      latest = layer("analytics.latest", parent)(jobState.collect().toSeq),
      b1 = layer("analytics.b1", parent)(MonitoringAnalytics.jobSummary(jobState, asOf).collect().toSeq),
      b2 = layer("analytics.b2", parent)(MonitoringAnalytics.reportStatus(reports, asOf).collect().toSeq),
      b3 = layer("analytics.b3", parent)(MonitoringAnalytics.errorDetails(reports, asOf).collect().toSeq),
      b4 = layer("analytics.b4", parent)(MonitoringAnalytics.dailyRowCounts(reports, asOf).collect().toSeq))
  }

  def sparkJobs: Map[String, Int] = jobsBySpan.toMap
  def resetJobCounts(): Unit = jobsBySpan.clear()
}

object EtlJob {

  /** Write the workload's seven prior daily jobs, one append each per event
    * and per report batch, as the product writes a job.
    */
  def writeHistory(spark: SparkSession, script: Script, store: Store): Unit = {
    import spark.implicits._
    for ((running, reports, terminal) <- script.history) {
      Monitoring.appendJobEvents(Seq(running).toDS(), store.jobDir)
      Monitoring.appendReportRuns(reports.toDS(), store.reportDir)
      Monitoring.appendJobEvents(Seq(terminal).toDS(), store.jobDir)
    }
  }

  def historyReports(script: Script): Seq[ReportRun] = script.history.flatMap(_._2)
  def historyEvents(script: Script): Seq[JobRun] = script.history.flatMap(h => Seq(h._1, h._3))
}
