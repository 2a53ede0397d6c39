package graft

import java.io.File
import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftshim.PlanBridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.MonitoringAnalytics
import graft.model.{JobRun, ReportRun, Status}
import graft.run.{Monitoring, Orchestrator}

/** The ETL's control plane runs as one stage: config resolution runs no
  * Spark job, each monitoring append writes one file, and latest-wins and
  * B1–B4 over [[Monitoring.reportMonitoring]] plan no exchange and run one
  * Spark job each, with the same rows as over a plain parquet read.
  */
class ControlPlaneSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-control-plane")

  private val jobs = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(listener)

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.stop()
  }

  /** `body`'s result and the Spark jobs it ran, counted between two drains
    * of the listener bus.
    */
  private def withJobs[T](body: => T): (T, Int) = {
    PlanBridge.drainListenerBus(spark)
    val before = jobs.get
    val out = body
    PlanBridge.drainListenerBus(spark)
    (out, jobs.get - before)
  }

  private def parquetFiles(dir: String): Int =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  private def ts(s: String) = Timestamp.valueOf(s)
  private val asOf = Date.valueOf("2024-03-05")

  private def report(run: String, name: String, status: String, start: String): ReportRun =
    ReportRun(run, name, "2024-03-01", "2024-03-02", ts(start), ts(start),
      status, if (status == Status.Success) 100 else 0,
      if (status == Status.Failed) Some(s"HTTP 503 on generate $name") else None)

  /** Three closed runs, one per day, with mixed report statuses, and a
    * fourth run still RUNNING: every append goes through the product path.
    */
  private lazy val store: (String, String) = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-control-plane").toString
    val (jobDir, reportDir) = (s"$root/job", s"$root/report")
    val statuses = Seq(Status.Success, Status.Failed, Status.Success, Status.Success)
    for (day <- 1 to 4) {
      val run = s"run-$day"
      val start = s"2024-03-0$day 08:00:00"
      Monitoring.appendJobEvents(Seq(JobRun(run, "2024-03-01", "2024-03-02", ts(start), None,
        Status.Running, 4, 0, 0, None)).toDS(), jobDir)
      if (day < 4) {
        val reports = statuses.zipWithIndex.map { case (s, i) =>
          report(run, s"report_$i", if (day == 1) Status.Success else s, s"2024-03-0$day 08:0$i:00")
        }
        Monitoring.appendReportRuns(reports.toDS(), reportDir)
        val ok = reports.count(_.status == Status.Success)
        Monitoring.appendJobEvents(Seq(JobRun(run, "2024-03-01", "2024-03-02", ts(start),
          Some(ts(s"2024-03-0$day 08:05:00")), Status.derive(ok, 4L - ok), 4, ok, 4 - ok,
          None)).toDS(), jobDir)
      }
    }
    (jobDir, reportDir)
  }

  /** Latest-wins plus B1–B4, as one dashboard refresh builds them. */
  private def dashboard(jobEvents: DataFrame, reports: DataFrame): Seq[(String, DataFrame)] = {
    val jobState = Monitoring.latestJobState(jobEvents)
    Seq(
      "latest" -> jobState,
      "b1" -> MonitoringAnalytics.jobSummary(jobState, asOf),
      "b2" -> MonitoringAnalytics.reportStatus(reports, asOf),
      "b3" -> MonitoringAnalytics.errorDetails(reports, asOf),
      "b4" -> MonitoringAnalytics.dailyRowCounts(reports, asOf))
  }

  test("tasksFor resolves the seeded config without a Spark job") {
    val (tasks, n) = withJobs(Orchestrator.tasksFor(spark, "prod", "run-c", "2024-03-01", "2024-03-02"))
    assert(n == 0, s"tasksFor ran $n Spark jobs")
    assert(tasks.map(_.report_name) == tasks.map(_.report_name).sorted && tasks.size == 8)
    assert(tasks.find(_.report_name == "call_details").map(_.timeout_sec).contains(60))
  }

  test("each monitoring append writes exactly one parquet file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-append").toString + "/report"
    val rows = (0 until 8).map(i => report("run-a", s"report_$i", Status.Success, "2024-03-01 08:00:00"))
    Monitoring.appendReportRuns(rows.toDS(), dir)
    assert(parquetFiles(dir) == 1, "8 report rows")
    Monitoring.appendJobEvents(Seq(JobRun("run-a", "2024-03-01", "2024-03-02",
      ts("2024-03-01 08:00:00"), None, Status.Running, 8, 0, 0, None)).toDS(), dir + "-job")
    Monitoring.appendReportRuns(rows.take(3).toDS(), dir)
    assert(parquetFiles(dir) == 2, "a second append")
    assert(parquetFiles(dir + "-job") == 1, "a job event")
  }

  test("latest-wins and B1-B4 plan no exchange and run one Spark job each") {
    val (jobDir, reportDir) = store
    val (reads, readJobs) = withJobs(
      (Monitoring.reportMonitoring(spark, jobDir), Monitoring.reportMonitoring(spark, reportDir)))
    assert(readJobs <= 2, s"the two store reads ran $readJobs Spark jobs")
    val oneStage = dashboard(reads._1, reads._2)
    val plain = dashboard(spark.read.parquet(jobDir), spark.read.parquet(reportDir))
    for (((name, df), (_, expected)) <- oneStage.zip(plain)) {
      val (rows, n) = withJobs(df.collect().toSeq)
      assert(n == 1, s"$name ran $n Spark jobs")
      val (shuffles, _, reused) = QueryProfile.exchanges(df.queryExecution.executedPlan)
      assert(shuffles == 0 && reused == 0, s"$name plans an exchange:\n${df.queryExecution.executedPlan}")
      // latest-wins has no order; B1-B4 are ordered
      def inOrder(rs: Seq[Row]) = if (name == "latest") rs.sortBy(_.getString(0)) else rs
      assert(inOrder(rows) == inOrder(expected.collect().toSeq), s"$name differs from the plain parquet read")
      assert(rows.nonEmpty, s"$name is empty on the fixture")
    }
  }
}
