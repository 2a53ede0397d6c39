package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.concurrent.{ExecutionContext, blocking}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.MonitoringAnalytics
import graft.config.ConfigTables
import graft.ingest.{FakeReportSource, ReportSource, Retry, TokenManager}
import graft.model.{JobRun, Status}
import graft.run.{Monitoring, Orchestrator}

/** End-to-end pipeline test mirroring the reference's "What happens" flow
  * (`README.md:394-401`): config join → fan-out → fetch → write → monitoring
  * rows → status finalize → analytics. Runs both orchestration modes against
  * the deterministic [[FakeReportSource]] and asserts identical observable
  * monitoring output.
  */
/** Executor-shipped factories must not capture the (non-serializable)
  * test-suite instance — same discipline real callers need.
  */
object PipelineSpec {
  val sourceFactory: () => FakeReportSource = () => new FakeReportSource(25)
  val tokenFactory: () => TokenManager =
    () => new TokenManager(() => TokenManager.Token("test-token", 3600))

  /** Each generate call counts the latch down, then waits for it to open.
    * Two reports both succeed only when they are in flight at once: run
    * one after another, the first waits out its bound and fails.
    */
  @volatile var latch = new CountDownLatch(2)
  val latchSourceFactory: () => ReportSource = () => new ReportSource {
    private val fake = new FakeReportSource(5)
    override def generateReport(t: String, n: String, f: String, to: String): String = {
      val l = latch
      l.countDown()
      if (!blocking(l.await(20, TimeUnit.SECONDS)))
        throw Retry.TerminalFailure(s"$n ran alone: no sibling report in flight")
      fake.generateReport(t, n, f, to)
    }
    override def downloadReport(t: String, id: String): String = fake.downloadReport(t, id)
  }

  /** Reports whose first generate attempt has already failed. */
  val attempted: ConcurrentHashMap[String, java.lang.Boolean] = new ConcurrentHashMap()
  /** Fails every report's first generate attempt retriably, then behaves
    * like [[FakeReportSource]] (so `_fail` and `_empty` keep their paths).
    */
  val flakySourceFactory: () => ReportSource = () => new ReportSource {
    private val fake = new FakeReportSource(25)
    override def generateReport(t: String, n: String, f: String, to: String): String = {
      if (attempted.putIfAbsent(n, true) == null)
        throw Retry.RetriableFailure(s"HTTP 503 generating $n (first attempt)")
      fake.generateReport(t, n, f, to)
    }
    override def downloadReport(t: String, id: String): String = fake.downloadReport(t, id)
  }
}

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-test")

  override def afterAll(): Unit = spark.stop()

  private val fixedNow = () => Instant.parse("2024-03-01T12:00:00Z")

  private def tokenManager() =
    new TokenManager(() => TokenManager.Token("test-token", 3600))

  private def mkTasks(runId: String, extra: Seq[String] = Nil): Seq[Orchestrator.ReportTask] = {
    val base = Orchestrator.tasksFor(spark, "prod", runId, "2024-02-29", "2024-03-01")
    base ++ extra.map(n =>
      Orchestrator.ReportTask(runId, n, 2, 30, "2024-02-29", "2024-03-01"))
  }

  test("config layer resolves 8 enabled prod reports with endpoint metadata") {
    val specs = ConfigTables.resolvedReportSpecs(spark, "prod")
    assert(specs.count() == 8)
    assert(specs.columns.toSet.contains("base_url"))
    val cd = specs.filter(specs("report_name") === "call_details").collect().head
    assert(cd.getAs[Int]("timeout_sec") == 60)
  }

  test("driver-parallel run: all succeed, files written, job SUCCESS") {
    val out = Files.createTempDirectory("graft-driver").toString
    implicit val ec: ExecutionContext = ExecutionContext.global
    val tasks = mkTasks("run-1")
    val res = Orchestrator.runDriverParallel(
      new FakeReportSource(50), tokenManager(), tasks, out,
      "2024-02-29", "2024-03-01", backoffBase = 1.milli, now = fixedNow)
    assert(res.reports.size == 8)
    assert(res.reports.forall(_.status == Status.Success))
    assert(res.reports.forall(_.rows_written == 50))
    assert(res.job.status == Status.Success)
    assert(res.job.success_count == 8 && res.job.failed_count == 0)
    val f = new java.io.File(s"$out/call_volume/2024-02-29_to_2024-03-01.csv")
    assert(f.exists, "single-file CSV sink with reference naming")
    val lines = scala.io.Source.fromFile(f).getLines().toSeq
    assert(lines.head == "date,queue,calls,answered,abandoned" && lines.size == 51)
  }

  test("partial failure: one failing report isolates, job PARTIAL_SUCCESS") {
    val out = Files.createTempDirectory("graft-partial").toString
    implicit val ec: ExecutionContext = ExecutionContext.global
    val tasks = mkTasks("run-2", extra = Seq("broken_fail"))
    val res = Orchestrator.runDriverParallel(
      new FakeReportSource(10), tokenManager(), tasks, out,
      "2024-02-29", "2024-03-01", backoffBase = 1.milli, now = fixedNow)
    assert(res.reports.count(_.status == Status.Success) == 8)
    val failed = res.reports.filter(_.status == Status.Failed)
    assert(failed.map(_.report_name) == Seq("broken_fail"))
    assert(failed.head.error_message.exists(_.contains("retry exhausted")))
    assert(res.job.status == Status.PartialSuccess)
  }

  test("empty payload follows the no-data FAILED path") {
    val out = Files.createTempDirectory("graft-empty").toString
    implicit val ec: ExecutionContext = ExecutionContext.global
    val tasks = mkTasks("run-3", extra = Seq("report_empty")).filter(_.report_name == "report_empty")
    val res = Orchestrator.runDriverParallel(
      new FakeReportSource(10), tokenManager(), tasks, out,
      "2024-02-29", "2024-03-01", backoffBase = 1.milli, now = fixedNow)
    assert(res.reports.head.status == Status.Failed)
    assert(res.reports.head.error_message.exists(_.contains("no data")))
    assert(res.job.status == Status.Failed)
  }

  test("per-call timeout_sec is enforced: slow calls time out, retry, then FAIL") {
    val slow = new graft.ingest.ReportSource {
      override def generateReport(t: String, n: String, f: String, to: String): String = {
        Thread.sleep(5000); "never"
      }
      override def downloadReport(t: String, id: String): String = "h\n"
    }
    val out = Files.createTempDirectory("graft-slow").toString
    val t0 = System.nanoTime()
    val run = Orchestrator.processReport(slow, PipelineSpec.tokenFactory(), out,
      Orchestrator.ReportTask("run-t", "slow_report", 2, /*timeout_sec=*/ 1,
        "2024-02-29", "2024-03-01"),
      backoffBase = 1.milli, now = fixedNow)
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(run.status == Status.Failed)
    assert(run.error_message.exists(_.contains("timed out")), run.error_message)
    // 2 attempts x 1s timeout, not 2 x 5s of sleeping
    assert(elapsed < 4.5, s"timeout not enforced: ${elapsed}s")
  }

  /** A token issuer that fails its first fetch with `first`, then issues. */
  private def flakyTokens(first: Throwable) = {
    val fetches = new java.util.concurrent.atomic.AtomicInteger
    val tokens = new TokenManager(() =>
      if (fetches.incrementAndGet() == 1) throw first
      else TokenManager.Token("test-token", 3600))
    (tokens, fetches)
  }

  private val tokenTask =
    Orchestrator.ReportTask("run-tok", "call_volume", 3, 30, "2024-02-29", "2024-03-01")

  test("a transient token failure is retried under the task's budget") {
    val (tokens, fetches) = flakyTokens(Retry.RetriableFailure("HTTP 503 on token"))
    val run = Orchestrator.processReport(new FakeReportSource(10), tokens,
      Files.createTempDirectory("graft-token").toString, tokenTask,
      backoffBase = 1.milli, now = fixedNow)
    assert(run.status == Status.Success, run.error_message)
    assert(fetches.get == 2)
  }

  test("a terminal token failure fails the report after one fetch") {
    val (tokens, fetches) = flakyTokens(Retry.TerminalFailure("HTTP 401 on token"))
    val run = Orchestrator.processReport(new FakeReportSource(10), tokens,
      Files.createTempDirectory("graft-token").toString, tokenTask,
      backoffBase = 1.milli, now = fixedNow)
    assert(run.status == Status.Failed)
    assert(run.error_message.exists(_.contains("401")), run.error_message)
    assert(fetches.get == 1)
  }

  test("distributed run produces the same monitoring output as driver mode") {
    val outA = Files.createTempDirectory("graft-a").toString
    val outB = Files.createTempDirectory("graft-b").toString
    implicit val ec: ExecutionContext = ExecutionContext.global
    val tasks = mkTasks("run-4", extra = Seq("broken_fail"))
    val driver = Orchestrator.runDriverParallel(
      new FakeReportSource(25), tokenManager(), tasks, outA,
      "2024-02-29", "2024-03-01", backoffBase = 1.milli, now = fixedNow)
    val dist = Orchestrator.runDistributed(
      spark, PipelineSpec.sourceFactory, PipelineSpec.tokenFactory, tasks, outB,
      "2024-02-29", "2024-03-01", backoffBase = 1.milli)
    def key(r: graft.model.ReportRun) = (r.report_name, r.status, r.rows_written)
    assert(driver.reports.map(key).sortBy(_._1) == dist.reports.map(key).sortBy(_._1))
    assert(driver.job.status == dist.job.status)
    // distributed mode also wrote the files (executor-side sink, A12)
    assert(new java.io.File(s"$outB/call_volume/2024-02-29_to_2024-03-01.csv").exists)
  }

  test("distributed mode runs one partition's reports concurrently") {
    PipelineSpec.latch = new CountDownLatch(2)
    val out = Files.createTempDirectory("graft-conc").toString
    // two tasks make one partition (PartitionTargetSize = 100)
    val tasks = Seq("conc_a", "conc_b").map(n =>
      Orchestrator.ReportTask("run-c", n, 1, 30, "2024-02-29", "2024-03-01"))
    val res = Orchestrator.runDistributed(
      spark, PipelineSpec.latchSourceFactory, PipelineSpec.tokenFactory, tasks, out,
      "2024-02-29", "2024-03-01", backoffBase = 1.milli)
    assert(res.reports.map(r => (r.report_name, r.status, r.error_message)).sortBy(_._1) ==
      Seq(("conc_a", Status.Success, None), ("conc_b", Status.Success, None)))
    assert(res.job.status == Status.Success)
  }

  test("retried, empty and failing reports end the same in both modes") {
    val tasks = mkTasks("run-f", extra = Seq("report_empty", "broken_fail"))
    implicit val ec: ExecutionContext = ExecutionContext.global
    PipelineSpec.attempted.clear()
    val driver = Orchestrator.runDriverParallel(
      PipelineSpec.flakySourceFactory(), tokenManager(), tasks,
      Files.createTempDirectory("graft-flaky-a").toString,
      "2024-02-29", "2024-03-01", backoffBase = 1.milli, now = fixedNow)
    PipelineSpec.attempted.clear()
    val dist = Orchestrator.runDistributed(
      spark, PipelineSpec.flakySourceFactory, PipelineSpec.tokenFactory, tasks,
      Files.createTempDirectory("graft-flaky-b").toString,
      "2024-02-29", "2024-03-01", backoffBase = 1.milli)
    def key(r: graft.model.ReportRun) = (r.report_name, r.status, r.rows_written)
    val driverKeys = driver.reports.map(key).sortBy(_._1)
    assert(driverKeys == dist.reports.map(key).sortBy(_._1))
    assert(driver.job.status == dist.job.status)
    assert(driver.job.status == Status.PartialSuccess)
    // every report the source lets succeed survived its failed first attempt
    val retriable = driverKeys.filterNot(k => k._1.endsWith("_fail") || k._1.endsWith("_empty"))
    assert(retriable.size == 8)
    assert(retriable.forall(k => k._2 == Status.Success && k._3 == 25), retriable)
    assert(driverKeys.filter(_._1.endsWith("_fail")).map(_._2) == Seq(Status.Failed))
    assert(driverKeys.filter(_._1.endsWith("_empty")).map(_._2) == Seq(Status.Failed))
  }

  test("monitoring store: batched append, latest-wins job view, derived status") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mon").toString
    implicit val ec: ExecutionContext = ExecutionContext.global
    val out = Files.createTempDirectory("graft-mon-out").toString
    val tasks = mkTasks("run-5", extra = Seq("broken_fail"))
    val res = Orchestrator.runDriverParallel(
      new FakeReportSource(10), tokenManager(), tasks, out,
      "2024-02-29", "2024-03-01", backoffBase = 1.milli, now = fixedNow)

    // ONE append for all report rows of the run (vs one Spark job per row)
    Monitoring.appendReportRuns(spark.createDataset(res.reports), s"$dir/report")
    val running = res.job.copy(end_time = None, status = Status.Running,
      success_count = 0, failed_count = 0,
      start_time = Timestamp.from(Instant.parse("2024-03-01T11:59:00Z")))
    Monitoring.appendJobEvents(spark.createDataset(Seq(running)), s"$dir/job")
    Monitoring.appendJobEvents(spark.createDataset(Seq(res.job)), s"$dir/job")

    val latest = Monitoring.latestJobState(spark.read.parquet(s"$dir/job"))
    assert(latest.count() == 1)
    assert(latest.collect().head.getAs[String]("status") == Status.PartialSuccess)

    val derived = Monitoring.deriveJobStatus(spark.read.parquet(s"$dir/report")).collect().head
    assert(derived.getAs[String]("status") == Status.PartialSuccess)
    assert(derived.getAs[Int]("success_count") == 8)
    assert(derived.getAs[Int]("failed_count") == 1)
  }

  test("latest-wins view ranks a terminal event above RUNNING at the same timestamp") {
    import spark.implicits._
    val ts = Timestamp.from(Instant.parse("2024-03-01T12:00:00Z"))
    val running = JobRun("run-x", "2024-02-29", "2024-03-01", ts, None,
      Status.Running, 0, 0, 0, None)
    val failed = running.copy(end_time = Some(ts), status = Status.Failed,
      total_reports = 3, failed_count = 3)
    val latest = Monitoring.latestJobState(
      spark.createDataset(Seq(running, failed)).toDF()).collect()
    assert(latest.length == 1)
    assert(latest.head.getAs[String]("status") == Status.Failed,
      "FAILED terminal event must win over RUNNING at equal start_time")
  }

  test("analytics B1-B4 over generated monitoring data") {
    import spark.implicits._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val out = Files.createTempDirectory("graft-ana").toString
    val tasks = mkTasks("run-6", extra = Seq("broken_fail"))
    val res = Orchestrator.runDriverParallel(
      new FakeReportSource(10), tokenManager(), tasks, out,
      "2024-02-29", "2024-03-01", backoffBase = 1.milli, now = fixedNow)
    val reports = spark.createDataset(res.reports).toDF()
    val jobs = spark.createDataset(Seq(res.job)).toDF()
    val asOf = java.sql.Date.valueOf("2024-03-01")

    val b1 = MonitoringAnalytics.jobSummary(jobs, asOf).collect()
    assert(b1.length == 1 && b1.head.getAs[Long]("partial") == 1)

    val b2 = MonitoringAnalytics.reportStatus(reports, asOf).collect()
    assert(b2.length == 9)
    assert(b2.map(_.getAs[String]("report_name")).toSeq == b2.map(_.getAs[String]("report_name")).toSeq.sorted)

    val b3 = MonitoringAnalytics.errorDetails(reports, asOf).collect()
    assert(b3.length == 1 && b3.head.getAs[String]("report_name") == "broken_fail")

    val b4 = MonitoringAnalytics.dailyRowCounts(reports, asOf).collect()
    assert(b4.length == 8 && b4.forall(_.getAs[Long]("total_rows") == 10L))
  }
}
