package etlbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.ingest.CsvIO
import graft.model.{JobRun, ReportRun, Status}
import graft.run.Monitoring

/** Outcome checker, run after every job. A failed check fails the run;
  * reports that ended FAILED although the script lets them succeed are
  * only counted ([[Checked.unscripted]]), as the program's defect.
  */
object Checker {

  final case class Checked(failures: Seq[String], unscripted: Seq[ReportRun])

  def check(spark: SparkSession, script: Script, stub: StubServer, store: Store,
      outcome: JobOutcome): Checked = {
    import spark.implicits._
    val failures = Seq.newBuilder[String]
    def expect(cond: Boolean, msg: => String): Unit = if (!cond) failures += msg

    val runId = outcome.startEvent.run_id
    val reports = outcome.result.reports
    val taskNames = outcome.tasks.map(_.report_name)
    expect(taskNames.sorted == script.reportNames.sorted,
      s"tasks ${taskNames.size} differ from the script's ${script.reportNames.size} reports")

    // exactly one ReportRun per task, in the result and in the store
    val stored = Monitoring.reportMonitoring(spark, store.reportDir).as[ReportRun].collect().toSeq
    val storedRun = stored.filter(_.run_id == runId)
    expect(reports.map(_.report_name).sorted == taskNames.sorted,
      s"result has ${reports.size} report rows for ${taskNames.size} tasks")
    expect(storedRun.map(_.report_name).sorted == taskNames.sorted,
      s"store has ${storedRun.size} report rows for ${taskNames.size} tasks")
    expect(stored.map(norm).toSet == (EtlJob.historyReports(script) ++ reports).map(norm).toSet &&
      stored.size == EtlJob.historyReports(script).size + reports.size,
      "report store differs from the rows written")

    // job status = Status.derive(ok, fail)
    val ok = reports.count(_.status == Status.Success)
    val fail = reports.size - ok
    val job = outcome.result.job
    expect(job.status == Status.derive(ok.toLong, fail.toLong) &&
      job.success_count == ok && job.failed_count == fail && job.total_reports == reports.size,
      s"job row ${job.status} $ok/$fail does not derive from its reports")

    // per-report outcome against the script and the served payload
    for (r <- reports) {
      val path = Paths.get(CsvIO.outputPath(store.csvDir, r.report_name, r.from_date, r.to_date))
      if (r.status == Status.Success) {
        expect(Files.exists(path) && java.util.Arrays.equals(Files.readAllBytes(path), stub.payloadOf(r.report_name)),
          s"${r.report_name}: written file differs from the served payload")
        expect(r.rows_written == script.servedRows(r.report_name),
          s"${r.report_name}: rows_written ${r.rows_written} != served ${script.servedRows(r.report_name)}")
      }
      if (!script.expectSuccess(r.report_name))
        expect(r.status == Status.Failed, s"${r.report_name}: scripted to fail but ended ${r.status}")
    }

    // an output file exists only for SUCCESS reports
    val written = listFiles(Paths.get(store.csvDir)).map(_.toAbsolutePath.normalize).toSet
    val expected = reports.filter(_.status == Status.Success).map(r =>
      Paths.get(CsvIO.outputPath(store.csvDir, r.report_name, r.from_date, r.to_date)).toAbsolutePath.normalize).toSet
    expect(written == expected, s"${written.size} output files for ${expected.size} SUCCESS reports")

    expect(stub.count("status.401") == 0 && stub.count("status.404") == 0,
      "stub answered 401/404: the job's wiring is wrong")

    failures ++= analytics(outcome.dashboard,
      EtlJob.historyEvents(script) ++ Seq(outcome.startEvent, job), EtlJob.historyReports(script) ++ reports)

    val unscripted = reports.filter(r => r.status == Status.Failed && script.expectSuccess(r.report_name))
    Checked(failures.result(), unscripted)
  }

  /** Latest-wins and B1-B4 recomputed in plain Scala from the rows written. */
  def analytics(dash: Dashboard, events: Seq[JobRun], reports: Seq[ReportRun]): Seq[String] = {
    val failures = Seq.newBuilder[String]
    val asOf = LocalDate.parse(Script.ToDate)
    def day(t: Timestamp): LocalDate = t.toInstant.atZone(ZoneOffset.UTC).toLocalDate
    def inWindow(t: Timestamp) = !day(t).isBefore(asOf.minusDays(7))
    def terminal(j: JobRun) = if (j.status == Status.Running) 0 else 1

    val latest = events.groupBy(_.run_id).values
      .map(_.maxBy(j => (micros(j.start_time), terminal(j)))).toSeq
    val gotLatest = dash.latest.map(r => norm(JobRun(r.getAs[String]("run_id"), r.getAs[String]("from_date"),
      r.getAs[String]("to_date"), r.getAs[Timestamp]("start_time"), Option(r.getAs[Timestamp]("end_time")),
      r.getAs[String]("status"), r.getAs[Int]("total_reports"), r.getAs[Int]("success_count"),
      r.getAs[Int]("failed_count"), Option(r.getAs[String]("error_message")))))
    if (gotLatest.sortBy(_.run_id) != latest.map(norm).sortBy(_.run_id)) failures += "latest-wins differs"

    def n(s: String, statuses: Seq[String]): Long = statuses.count(_ == s).toLong

    val b1 = latest.filter(j => inWindow(j.start_time)).groupBy(j => day(j.start_time)).toSeq
      .sortBy(_._1)(Ordering[LocalDate].reverse)
      .map { case (d, js) =>
        val st = js.map(_.status)
        Seq(d.toString, js.size.toLong, n(Status.Success, st), n(Status.PartialSuccess, st), n(Status.Failed, st))
      }
    if (dash.b1.map(cells) != b1) failures += "B1 job summary differs"

    val recent = reports.filter(r => inWindow(r.start_time))
    val b2 = recent.groupBy(_.report_name).toSeq.sortBy(_._1)
      .map { case (name, rs) =>
        val st = rs.map(_.status)
        Seq(name, rs.size.toLong, n(Status.Success, st), n(Status.Failed, st))
      }
    if (dash.b2.map(cells) != b2) failures += "B2 report status differs"

    val b3 = recent.filter(_.status == Status.Failed)
      .map(r => Seq(r.report_name, r.from_date, r.to_date, micros(r.start_time), r.error_message.orNull))
    val gotB3 = dash.b3.map(cells)
    if (gotB3.map(_(3)) != b3.map(_(3).asInstanceOf[Long]).sorted(Ordering[Long].reverse) ||
        gotB3.sortBy(_.toString) != b3.sortBy(_.toString)) failures += "B3 error details differ"

    val b4 = recent.filter(_.status == Status.Success).groupBy(r => (day(r.start_time), r.report_name)).toSeq
      .sortBy { case ((d, name), _) => (-d.toEpochDay, name) }
      .map { case ((d, name), rs) => Seq(d.toString, name, rs.map(_.rows_written.toLong).sum) }
    if (dash.b4.map(cells) != b4) failures += "B4 daily row counts differ"
    failures.result()
  }

  /** A collected row as comparable cells: dates as ISO strings, timestamps as epoch micros. */
  private def cells(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.sql.Date => d.toLocalDate.toString
    case t: Timestamp => micros(t)
    case other => other
  }

  def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

  private def trunc(t: Timestamp): Timestamp = {
    val c = new Timestamp(t.getTime)
    c.setNanos(t.getNanos / 1000 * 1000)
    c
  }

  /** Rows as the store holds them: timestamps at microsecond precision. */
  def norm(r: ReportRun): ReportRun = r.copy(start_time = trunc(r.start_time), end_time = trunc(r.end_time))
  def norm(j: JobRun): JobRun = j.copy(start_time = trunc(j.start_time), end_time = j.end_time.map(trunc))

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
}
