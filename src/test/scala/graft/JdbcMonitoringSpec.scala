package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.MonitoringAnalytics
import graft.model.{JobRun, ReportRun, Status}
import graft.run.{JdbcMonitoring, Monitoring}

/** C8 parity: the monitoring surface against an embedded SQL store (Derby
  * via Spark JDBC), including the reference's genuine keyed UPDATE.
  */
class JdbcMonitoringSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[2]", 2, "graft-jdbc")

  override def afterAll(): Unit = spark.stop()

  private val dbDir =
    java.nio.file.Files.createTempDirectory("graft-derby").toString + "/mon"

  private def rr(name: String, status: String, rows: Int): ReportRun =
    ReportRun("run-jdbc", name, "2024-02-29", "2024-03-01",
      Timestamp.valueOf("2024-03-01 10:00:00"),
      Timestamp.valueOf("2024-03-01 10:00:05"), status, rows, None)

  test("JDBC store round-trips monitoring rows and feeds the same analytics") {
    import spark.implicits._
    val rows = Seq(rr("a", Status.Success, 10), rr("b", Status.Success, 20),
      rr("c", Status.Failed, 0))
    JdbcMonitoring.append(spark.createDataset(rows).toDF(), dbDir, "report_monitoring")
    val back = JdbcMonitoring.read(spark, dbDir, "report_monitoring")
    assert(back.count() == 3)
    val derived = Monitoring.deriveJobStatus(back).collect().head
    assert(derived.getAs[String]("status") == Status.PartialSuccess)
    val b2 = MonitoringAnalytics.reportStatus(back, java.sql.Date.valueOf("2024-03-01"))
      .collect()
    assert(b2.length == 3 && b2.map(_.getAs[Long]("total_runs")).sum == 3)
  }

  test("keyed UPDATE finalizes the job row in place (the reference's A8 form)") {
    import spark.implicits._
    val running = JobRun("run-jdbc", "2024-02-29", "2024-03-01",
      Timestamp.valueOf("2024-03-01 10:00:00"), None, Status.Running, 3, 0, 0, None)
    JdbcMonitoring.append(spark.createDataset(Seq(running)).toDF(), dbDir, "job_monitoring")
    val updated = JdbcMonitoring.finalizeJob(
      dbDir, "job_monitoring", "run-jdbc", Status.PartialSuccess, 2, 1)
    assert(updated == 1)
    // filter client-side: a pushed-down predicate would compare Derby's
    // CLOB column with a CHAR literal, which Derby rejects
    val row = JdbcMonitoring.read(spark, dbDir, "job_monitoring")
      .collect().filter(_.getAs[String]("run_id") == "run-jdbc").head
    assert(row.getAs[String]("status") == Status.PartialSuccess)
    assert(row.getAs[Int]("success_count") == 2 && row.getAs[Int]("failed_count") == 1)
    assert(row.getAs[Timestamp]("end_time") != null, "UPDATE must set end_time")
  }
}
