package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{JobRun, Status}
import graft.run.Monitoring

/** A8 lake-path MERGE emulation: partition-scoped read-merge-overwrite must
  * reproduce latest-wins semantics while leaving untouched partitions'
  * files alone.
  */
class MergeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-merge")

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String) = Timestamp.valueOf(s)
  private def job(id: String, date: String, status: String, start: String,
      end: Option[String] = None, ok: Int = 0, fail: Int = 0): JobRun =
    JobRun(id, date, date, ts(start), end.map(ts), status, 8, ok, fail, None)

  private val initial = Seq(
    job("r1", "2024-03-01", Status.Running, "2024-03-01 08:00:00"),
    job("r2", "2024-03-01", Status.Running, "2024-03-01 09:00:00"),
    job("r3", "2024-03-03", Status.Success, "2024-03-03 08:00:00",
      Some("2024-03-03 08:05:00"), ok = 8))

  private val updates = Seq(
    // WHEN MATCHED: r1 finishes
    job("r1", "2024-03-01", Status.Success, "2024-03-01 08:30:00",
      Some("2024-03-01 08:35:00"), ok = 8),
    // WHEN NOT MATCHED: brand-new run on a brand-new date partition
    job("r4", "2024-03-02", Status.Failed, "2024-03-02 08:00:00",
      Some("2024-03-02 08:01:00"), fail = 8))

  test("merge upserts by run_id and equals the latest-wins view of an event log") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString + "/job_runs"
    Monitoring.writeJobRunsPartitioned(initial.toDS(), dir)
    Monitoring.mergeJobRuns(spark, dir, updates.toDS())

    // cast: partition type inference reads the from_date dir values as DATE
    val merged = spark.read.parquet(dir)
      .withColumn("from_date",
        org.apache.spark.sql.functions.col("from_date").cast("string"))
      .collect().map(r => r.getAs[String]("run_id") ->
        ((r.getAs[String]("status"), r.getAs[String]("from_date")))).toMap
    assert(merged.keySet == Set("r1", "r2", "r3", "r4"))
    assert(merged("r1") == ((Status.Success, "2024-03-01")), "matched row replaced whole-row")
    assert(merged("r2") == ((Status.Running, "2024-03-01")), "unmatched row carried over")
    assert(merged("r3") == ((Status.Success, "2024-03-03")), "untouched partition intact")
    assert(merged("r4") == ((Status.Failed, "2024-03-02")), "new key inserted")

    // equivalence: the same events through the append-only log + latest-wins
    // view yield exactly the same (run_id -> row) state
    val logDir = java.nio.file.Files.createTempDirectory("graft-merge-log").toString
    Monitoring.appendJobEvents(initial.toDS(), logDir)
    Monitoring.appendJobEvents(updates.toDS(), logDir)
    val view = Monitoring.latestJobState(spark.read.parquet(logDir))
      .collect().map(r => r.getAs[String]("run_id") ->
        ((r.getAs[String]("status"), r.getAs[String]("from_date")))).toMap
    assert(view == merged, "merge must equal the latest-wins view")
  }

  test("merge rewrites ONLY the partitions the update touches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge2").toString + "/job_runs"
    Monitoring.writeJobRunsPartitioned(initial.toDS(), dir)
    def filesOf(date: String): Set[String] = {
      val d = new java.io.File(s"$dir/from_date=$date")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getName}:${f.lastModified}").toSet
    }
    val untouchedBefore = filesOf("2024-03-03")
    assert(untouchedBefore.nonEmpty)
    Monitoring.mergeJobRuns(spark, dir, updates.toDS())
    assert(filesOf("2024-03-03") == untouchedBefore,
      "partition 2024-03-03 must not be rewritten")
    assert(filesOf("2024-03-02").nonEmpty, "new partition written")
    // and the touched partition now holds exactly its merged rows
    val d1 = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("from_date") === "2024-03-01")
      .collect().map(r => (r.getAs[String]("run_id"), r.getAs[String]("status"))).toSet
    assert(d1 == Set(("r1", Status.Success), ("r2", Status.Running)))
  }

  test("generic merge upserts report runs on a composite (run_id, report_name) key") {
    import spark.implicits._
    import graft.model.ReportRun
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-rr").toString + "/report_runs"
    def rrun(id: String, name: String, status: String, rows: Int) =
      ReportRun(id, name, "2024-03-01", "2024-03-01",
        ts("2024-03-01 08:00:00"), ts("2024-03-01 08:05:00"), status, rows, None)
    Monitoring.mergePartitioned(spark, dir,
      Seq(rrun("r1", "a", Status.Failed, 0), rrun("r1", "b", Status.Success, 5)).toDF(),
      Seq("run_id", "report_name"), "from_date")
    // retry of (r1, a) succeeds; (r1, b) untouched; (r1, c) new
    Monitoring.mergePartitioned(spark, dir,
      Seq(rrun("r1", "a", Status.Success, 7), rrun("r1", "c", Status.Success, 9)).toDF(),
      Seq("run_id", "report_name"), "from_date")
    val out = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[String]("report_name"),
        r.getAs[String]("status"), r.getAs[Int]("rows_written"))).toSet
    assert(out == Set(("a", Status.Success, 7), ("b", Status.Success, 5),
      ("c", Status.Success, 9)), s"got $out")
  }

  test("merge into a missing table is a plain partitioned insert") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge3").toString + "/job_runs"
    Monitoring.mergeJobRuns(spark, dir, updates.toDS())
    assert(spark.read.parquet(dir).count() == 2)
  }
}
