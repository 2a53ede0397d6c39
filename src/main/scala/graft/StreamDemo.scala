package graft

import java.sql.Timestamp
import org.apache.spark.sql.streaming.OutputMode
import graft.model.{ReportRun, Status}
import graft.streaming.MonitoringStream

/** Runnable demo of the streaming monitoring surface: runs the full
  * pipeline (orchestrate a fake-source ETL run → append monitoring parquet
  * → consume it as a file STREAM → windowed status analytics), printing the
  * streamed aggregates. Usage: `sbt "runMain graft.StreamDemo"`.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("local[4]", 4, "graft-stream-demo")
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    // 1. produce a real monitoring feed with the batch pipeline
    val monDir = java.nio.file.Files.createTempDirectory("graft-demo-mon").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-demo-out").toString
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val tasks = graft.run.Orchestrator.tasksFor(spark, "prod", "demo-run", "2024-02-29", "2024-03-01") ++
      Seq(graft.run.Orchestrator.ReportTask("demo-run", "broken_fail", 2, 30, "2024-02-29", "2024-03-01"))
    val res = graft.run.Orchestrator.runDriverParallel(
      new graft.ingest.FakeReportSource(25),
      new graft.ingest.TokenManager(() => graft.ingest.TokenManager.Token("demo", 3600)),
      tasks, outDir, "2024-02-29", "2024-03-01",
      backoffBase = scala.concurrent.duration.Duration(1, "ms"))
    graft.run.Monitoring.appendReportRuns(spark.createDataset(res.reports), monDir)
    println(s"[demo] batch run: job=${res.job.status} ok=${res.job.success_count} fail=${res.job.failed_count}")

    // 2. consume the same directory as a structured stream
    val q = MonitoringStream.windowedStatusCounts(
      MonitoringStream.fromParquetDir(spark, monDir))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("demo_counts").start()
    q.processAllAvailable()
    println("[demo] streamed windowed status counts:")
    spark.table("demo_counts").orderBy("window_start", "status").collect()
      .foreach(r => println(s"[demo]   $r"))

    // 3. late-arriving second run lands in the same stream
    val late = res.reports.map(r => r.copy(run_id = "demo-run-2",
      start_time = Timestamp.valueOf("2024-03-02 08:00:00")))
    graft.run.Monitoring.appendReportRuns(spark.createDataset(late), monDir)
    q.processAllAvailable()
    println("[demo] after second-day append:")
    spark.table("demo_counts").orderBy("window_start", "status").collect()
      .foreach(r => println(s"[demo]   $r"))
    q.stop()

    // 4. latched failure alerting over the same feed (flatMapGroupsWithState)
    val alerts = MonitoringStream.failureAlerts(spark,
        MonitoringStream.fromParquetDir(spark, monDir).as[ReportRun], threshold = 1)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("demo_alerts").start()
    alerts.processAllAvailable()
    println("[demo] failure alerts (threshold 1, one per run):")
    spark.table("demo_alerts").collect().foreach(r => println(s"[demo]   $r"))
    alerts.stop()
    spark.stop()
  }
}
