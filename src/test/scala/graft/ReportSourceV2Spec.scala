package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{CsvIO, FakeReportSource, TokenManager}
import graft.model.Status
import graft.run.Orchestrator
import graft.sources.ReportPartition

/** DataSource V2 report source: reports-as-a-table with one partition per
  * report and partition pruning from pushed report_name filters.
  */
class ReportSourceV2Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-dsv2")

  override def afterAll(): Unit = spark.stop()

  private def reports = spark.read
    .format("graft.sources.ReportDataSource")
    .option("env", "prod")
    .option("from_date", "2024-02-29")
    .option("to_date", "2024-03-01")
    .option("rows_per_report", "50")
    .load()

  test("scans all enabled prod reports, one partition each") {
    val df = reports
    assert(df.count() == 8 * 50)
    assert(df.rdd.getNumPartitions == 8)
    assert(df.select("report_name").distinct().count() == 8)
  }

  test("report_name filter prunes partitions (unfetched reports cost nothing)") {
    val df = reports.filter(col("report_name") === "call_volume")
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 50)
    val in2 = reports.filter(col("report_name").isin("call_volume", "service_level"))
    assert(in2.rdd.getNumPartitions == 2)
    assert(in2.count() == 100)
  }

  test("conflicting name equalities intersect to zero partitions (not a wrong union)") {
    val df = reports.filter(
      col("report_name") === "call_volume" && col("report_name") === "service_level")
    assert(df.count() == 0, "two conflicting equalities must yield no rows")
    val one = reports.filter(
      col("report_name").isin("call_volume", "service_level") &&
        col("report_name") === "call_volume")
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 50)
  }

  test("source_provider option slots the HTTP wire client in (executor-side fetch over the network)") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    def respond(ex: HttpExchange, status: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes); ex.close()
    }
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/reports/generate", (ex: HttpExchange) =>
      respond(ex, 200, """{"report_id": "rid-x"}"""))
    // CRLF payload: the reader's \r?\n split must keep the last column clean
    server.createContext("/reports/download", (ex: HttpExchange) =>
      respond(ex, 200, "date,queue,calls,answered,abandoned\r\n2024-02-29,q1,10,8,1\r\n2024-02-29,q2,20,15,2\r\n"))
    server.start()
    try {
      val df = spark.read
        .format("graft.sources.ReportDataSource")
        .option("env", "prod")
        .option("from_date", "2024-02-29").option("to_date", "2024-03-01")
        .option("source_provider", "graft.ingest.HttpReportSourceProvider")
        .option("base_url", s"http://127.0.0.1:${server.getAddress.getPort}")
        .load()
        .filter(col("report_name") === "call_volume")
      val rows = df.collect()
      assert(rows.length == 2)
      assert(rows.map(_.getAs[Int]("calls")).sorted.toSeq == Seq(10, 20))
      assert(rows.forall(_.getAs[Int]("abandoned") > 0), "CRLF must not corrupt the last column")
    } finally server.stop(0)
  }

  test("composes with downstream relational operators") {
    val agg = reports.groupBy(col("report_name"))
      .agg(sum(col("calls")).as("total_calls"), count(lit(1)).as("n"))
      .orderBy(col("report_name"))
      .collect()
    assert(agg.length == 8)
    assert(agg.forall(_.getAs[Long]("n") == 50L))
    // deterministic source => stable totals across reads
    val again = reports.groupBy(col("report_name"))
      .agg(sum(col("calls")).as("total_calls")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    agg.foreach(r => assert(again(r.getString(0)) == r.getAs[Long]("total_calls")))
  }

  test("a transient 503 on generate is retried inside the scan, under the config's retry budget") {
    def respond(ex: HttpExchange, status: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes); ex.close()
    }
    val generates = new AtomicInteger
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/reports/generate", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (body.contains("call_volume") && generates.incrementAndGet() == 1)
        respond(ex, 503, """{"error": "unavailable"}""")
      else respond(ex, 200, """{"report_id": "rid-x"}""")
    })
    server.createContext("/reports/download", (ex: HttpExchange) =>
      respond(ex, 200, "date,queue,calls,answered,abandoned\n2024-02-29,q1,10,8,1\n2024-02-29,q2,20,15,2\n"))
    server.start()
    try {
      val rows = spark.read
        .format("graft.sources.ReportDataSource")
        .option("env", "prod")
        .option("from_date", "2024-02-29").option("to_date", "2024-03-01")
        .option("base_url", s"http://127.0.0.1:${server.getAddress.getPort}")
        .load()
        .filter(col("report_name") === "call_volume")
        .collect()
      assert(rows.map(_.getAs[Int]("calls")).sorted.toSeq == Seq(10, 20))
      assert(generates.get == 2, "one 503, then one successful retry")
    } finally server.stop(0)
  }

  test("each prod report's rows equal the data lines of the CSV processReport writes for its task") {
    val tasks = Orchestrator.tasksFor(spark, "prod", "parity", "2024-02-29", "2024-03-01")
    assert(tasks.size == 8)
    val byReport = reports.collect().groupBy(_.getString(0))
    val out = Files.createTempDirectory("graft-dsv2-parity").toString
    val tokens = new TokenManager(() => TokenManager.Token("parity-token", 3600))
    tasks.foreach { t =>
      val run = Orchestrator.processReport(new FakeReportSource(50), tokens, out, t)
      assert(run.status == Status.Success, run.error_message)
      val written = new String(Files.readAllBytes(Paths.get(
        CsvIO.outputPath(out, t.report_name, t.from_date, t.to_date))), StandardCharsets.UTF_8)
      val scanned = byReport(t.report_name).toSeq.map(r => (1 to 5).map(r.get(_).toString).mkString(","))
      assert(scanned == CsvIO.dataLines(written).toSeq, t.report_name)
    }
  }

  test("a scan leaves no ExecutionContext.global worker holding a task thread's class loader") {
    assert(reports.count() == 8 * 50)
    val poolLoaders = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("scala-execution-context-global"))
      .flatMap(t => Option(t.getContextClassLoader)).map(_.getClass.getName)
    assert(!poolLoaders.contains("org.apache.spark.executor.ExecutorClassLoader"), poolLoaders.distinct)
  }

  test("planned partitions carry tasksFor's report names, retries and timeout_sec (prod and dev)") {
    for (env <- Seq("prod", "dev")) {
      val df = spark.read.format("graft.sources.ReportDataSource").option("env", env).load()
      val planned = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.inputPartitions }
        .flatten.map(_.asInstanceOf[ReportPartition].task)
      val fromConfig = Orchestrator.tasksFor(spark, env, "any", "2024-02-29", "2024-03-01")
      def key(t: Orchestrator.ReportTask) = (t.report_name, t.retries, t.timeout_sec)
      assert(planned.map(key).sorted == fromConfig.map(key).sorted, env)
      assert(planned.find(_.report_name == "call_details").map(_.timeout_sec).contains(60), env)
    }
  }
}
