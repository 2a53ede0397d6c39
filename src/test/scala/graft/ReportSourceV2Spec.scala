package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

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
}
