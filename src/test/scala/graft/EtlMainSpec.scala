package graft

import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.run.Secrets

class SecretsSpec extends AnyFunSuite {

  private val full: Map[String, String] =
    Secrets.RequiredKeys.map(k => s"GRAFT_SECRET_${k.toUpperCase}" -> s"v-$k").toMap

  test("loads all required keys and defaults the optional token_url") {
    val s = Secrets.fromEnv(full)
    Secrets.RequiredKeys.foreach(k => assert(s(k) == s"v-$k"))
    assert(s(Secrets.TokenUrlKey) == Secrets.DefaultTokenUrl)
  }

  test("explicit token_url overrides the default") {
    val s = Secrets.fromEnv(full + ("GRAFT_SECRET_TOKEN_URL" -> "https://other/oauth"))
    assert(s(Secrets.TokenUrlKey) == "https://other/oauth")
  }

  test("fails fast listing ALL missing required keys, not just the first") {
    val partial = full - "GRAFT_SECRET_CLIENT_SECRET" - "GRAFT_SECRET_STORAGE_ACCOUNT"
    val e = intercept[Secrets.MissingSecrets](Secrets.fromEnv(partial))
    assert(e.keys.toSet == Set("client_secret", "storage_account"))
    assert(e.getMessage.contains("client_secret") && e.getMessage.contains("storage_account"))
  }

  test("blank values count as missing (a vault returning '' must not pass)") {
    val e = intercept[Secrets.MissingSecrets](
      Secrets.fromEnv(full + ("GRAFT_SECRET_CLIENT_ID" -> "")))
    assert(e.keys == Seq("client_id"))
  }
}

class EtlMainSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-etlmain")

  override def afterAll(): Unit = spark.stop()

  private val today = LocalDate.parse("2024-03-02")

  test("parseArgs defaults: yesterday→today UTC, prod, driver, fake") {
    val a = EtlMain.parseArgs(Array.empty, envVars = Map.empty, today = today)
    assert(a.fromDate == "2024-03-01" && a.toDate == "2024-03-02")
    assert(a.env == "prod" && a.mode == "driver" && a.source == "fake")
  }

  test("parseArgs precedence: flags beat env vars beat defaults") {
    val env = Map("GRAFT_FROM_DATE" -> "2024-01-01", "GRAFT_ENV" -> "dev")
    val a = EtlMain.parseArgs(Array("--from", "2024-02-01"), env, today)
    assert(a.fromDate == "2024-02-01") // flag wins
    assert(a.env == "dev")             // env var wins over default
    assert(a.toDate == "2024-03-02")   // default
  }

  test("parseArgs fails fast on malformed dates and unknown modes") {
    intercept[Exception](EtlMain.parseArgs(Array("--from", "03/01/2024"), Map.empty, today))
    intercept[Exception](EtlMain.parseArgs(Array("--mode", "turbo"), Map.empty, today))
    intercept[Exception](EtlMain.parseArgs(Array("stray"), Map.empty, today))
  }

  test("end-to-end driver run: 8 prod reports fetched, sunk, monitored, SUCCESS") {
    val out = java.nio.file.Files.createTempDirectory("graft-etl-spec").toString
    val rc = EtlMain.run(spark, EtlMain.Args(
      "2024-03-01", "2024-03-02", "prod", out, "driver", "fake"))
    assert(rc == 0)
    // CSV sink: one dir per report, file named {from}_to_{to}.csv (C5)
    val reportDirs = new java.io.File(s"$out/csv").listFiles().filter(_.isDirectory)
    assert(reportDirs.length == 8, reportDirs.map(_.getName).mkString(","))
    assert(reportDirs.forall(d =>
      new java.io.File(d, "2024-03-01_to_2024-03-02.csv").isFile))
    // monitoring: latest-wins collapses RUNNING + terminal into one SUCCESS row
    val job = graft.run.Monitoring.latestJobState(
      spark.read.parquet(s"$out/job_monitoring")).collect()
    assert(job.length == 1)
    assert(job.head.getAs[String]("status") == "SUCCESS")
    assert(job.head.getAs[Int]("success_count") == 8)
    val reports = spark.read.parquet(s"$out/report_monitoring")
    assert(reports.count() == 8)
    assert(reports.filter(org.apache.spark.sql.functions.col("status") === "SUCCESS").count() == 8)
  }

  test("end-to-end http run: secrets → OAuth token → wire fetch → monitoring") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    def respond(ex: HttpExchange, status: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes); ex.close()
    }
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/oauth/token", (ex: HttpExchange) => {
      val form = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (form.contains("client_id=cid")) respond(ex, 200,
        """{"access_token": "live-token", "expires_in": 1200}""")
      else respond(ex, 401, """{"error": "bad_client"}""")
    })
    server.createContext("/reports/generate", (ex: HttpExchange) => {
      if (ex.getRequestHeaders.getFirst("Authorization") != "Bearer live-token")
        respond(ex, 401, """{"error": "unauthorized"}""")
      else respond(ex, 200, """{"report_id": "rid-1"}""")
    })
    server.createContext("/reports/download", (ex: HttpExchange) =>
      respond(ex, 200, "date,queue,calls\n2024-03-01,q1,10\n2024-03-01,q2,20\n"))
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val out = java.nio.file.Files.createTempDirectory("graft-etl-http").toString
      val secrets = graft.run.Secrets.RequiredKeys.map(k => k -> s"v-$k").toMap ++
        Map("client_id" -> "cid", "client_secret" -> "sec",
          graft.run.Secrets.TokenUrlKey -> s"$base/oauth/token")
      val rc = EtlMain.run(spark,
        EtlMain.Args("2024-03-01", "2024-03-02", "prod", out, "driver", "http", Some(base)),
        secretsProvider = () => secrets)
      assert(rc == 0)
      val reports = spark.read.parquet(s"$out/report_monitoring")
      assert(reports.count() == 8)
      assert(reports.filter(org.apache.spark.sql.functions.col("status") === "SUCCESS").count() == 8)
      assert(reports.collect().forall(_.getAs[Int]("rows_written") == 2))

      // distributed mode over the same server: source/token factories are
      // serialized to executor tasks, each partition fetches over the wire
      val out2 = java.nio.file.Files.createTempDirectory("graft-etl-http-d").toString
      val rc2 = EtlMain.run(spark,
        EtlMain.Args("2024-03-01", "2024-03-02", "dev", out2, "distributed", "http", Some(base)),
        secretsProvider = () => secrets)
      assert(rc2 == 0)
      val reports2 = spark.read.parquet(s"$out2/report_monitoring")
      assert(reports2.count() == 8)
      assert(reports2.filter(org.apache.spark.sql.functions.col("status") === "SUCCESS").count() == 8)
    } finally server.stop(0)
  }

  test("an http run's wire timeout is its tasks' largest timeout_sec") {
    val tasks = graft.run.Orchestrator.tasksFor(spark, "prod", "run-t", "2024-03-01", "2024-03-02")
    assert(tasks.exists(t => t.report_name == "call_details" && t.timeout_sec == 60))
    val (source, _) = EtlMain.wiring(EtlMain.Args("2024-03-01", "2024-03-02", "prod",
      "unused", "driver", "http", Some("http://127.0.0.1:1")), Map.empty, tasks)
    assert(source().asInstanceOf[graft.ingest.HttpReportSource].timeoutSec == 60)
  }

  test("a failure after the RUNNING event still lands a terminal FAILED job row") {
    val out = java.nio.file.Files.createTempDirectory("graft-etl-fail").toString
    // a regular file where the report store's directory goes: the report
    // append throws after the fan-out
    assert(new java.io.File(s"$out/report_monitoring").createNewFile())
    val e = intercept[Exception](EtlMain.run(spark, EtlMain.Args(
      "2024-03-01", "2024-03-02", "prod", out, "driver", "fake")))
    val job = graft.run.Monitoring.latestJobState(
      spark.read.parquet(s"$out/job_monitoring")).collect()
    assert(job.length == 1)
    assert(job.head.getAs[String]("status") == "FAILED")
    assert(job.head.getAs[String]("error_message") == String.valueOf(e.getMessage))
  }

  test("end-to-end distributed run matches driver-mode outcomes") {
    val out = java.nio.file.Files.createTempDirectory("graft-etl-spec-d").toString
    val rc = EtlMain.run(spark, EtlMain.Args(
      "2024-03-01", "2024-03-02", "dev", out, "distributed", "fake"))
    assert(rc == 0)
    val job = graft.run.Monitoring.latestJobState(
      spark.read.parquet(s"$out/job_monitoring")).collect()
    assert(job.length == 1 && job.head.getAs[String]("status") == "SUCCESS")
    assert(spark.read.parquet(s"$out/report_monitoring").count() == 8)
  }
}
