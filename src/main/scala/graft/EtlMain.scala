package graft

import java.sql.Timestamp
import java.time.{Instant, LocalDate}
import java.util.UUID
import scala.concurrent.ExecutionContext

import org.apache.spark.sql.SparkSession

import graft.config.ConfigTables
import graft.ingest.{FakeReportSource, HttpReportSource, HttpTokenFetcher, ReportSource, TokenManager}
import graft.model.{JobRun, Status}
import graft.run.{Monitoring, Orchestrator, Secrets}
import graft.analytics.MonitoringAnalytics

/** End-to-end ETL entry point — SURVEY §2 E5, the analog of
  * `python -m local.talkdesk_local_etl --from --to`
  * (`local/talkdesk_local_etl.py:86-90,125-126`) and the widget/env
  * resolution of `databricks/talkdesk_databricks_etl.py:25-32,479-497`.
  *
  * {{{
  * sbt "runMain graft.EtlMain"                        # yesterday→today, fake source
  * sbt "runMain graft.EtlMain --from 2024-03-01 --to 2024-03-02 --env dev"
  * sbt "runMain graft.EtlMain --mode distributed --out /tmp/etl"
  * }}}
  *
  * Flags (env-var fallbacks in parens): `--from`/`--to` (`GRAFT_FROM_DATE`/
  * `GRAFT_TO_DATE`; default yesterday→today UTC), `--env` (`GRAFT_ENV`,
  * default prod), `--out` (`GRAFT_OUT_DIR`), `--mode driver|distributed`,
  * `--source fake|http`. `--source http` loads [[Secrets]] fail-fast
  * (GRAFT_SECRET_* env vars) and wires the OAuth token fetch + HTTP wire
  * client; `fake` runs the deterministic in-process source (this container
  * has zero egress).
  *
  * Pipeline: config → orchestrator fan-out (driver-parallel or
  * distributed) → CSV sink per report → monitoring appends (RUNNING event,
  * report rows, terminal event) → latest-wins job view + B1–B4 analytics,
  * printed to stdout. Exit code 1 if the job finishes FAILED.
  */
object EtlMain {

  final case class Args(
      fromDate: String, toDate: String, env: String, outDir: String,
      mode: String, source: String, baseUrl: Option[String] = None)

  def parseArgs(argv: Array[String], envVars: Map[String, String] = sys.env,
      today: LocalDate = LocalDate.now(java.time.ZoneOffset.UTC)): Args = {
    val kv = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case flag if flag.startsWith("--") && i + 1 < argv.length =>
          kv(flag.drop(2)) = argv(i + 1); i += 2
        case other =>
          sys.error(s"unrecognized argument: $other (flags: --from --to --env --out --mode --source --base-url)")
      }
    }
    val (defFrom, defTo) = Orchestrator.defaultDates(today)
    // by-name default: the temp-dir fallback below must only run when no
    // --out/env value was supplied (eager evaluation would create a stray
    // empty directory on every invocation)
    def opt(flag: String, envKey: String, default: => String) =
      kv.get(flag).orElse(envVars.get(envKey)).getOrElse(default)
    val a = Args(
      fromDate = opt("from", "GRAFT_FROM_DATE", defFrom),
      toDate = opt("to", "GRAFT_TO_DATE", defTo),
      env = opt("env", "GRAFT_ENV", "prod"),
      outDir = opt("out", "GRAFT_OUT_DIR",
        java.nio.file.Files.createTempDirectory("graft-etl").toString),
      mode = opt("mode", "GRAFT_MODE", "driver"),
      source = opt("source", "GRAFT_SOURCE", "fake"),
      baseUrl = kv.get("base-url").orElse(envVars.get("GRAFT_BASE_URL")))
    // fail fast on malformed dates / flags, like the reference's argparse
    LocalDate.parse(a.fromDate); LocalDate.parse(a.toDate)
    require(Seq("driver", "distributed").contains(a.mode), s"--mode driver|distributed, got ${a.mode}")
    require(Seq("fake", "http").contains(a.source), s"--source fake|http, got ${a.source}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spark = Graft.session(appName = "graft-etl")
    spark.sparkContext.setLogLevel("WARN")
    val exitCode = run(spark, args)
    spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }

  /** The full pipeline, separated from `main` so specs drive it in-process.
    * `secretsProvider` defaults to the env-var store; tests inject a canned
    * bundle to exercise the http wiring against a local server.
    */
  def run(spark: SparkSession, args: Args,
      secretsProvider: () => Map[String, String] = () => Secrets.fromEnv()): Int = {
    import spark.implicits._
    println(s"Running from ${args.fromDate} to ${args.toDate} " +
      s"(env=${args.env}, mode=${args.mode}, source=${args.source}, out=${args.outDir})")

    // --- secrets first: an http run fails fast on a missing key (C10)
    val secrets = if (args.source == "http") secretsProvider() else Map.empty[String, String]

    val runId = UUID.randomUUID().toString
    val csvDir = s"${args.outDir}/csv"
    val reportDir = s"${args.outDir}/report_monitoring"
    val jobDir = s"${args.outDir}/job_monitoring"

    // --- config → tasks (A1–A5)
    val tasks = Orchestrator.tasksFor(spark, args.env, runId, args.fromDate, args.toDate)
    println(s"${tasks.size} reports to process")
    val (sourceFactory, tokenFactory) = wiring(args, secrets, tasks)

    // --- RUNNING event (A9 append; A8 latest-wins collapses it later)
    val startEvent = JobRun(runId, args.fromDate, args.toDate,
      Timestamp.from(Instant.now()), None, Status.Running, tasks.size, 0, 0, None)
    Monitoring.appendJobEvents(Seq(startEvent).toDS(), jobDir)

    // --- fan-out (E1/E3; A11–A13 in distributed mode) and the report rows
    // (C6/A9, one batched append). A failure here still closes the job: a
    // terminal FAILED row carrying the error lands before it is rethrown,
    // so no job stays RUNNING.
    val result = try {
      val r = args.mode match {
        case "distributed" =>
          Orchestrator.runDistributed(spark, sourceFactory, tokenFactory,
            tasks, csvDir, args.fromDate, args.toDate)
        case _ =>
          Orchestrator.runDriverParallel(sourceFactory(), tokenFactory(),
            tasks, csvDir, args.fromDate, args.toDate)(ExecutionContext.global)
      }
      Monitoring.appendReportRuns(r.reports.toDS(), reportDir)
      r
    } catch {
      case e: Throwable =>
        val failed = startEvent.copy(end_time = Some(Timestamp.from(Instant.now())),
          status = Status.Failed, error_message = Some(String.valueOf(e.getMessage)))
        try Monitoring.appendJobEvents(Seq(failed).toDS(), jobDir)
        catch { case s: Throwable => e.addSuppressed(s) }
        throw e
    }
    Monitoring.appendJobEvents(Seq(result.job).toDS(), jobDir)

    // --- analytics (A8 + B1–B4) over what was just written
    val jobState = Monitoring.latestJobState(Monitoring.reportMonitoring(spark, jobDir))
    val reports = Monitoring.reportMonitoring(spark, reportDir)
    val asOf = java.sql.Date.valueOf(LocalDate.parse(args.toDate))
    println("— job state (latest-wins):")
    jobState.show(truncate = false)
    println("— B1 job summary:")
    MonitoringAnalytics.jobSummary(jobState, asOf).show(truncate = false)
    println("— B2 per-report status:")
    MonitoringAnalytics.reportStatus(reports, asOf).show(truncate = false)
    println("— B3 error details:")
    MonitoringAnalytics.errorDetails(reports, asOf).show(truncate = false)
    println("— B4 daily row counts:")
    MonitoringAnalytics.dailyRowCounts(reports, asOf).show(truncate = false)

    println(s"Job ${result.job.run_id}: ${result.job.status} " +
      s"(${result.job.success_count}/${result.job.total_reports} ok)")
    if (result.job.status == Status.Failed) 1 else 0
  }

  /** The run's wire client and token supply (C1/C10). An http source's
    * request timeout is the largest `timeout_sec` among `tasks`, so no
    * call times out on the wire while its task still waits for it
    * (`call_details` waits 60 s).
    */
  private[graft] def wiring(args: Args, secrets: Map[String, String],
      tasks: Seq[Orchestrator.ReportTask]): (() => ReportSource, () => TokenManager) =
    args.source match {
      case "http" =>
        val endpoint = ConfigTables.seedEndpoints.find(_.env == args.env)
          .getOrElse(sys.error(s"no endpoint config for env ${args.env}"))
        val base = args.baseUrl.getOrElse(endpoint.base_url)
        // a run without tasks never calls the source
        val timeoutSec = tasks.map(_.timeout_sec).maxOption.getOrElse(30)
        (() => new HttpReportSource(base, endpoint.post_endpoint, endpoint.get_endpoint, timeoutSec),
          () => new TokenManager(() => HttpTokenFetcher.fetch(
            secrets(Secrets.TokenUrlKey), secrets("client_id"), secrets("client_secret"))))
      case _ =>
        (() => new FakeReportSource(), () => new TokenManager(() => TokenManager.Token("etl-token", 3600)))
    }
}
