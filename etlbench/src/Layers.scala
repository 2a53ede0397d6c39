package etlbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.ingest.Retry
import graft.model.Status

/** Per-layer metrics of a traced run, derived from the spans recorded
  * around each layer call, the `ReportRun` rows the job returned, the
  * stub's own counters and the listener's Spark job counts.
  */
object Layers {
  import Trace.Span

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def p99(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.percentile(xs, 0.99)

  /** Adds report spans (and partition spans in distributed mode) under the
    * fan-out span and re-parents every call span to its report's span.
    */
  def buildTree(outcome: JobOutcome): Unit = {
    val spans = Trace.all
    val fanout = spans.find(_.name == "orchestrator.fanout").get
    val calls = spans.filter(_.name.startsWith("http."))
    val partitionOf = (calls ++ spans.filter(_.name == "token.fetch")).filter(_.attrs.contains("report"))
      .map(s => s.attrs("report") -> s.attrs("partition").toInt).toMap
    val partitions = outcome.result.reports.groupBy(r => partitionOf.getOrElse(r.report_name, -1))
      .filter(_._1 >= 0).map { case (p, rs) =>
        p -> Span(Trace.nextId(), "orchestrator.partition", fanout.id,
          rs.map(r => Main.nanos(r.start_time)).min, rs.map(r => Main.nanos(r.end_time)).max,
          Trace.runId, Map("partition" -> p.toString))
      }
    val reportSpans = outcome.result.reports.map { r =>
      val parent = partitions.get(partitionOf.getOrElse(r.report_name, -1)).map(_.id).getOrElse(fanout.id)
      r.report_name -> Span(Trace.nextId(), "orchestrator.report", parent,
        Main.nanos(r.start_time), Main.nanos(r.end_time), Trace.runId,
        Map("report" -> r.report_name, "status" -> r.status))
    }.toMap
    val reparented = calls.map(c => c.copy(parent = reportSpans(c.attrs("report")).id))
    Trace.clearSpans()
    (spans.filterNot(_.name.startsWith("http.")) ++ partitions.values ++ reportSpans.values ++ reparented)
      .foreach(Trace.add)
  }

  def metrics(stub: StubServer, store: Store, outcome: JobOutcome,
      jobJobs: Map[String, Int], jvm: JvmUse, dash: Dashboards, dashJobs: Map[String, Int],
      unscripted: Int): Map[String, Any] = {
    val spans = Trace.all.filter(_.runId == outcome.startEvent.run_id)
    def named(n: String) = spans.filter(_.name == n)
    def ms(n: String) = named(n).map(_.ms).sum
    val reports = outcome.result.reports
    val fanout = named("orchestrator.fanout").head
    val calls = spans.filter(_.name.startsWith("http."))
    val byReport = calls.groupBy(_.attrs("report"))
    val ok = reports.count(_.status == Status.Success)

    // retry gaps: end of a failed attempt to the start of the next attempt
    val gaps = calls.groupBy(c => (c.attrs("report"), c.attrs("call"))).values.toSeq.flatMap { cs =>
      cs.sortBy(_.attrs("attempt").toInt).sliding(2).collect { case Seq(a, b) =>
        val backoffMs = Retry.backoffDelay(scala.concurrent.duration.DurationInt(1).second, a.attrs("attempt").toInt).toMillis
        (a.attrs("report"), (b.startNs - a.endNs) / 1e6, backoffMs.toDouble)
      }
    }
    val gapByReport = gaps.groupBy(_._1).map { case (r, gs) => r -> gs.map(_._2).sum }
    val reportSpans = named("orchestrator.report")
    val residual = reportSpans.map { s =>
      val r = s.attrs("report")
      s.ms - byReport.getOrElse(r, Nil).map(_.ms).sum - gapByReport.getOrElse(r, 0.0)
    }

    val served = stub.served.toArray(Array.empty[StubServer.Served])
      .map(s => (s.call, s.report, s.attempt) -> (s.endNs - s.startNs) / 1e6).toMap
    val excess = calls.flatMap(c =>
      served.get((c.attrs("call"), c.attrs("report"), c.attrs("attempt").toInt)).map(c.ms - _))

    val partitionMs = named("orchestrator.partition").map(_.ms)
    val startWait = reports.map(r => (Main.nanos(r.start_time) - fanout.startNs) / 1e6)
    val appends = Seq("monitoring.append_running", "monitoring.append_reports", "monitoring.append_terminal")
    val root = named("job").head
    val topLevel = spans.filter(_.parent == root.id)
    val statuses = (500 to 599).map(s => stub.count(s"status.$s")).sum

    def dashMs(n: String) = p50(dash.spans.map(_.filter(_.name == n).map(_.ms).sum))

    Map(
      "config.tasks_ms" -> ms("config.tasks"),
      "config.spark_jobs" -> jobJobs.getOrElse("config.tasks", 0),
      "token.fetches" -> named("token.fetch").size,
      "token.fetch_ms" -> ms("token.fetch"),
      "http.calls" -> calls.size,
      "http.useful_call_ratio" -> 2.0 * ok / math.max(1, calls.size),
      "http.status_5xx" -> statuses,
      "http.status_429" -> stub.count("status.429"),
      "http.bytes_in" -> calls.flatMap(_.attrs.get("bytes")).map(_.toLong).sum,
      "http.bytes_served" -> stub.count("download.bytes"),
      "http.generate_ms_p50" -> p50(named("http.generate").map(_.ms)),
      "http.download_ms_p50" -> p50(named("http.download").map(_.ms)),
      "http.client_excess_ms_p50" -> p50(excess),
      "retry.attempts" -> calls.count(_.attrs("attempt").toInt > 1),
      "retry.gap_ms" -> gaps.map(_._2).sum,
      "retry.gap_excess_ms" -> gaps.map(g => g._2 - g._3).sum,
      "orchestrator.fanout_ms" -> fanout.ms,
      "orchestrator.in_flight_mean" -> calls.map(_.ms).sum / fanout.ms,
      "orchestrator.start_wait_ms_p50" -> p50(startWait),
      "orchestrator.start_wait_ms_p99" -> p99(startWait),
      "orchestrator.threads_peak" -> jvm.threadsPeak,
      "orchestrator.report_residual_ms_p50" -> p50(residual),
      "orchestrator.partition_ms_max" -> (if (partitionMs.isEmpty) 0.0 else partitionMs.max),
      "orchestrator.partition_ms_p50" -> p50(partitionMs),
      "csv.bytes_written" -> Checker.listFiles(Paths.get(store.csvDir)).map(Files.size).sum,
      "monitoring.append_ms" -> appends.map(ms).sum,
      "monitoring.spark_jobs" -> appends.map(jobJobs.getOrElse(_, 0)).sum,
      "monitoring.files" -> Seq(store.jobDir, store.reportDir)
        .flatMap(d => Checker.listFiles(Paths.get(d))).count(_.toString.endsWith(".parquet")),
      "analytics.read_ms" -> dashMs("analytics.read"),
      "analytics.latest_ms" -> dashMs("analytics.latest"),
      "analytics.b1_ms" -> dashMs("analytics.b1"),
      "analytics.b2_ms" -> dashMs("analytics.b2"),
      "analytics.b3_ms" -> dashMs("analytics.b3"),
      "analytics.b4_ms" -> dashMs("analytics.b4"),
      "analytics.spark_jobs" -> dashJobs.values.sum.toDouble / dash.ms.size,
      "analytics.dashboard_ms_p50" -> Stats.median(dash.ms),
      "jvm.gc_ms" -> jvm.gcMs,
      "jvm.heap_peak_mb" -> jvm.heapPeakMb,
      "trace.job_s" -> outcome.jobS,
      "trace.uncovered_ms" -> (root.ms - topLevel.map(_.ms).sum),
      "outcome.error_frac" -> unscripted.toDouble / reports.size)
  }

  /** Per span name: count, total and self time, one formatted line each. */
  def table(): Seq[String] =
    f"${"span"}%-32s ${"count"}%7s ${"total_ms"}%12s ${"self_ms"}%12s" +:
      SpanTree.table(Trace.all).map { case (n, c, total, self) => f"$n%-32s $c%7d $total%12.1f $self%12.1f" }

  def writeSpans(path: Path): Unit = {
    val mapper = new ObjectMapper()
    val lines = Trace.all.sortBy(_.startNs).map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent)
      m.put("start_ns", s.startNs); m.put("end_ns", s.endNs); m.put("run_id", s.runId)
      s.attrs.foreach { case (k, v) => m.put(k, v) }
      mapper.writeValueAsString(m)
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
