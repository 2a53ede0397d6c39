package etlbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{EtlMain, Graft}
import graft.model.ReportRun
import graft.run.{Monitoring, Secrets}

/** JVM entry points of the benchmark; `run.py` launches each in a fresh JVM
  * and reads the JSON object it writes to `out`.
  *
  * {{{
  * setup    <workload> <seed> <out>                  time Graft.session
  * seed     <workload> <dir> <out>                   write the 7 prior daily jobs
  * job      <workload> <seed> <dir> <trace> <seconds> <first> <out>
  * }}}
  *
  * A traced job then times dashboards for `<seconds>`. The first job of a
  * run (`<first>` = 1) also runs the stub's self-test and, on `envelope`,
  * the `EtlMain.run` parity check, both after the timed job.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val result = args.toList match {
      case "setup" :: w :: seed :: _ :: Nil =>
        withSession((_, setupS) => Map("setup_s" -> setupS))
      case "seed" :: w :: dir :: _ :: Nil => seedStore(Workload.byName(w), Store(dir))
      case "job" :: w :: seed :: dir :: trace :: seconds :: first :: _ :: Nil =>
        job(Workload.byName(w), seed.toLong, Store(dir), trace == "1", seconds.toDouble, first == "1")
      case _ =>
        System.err.println("usage: setup <workload> <seed> <out> | seed <workload> <dir> <out> | " +
          "job <workload> <seed> <dir> <trace 0|1> <seconds> <first 0|1> <out>")
        sys.exit(2)
    }
    Files.write(Paths.get(args.last), new ObjectMapper().writeValueAsBytes(toJava(result)))
  }

  private def withSession[T](body: (SparkSession, Double) => T): T = {
    val t0 = System.nanoTime()
    val spark = Graft.session(appName = "etlbench")
    val setupS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    try body(spark, setupS) finally spark.stop()
  }

  /** The workload's monitoring history, in a JVM of its own so that the
    * timed job stays the first job in its JVM.
    */
  private def seedStore(w: Workload, store: Store): Map[String, Any] =
    withSession { (spark, setupS) =>
      EtlJob.writeHistory(spark, new Script(w, Script.HistorySeed), store)
      Map("setup_s" -> setupS)
    }

  private def job(w: Workload, seed: Long, store: Store, traced: Boolean, seconds: Double,
      first: Boolean): Map[String, Any] =
    withSession { (spark, setupS) =>
      val script = new Script(w, seed)
      val stub = new StubServer(script).preload()
      try {
        val counter = if (traced) Some(new JobCounter) else None
        counter.foreach(spark.sparkContext.addSparkListener)
        try {
          val jvm = JvmProbe.start()
          val etl = new EtlJob(spark, script, stub, store, counter)
          val outcome = etl.run()
          val jvmUse = jvm.stop()
          val jobJobs = etl.sparkJobs
          val checked = Checker.check(spark, script, stub, store, outcome)
          if (traced) Layers.buildTree(outcome)

          etl.resetJobCounts()
          val dashboards = if (traced) Some(Dashboards.time(etl, seconds)) else None
          val once =
            if (!first) Nil
            else StubSelfTest.run(w, seed) ++ (if (w.seededConfig) Parity.check(spark, script, outcome, store) else Nil)

          val land = outcome.result.reports.map(r => (nanos(r.end_time) - outcome.startWallNs) / 1e6)
          val attempted = outcome.result.reports.size
          val e2e = Map(
            "setup_s" -> setupS,
            "job_s" -> outcome.jobS,
            "reports_per_s" -> attempted / outcome.jobS,
            "report_land_ms_p50" -> Stats.median(land),
            "report_land_ms_p99" -> Stats.percentile(land, 0.99))
          val layers = dashboards.map(d => Layers.metrics(stub, store, outcome, jobJobs, jvmUse, d,
            etl.sparkJobs, checked.unscripted.size)).getOrElse(Map.empty)
          if (traced) Layers.writeSpans(Paths.get(store.root).resolveSibling("spans.jsonl"))
          Map(
            "metrics" -> (e2e ++ layers),
            "attempted" -> attempted,
            "failed" -> checked.unscripted.size,
            "unscripted" -> checked.unscripted.take(5).map(r => s"${r.report_name}: ${r.error_message.getOrElse("")}"),
            "failures" -> (checked.failures ++ once),
            "table" -> (if (traced) Layers.table() else Nil))
        } finally counter.foreach(spark.sparkContext.removeSparkListener)
      } finally stub.close()
    }

  def nanos(t: java.sql.Timestamp): Long = t.getTime / 1000 * 1000000000L + t.getNanos

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
}

/** GC time and heap peak over one interval. */
final case class JvmUse(gcMs: Double, heapPeakMb: Double, threadsPeak: Int)

final class JvmProbe private (gc0: Long) {
  def stop(): JvmUse = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    JvmUse((JvmProbe.gcMs() - gc0).toDouble, heapPeak / 1048576.0, ManagementFactory.getThreadMXBean.getPeakThreadCount)
  }
}

object JvmProbe {
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def start(): JvmProbe = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    ManagementFactory.getThreadMXBean.resetPeakThreadCount()
    new JvmProbe(gcMs())
  }
}

/** Warm dashboard refreshes over the store the job just wrote. */
final case class Dashboards(ms: Seq[Double], spans: Seq[Seq[Trace.Span]])

object Dashboards {
  /** Refresh times still fall by a third over the first ten refreshes as
    * the JIT warms up; two untimed refreshes skip the steepest part.
    */
  val Warmup = 2

  def time(etl: EtlJob, seconds: Double): Dashboards = {
    (1 to Warmup).foreach(_ => etl.dashboard(-1L))
    etl.resetJobCounts()
    val ms = Seq.newBuilder[Double]
    val spans = Seq.newBuilder[Seq[Trace.Span]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      val root = Trace.nextId()
      val t0 = System.nanoTime()
      Trace.span("dashboard", -1L, root)(etl.dashboard(root))
      ms += (System.nanoTime() - t0) / 1e6
      spans += Trace.all.filter(_.parent == root)
    } while (System.nanoTime() < deadline)
    Dashboards(ms.result(), spans.result())
  }
}

/** Product-path parity: `EtlMain.run` with `--source http` against a fresh
  * stub of the same seed must land the same outcomes, row counts and CSV
  * files as the composed job driver.
  */
object Parity {
  def check(spark: SparkSession, script: Script, outcome: JobOutcome, store: Store): Seq[String] = {
    import spark.implicits._
    val parityStore = Store(s"${store.root}-parity")
    val stub = new StubServer(script).preload()
    try {
      val secrets = Secrets.RequiredKeys.map(_ -> "unused").toMap ++ Map(
        "client_id" -> Script.ClientId, "client_secret" -> Script.ClientSecret,
        Secrets.TokenUrlKey -> stub.tokenUrl)
      val args = EtlMain.Args(Script.FromDate, Script.ToDate, Script.Env, parityStore.root,
        "driver", "http", Some(stub.baseUrl))
      val code = EtlMain.run(spark, args, () => secrets)
      def outcomes(rs: Seq[ReportRun]) = rs.map(r => (r.report_name, r.status, r.rows_written)).sorted
      val product = Monitoring.reportMonitoring(spark, parityStore.reportDir).as[ReportRun].collect().toSeq
      val files = (s: Store) => Checker.listFiles(Paths.get(s.csvDir))
        .map(p => Paths.get(s.csvDir).relativize(p).toString -> Files.readAllBytes(p).toSeq).sortBy(_._1)
      Seq(
        if (code == 0) None else Some(s"EtlMain.run exited $code"),
        if (outcomes(product) == outcomes(outcome.result.reports)) None
        else Some("EtlMain.run report outcomes differ from the job driver's"),
        if (files(parityStore) == files(store)) None
        else Some("EtlMain.run CSV files differ from the job driver's")).flatten
    } finally stub.close()
  }
}
