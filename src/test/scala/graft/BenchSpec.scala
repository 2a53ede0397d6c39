package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import Bench.{Outcome, PriorSnapshot, QRes}

/** Synthetic bench outcomes for the pure line/file/gate functions. */
object BenchFixture {
  private val strict = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  /** Strict parse: raw control chars or trailing junk throw. */
  def parse(s: String): JsonNode = strict.readTree(s)
  def keys(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq

  def ok(name: String, min: Double, med: Double = -1.0): QRes = {
    val m = if (med < 0) min else med
    QRes(name, min, m, Seq(min, m, m), min * 2, None)
  }
  def failed(name: String, msg: String): QRes =
    QRes(name, -1.0, -1.0, Seq(-1.0), -1.0, Some(msg))

  val probeNames: Seq[String] = (Bench.probeSubset ++ Bench.probeAdditions).distinct
  val prior: PriorSnapshot = PriorSnapshot("local:bench_out_r14_local.json", 7.5,
    probeNames.map(_ -> 0.5).toMap, 1.0)

  def outcome(results: Seq[QRes], recheck: Map[String, QRes] = Map.empty,
      probe: Seq[QRes] = probeNames.map(ok(_, 1.0)),
      calibProbe: (Double, Double) = (1.9, 2.1), prior: PriorSnapshot = prior,
      shed: Seq[(String, String)] = Nil,
      annRecall: Map[String, Double] = Map.empty): Outcome =
    Outcome("testdata/sf0.1", 3, warmup = true, results, recheck, probe,
      Seq(0.11), (1.0, 1.2), calibProbe, 1230.0, 248.0, 1767.0, shed, prior,
      annRecall, Map("bm25" -> 1.0))
}

/** The one stdout line: its fields, its caps, its JSON validity. */
class BenchLineSpec extends AnyFunSuite {
  import BenchFixture._

  test("a clean run's line carries the contract fields, rows and queries_top") {
    val results = (1 to 240).map(i => ok(f"query_number_$i%03d", i / 10.0)) ++
      Seq(ok("anomalous_row", 1.0, 2.0))
    val line = Bench.stdoutLine(outcome(results,
      recheck = Map("anomalous_row" -> ok("anomalous_row", 1.0))))
    assert(line.length <= Bench.lineBudget, line.length)
    info(s"clean line: ${line.length} chars")
    val j = parse(line)
    assert(keys(j) == Seq("metric", "value", "unit", "queries_top", "errors",
      "reps", "warmup", "n_errors", "bench_wall_s", "probe_legacy_total",
      "calib_full", "calib_probe", "drift_spread", "probe_windows",
      "probe_window_used", "probe_normalized", "probe_norm_prior",
      "prior_source", "wall_phases", "budget_s", "shed", "rep_anomalies",
      "anomaly_recheck", "rows_fmt", "rows", "sf"))
    assert(j.get("n_errors").asInt == 0 && j.get("errors").isEmpty)
    assert(keys(j.get("wall_phases")) == Seq("full", "probe"))
    assert(j.get("rows_fmt").asText == "probe,delta")
    assert(j.get("rep_anomalies").get("anomalous_row").asDouble == 2.0)
    assert(j.get("anomaly_recheck").get("_transient").asInt == 1)
    assert(j.get("queries_top").get("_more").asInt == results.size - 5)
    // every probe row: [probe_s, (v/pv)·(prior_calib/calib)] = (1.0/0.5)·(1.0/2.0)
    assert(keys(j.get("rows")) == probeNames)
    probeNames.foreach { n =>
      val r = j.get("rows").get(n)
      assert(r.get(0).asDouble == 1.0 && r.get(1).asDouble == 1.0, n)
    }
    // 15 legacy rows of 1 s over the mean anchor 2.0, level with the prior
    assert(j.get("probe_normalized").asDouble == 7.5)
    assert(j.get("probe_norm_prior").asDouble == 7.5)
  }

  test("worst case: every registered query failing plus 20 anomalies fits the budget") {
    val msg = "IllegalStateException: " + ("x" * 97)
    assert(msg.length == 120)
    val fails = SparkEntry.queries.keys.toSeq.sorted.map(failed(_, msg))
    val anomalous = (1 to 20).map(i => ok(f"anomalous_row_with_a_long_name_$i%03d", 1.0, 3.0))
    val families = Seq("int8_index", "ivf", "ivf_kmeans", "ivfpq", "jl", "lsh",
      "lsh_mp", "matryoshka", "pq")
    val line = Bench.stdoutLine(outcome(fails ++ anomalous,
      recheck = anomalous.map(r => r.name -> r).toMap,
      // 7.5 vs 20.0: -62%, outside the 0.25 + 0.2 drift envelope
      prior = prior.copy(normalized = 20.0, annRecall = families.map(_ -> 0.9).toMap),
      annRecall = families.map(_ -> 0.1).toMap,
      shed = Seq("probe" -> "budget: window unstarted",
        "probe_retry" -> "budget: window unstarted")))
    assert(line.length <= Bench.lineBudget, line.length)
    info(s"worst-case line: ${line.length} chars")
    val j = parse(line)
    assert(j.get("value").isNumber)
    assert(j.get("n_errors").asInt == fails.size)
    val errors = j.get("errors")
    assert(errors.size > 1 && errors.get("_more").asInt == fails.size - errors.size + 1)
    assert(keys(errors).filter(_ != "_more") == fails.map(_.name).take(errors.size - 1))
    assert(j.get("rep_anomalies").size > 1 && j.get("rep_anomalies").has("_more"))
    assert(j.get("anomaly_recheck").has("_more"))
    assert(j.get("ann_recall_drop").has("_more"))
    assert(j.get("probe_regression").asText.endsWith("outside drift envelope: yes"))
    Seq("anomaly_recheck", "probe_normalized", "probe_norm_prior", "prior_source",
      "calib_full", "calib_probe", "drift_spread", "shed", "sf")
      .foreach(k => assert(j.has(k), k))
    // the one fallback form drops only rows and queries_top
    assert(!j.has("rows") && !j.has("queries_top"))
  }

  test("an error message with a tab and a control char gives strictly parsable JSON") {
    val msg = "Analysis: bad\tcolumn \u0001name"
    // a clip never cuts inside an escape: 38 chars + a 6-char \u0001
    val long = ("y" * 38) + "\u0001" + "z"
    val o = outcome(Seq(failed("q1_pricing_summary", msg), failed("q3_top_orders", long)))
    val j = parse(Bench.stdoutLine(o))
    assert(j.get("errors").get("q1_pricing_summary").asText == msg)
    assert(j.get("errors").get("q3_top_orders").asText == "y" * 38)
    val detail = parse(Bench.detailJson(o)).get("errors")
    assert(detail.get("q1_pricing_summary").asText == msg && detail.get("q3_top_orders").asText == long)
  }

  test("Json.quote escapes quotes, backslashes and every control char") {
    assert(Json.quote("a\"b\\c\n\r\t\u0001\u001f") ==
      "\"a\\\"b\\\\c\\n\\r\\t\\u0001\\u001f\"")
    val all = (0 until 0x20).map(_.toChar).mkString + "é\"\\"
    assert(parse(Json.quote(all)).asText == all)
  }

  test("the detail file is strict JSON that parseArtifact reads back as the prior") {
    val probe = probeNames.zipWithIndex.map { case (n, i) => ok(n, 0.1234 + i) }
    val o = outcome(Seq(ok("q1_pricing_summary", 0.4)), probe = probe,
      annRecall = Map("ivf" -> 0.5))
    val f = java.nio.file.Files.createTempFile("bench-out", ".json")
    java.nio.file.Files.write(f, Bench.detailJson(o).getBytes("UTF-8"))
    parse(Bench.detailJson(o))
    val p = Bench.parseArtifact(f, "local").get
    assert(math.abs(p.normalized - o.probeNorm) / o.probeNorm < 0.01)
    assert(math.abs(p.calibProbe - 2.0) < 1e-9)
    assert(p.perQuery == probe.map(r => r.name -> r.min).toMap)
    assert(p.annRecall == Map("ivf" -> 0.5))
  }
}

/** The exit-3 probe regression gate, case by case. */
class BenchGateSpec extends AnyFunSuite {
  test("a move of at most 25% raises no flag") {
    Seq(12.5, 10.0, 7.5, 12.4).foreach { v =>
      val g = Bench.probeGate(v, 10.0, 0.0)
      assert(g.flag.isEmpty && g.rc == 0, v)
    }
  }
  test("a flag inside the drift envelope exits 0") {
    val g = Bench.probeGate(14.0, 10.0, 0.3)
    assert(g.flag == "+40% vs prior; anchor spread 30%; outside drift envelope: no")
    assert(g.rc == 0)
  }
  test("a flag outside the drift envelope exits 3, in either direction") {
    val up = Bench.probeGate(14.0, 10.0, 0.1)
    assert(up.flag == "+40% vs prior; anchor spread 10%; outside drift envelope: yes")
    assert(up.rc == 3)
    val down = Bench.probeGate(6.0, 10.0, 0.1)
    assert(down.flag == "-40% vs prior; anchor spread 10%; outside drift envelope: yes")
    assert(down.rc == 3)
  }
  test("no prior or no probe: no flag") {
    Seq((14.0, 0.0), (14.0, -1.0), (-1.0, 10.0)).foreach { case (v, pv) =>
      val g = Bench.probeGate(v, pv, 0.0)
      assert(g.flag.isEmpty && g.rc == 0 && g.move == 0.0, (v, pv))
    }
  }
  test("the outcome's gate reads the legacy probe over the mean probe anchor") {
    val probe = BenchFixture.probeNames.map(BenchFixture.ok(_, 1.0))
    // 15 legacy rows × 1 s / mean(1.9, 2.1) = 7.5 vs prior 7.5 → no move
    val o = BenchFixture.outcome(Nil, probe = probe)
    assert(math.abs(o.probeNorm - 7.5) < 1e-9 && o.gate.rc == 0 && o.gate.flag.isEmpty)
    val slow = BenchFixture.outcome(Nil, probe = probe.map(_.copy(min = 1.5)))
    assert(slow.gate.rc == 3 && Bench.stdoutLine(slow).contains("\"probe_regression\""))
    assert(!Bench.stdoutLine(o).contains("probe_regression"))
  }
}
