package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfJoin
import graft.plans.AsOfJoinPlans

/** The custom Catalyst as-of operator (logical node → strategy → physical
  * sort-merge exec) must be INDISTINGUISHABLE in results from the composed
  * window formulation — which is itself oracle-pinned against DuckDB's
  * native ASOF JOIN — while planning to the shape that scales: one
  * exchange per side on its own key, pipelined merge, pruned right scan.
  */
class AsOfJoinExecSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-asof-exec")

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def both(left: DataFrame, right: DataFrame, payload: Seq[String],
      tie: String = null): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    val ordCols = left.columns.map(col).toSeq
    val composed = AsOfJoin.asOfJoin(left, right, "k", "t", "rt", payload, tie)
      .orderBy(ordCols: _*).collect().toSeq
    val exec = AsOfJoinPlans.asOfJoinExec(left, right, "k", "t", "rt", payload, tie)
      .orderBy(ordCols: _*).collect().toSeq
    (composed, exec)
  }

  test("events query: custom exec equals the composed (oracle-pinned) formulation") {
    val composed = Queries.asofJoinQuery(spark, sf).collect().toSeq
    val exec = Queries.asofJoinExecQuery(spark, sf).collect().toSeq
    assert(exec.nonEmpty && exec == composed)
  }

  test("edge cases: ties, equal timestamps, missing keys, null payload values") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "l1"),  // before any right row for key 1
      (1L, 20L, "l2"),  // equal timestamp → matches (<=)
      (1L, 35L, "l3"),  // after both right rows → latest wins
      (2L, 50L, "l4"),  // key with no right rows → null payload
      (4L, 5L, "l5"),   // left key BETWEEN right keys (state-reset check)
      (5L, 99L, "l6")   // right rows exist only for keys 3 and 5
    ).toDF("k", "t", "lid")
    val right = Seq(
      (1L, 20L, 1L, Option(1.0)),   // tie on rt=20 …
      (1L, 20L, 2L, Option(2.0)),   // … larger tie wins
      (1L, 30L, 3L, None),          // null payload VALUE must be carried, not backfilled
      (3L, 1L, 4L, Option(9.0)),    // key never asked for by the left side
      (5L, 98L, 5L, Option(7.0))
    ).toDF("k", "rt", "tie", "v")
    val (composed, exec) = both(left, right, Seq("v"), "tie")
    assert(exec == composed, s"exec $exec vs composed $composed")
    // pin the semantics themselves, not just the equivalence
    val byId = exec.map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(byId("l1") == None)            // nothing at or before t=10
    assert(byId("l2") == Some(2.0))       // rt=20 matches t=20; tie 2 beats 1
    assert(byId("l3") == None)            // rt=30 row matched, its null payload carried
    assert(byId("l4") == None)            // no right rows for key 2
    assert(byId("l5") == None)            // key 3's rows must not leak to key 4
    assert(byId("l6") == Some(7.0))
  }

  test("null keys and null right times follow the window-formulation semantics") {
    import spark.implicits._
    val left = Seq(
      (Option(1L), 10L, "a"),
      (None: Option[Long], 10L, "b")   // null key groups with null key
    ).toDF("k", "t", "lid")
    val right = Seq(
      (Option(1L), Option(99L), 1.0),  // after the left row → no match
      (Option(1L), None: Option[Long], 2.0), // null rt sorts first → matches
      (None: Option[Long], Option(5L), 3.0)  // null key matches null-key left
    ).toDF("k", "rt", "v")
    val (composed, exec) = both(left, right, Seq("v"))
    assert(exec == composed, s"exec $exec vs composed $composed")
    val byId = exec.map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(byId("a") == Some(2.0) && byId("b") == Some(3.0))
  }

  test("randomized instances: exec equals the composed formulation on 10 seeded graphs") {
    import spark.implicits._
    // dense key/time collisions (8 keys × 40 ticks) force every edge at
    // once: equal timestamps, ties, keys missing from either side, null
    // payload values, and (when the right side draws size 0) empty
    // partitions — the composed formulation is the oracle-pinned model
    val rnd = new scala.util.Random(42)
    (1 to 10).foreach { trial =>
      val left = Seq.fill(rnd.nextInt(60) + 1)(
        (rnd.nextInt(8).toLong, rnd.nextInt(40).toLong)).zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "t", "lid")
      val right = Seq.fill(rnd.nextInt(60))(
        (rnd.nextInt(8).toLong, rnd.nextInt(40).toLong,
          if (rnd.nextBoolean()) Some(rnd.nextDouble()) else (None: Option[Double])))
        .zipWithIndex
        .map { case ((k, t, v), i) => (k, t, i.toLong, v) }
        .toDF("k", "rt", "tie", "v")
      val (composed, exec) = both(left, right, Seq("v"), "tie")
      assert(exec == composed, s"trial $trial diverged")
    }
  }

  test("tolerance: boundary inclusive, stale match dropped, null times excluded, zero means exact") {
    import spark.implicits._
    val left = Seq(
      (1L, 100L, "exact"),  // 100-90 = 10 <= 10 → boundary tie matches
      (1L, 101L, "stale"),  // 101-90 = 11 > 10 → the ONLY candidate is too stale
      (1L, 90L, "attime"),  // 90-90 = 0 → matches even at tolerance 0
      (2L, 50L, "nullrt")   // right row has null time → excluded under tolerance
    ).toDF("k", "t", "lid")
    val right = Seq(
      (1L, Option(90L), 1L, 5.0),
      (2L, None: Option[Long], 2L, 9.0)
    ).toDF("k", "rt", "tie", "v")
    def run(tol: Option[Long]): Map[String, Option[Any]] =
      AsOfJoinPlans.asOfJoinExecKeys(left, right, Seq("k"), "t", "rt",
          Seq("v"), Some("tie"), tol)
        .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    val t10 = run(Some(10L))
    assert(t10("exact") == Some(5.0), "staleness == tolerance must match (inclusive)")
    assert(t10("stale") == None, "older-but-only candidate past the bound drops to null")
    assert(t10("attime") == Some(5.0))
    assert(t10("nullrt") == None, "null right time has no defined staleness")
    val t0 = run(Some(0L))
    assert(t0("attime") == Some(5.0) && t0("exact") == None)
    // unbounded keeps the classic semantics: null rt matches anything
    val un = run(None)
    assert(un("exact") == Some(5.0) && un("stale") == Some(5.0) && un("nullrt") == Some(9.0))
  }

  test("randomized composite keys + tolerance: exec equals a brute-force replay on 12 seeds") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    (1 to 12).foreach { trial =>
      val left = Seq.fill(rnd.nextInt(50) + 1)(
        (rnd.nextInt(4).toLong, rnd.nextInt(3).toLong, rnd.nextInt(30).toLong))
        .zipWithIndex.map { case ((k1, k2, t), i) => (k1, k2, t, i.toLong) }
        .toDF("k1", "k2", "t", "lid")
      val rightRows = Seq.fill(rnd.nextInt(50))(
        (rnd.nextInt(4).toLong, rnd.nextInt(3).toLong,
          if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(30).toLong),
          rnd.nextDouble()))
        .zipWithIndex.map { case ((k1, k2, rt, v), i) => (k1, k2, rt, i.toLong, v) }
      val right = rightRows.toDF("k1", "k2", "rt", "tie", "v")
      val tol = if (rnd.nextBoolean()) Some(rnd.nextInt(12).toLong) else None
      val got = AsOfJoinPlans.asOfJoinExecKeys(left, right, Seq("k1", "k2"),
          "t", "rt", Seq("v"), Some("tie"), tol)
        .collect().map(r => r.getLong(3) -> Option(r.get(4))).toMap
      // model: winner = max by (rt nulls-first, tie) among at-or-before
      // rows of the same composite key; tolerance then disqualifies a
      // null-time or too-stale winner (older rows are staler — the
      // winner is the only candidate)
      val expected = left.collect().map { lr =>
        val (k1, k2, t, lid) = (lr.getLong(0), lr.getLong(1), lr.getLong(2), lr.getLong(3))
        val cands = rightRows.filter(r => r._1 == k1 && r._2 == k2 && r._3.forall(_ <= t))
        val winner = cands.sortBy(r => (r._3.isDefined, r._3.getOrElse(0L), r._4)).lastOption
        lid -> winner.filter(w => tol.forall(tl => w._3.exists(rt => t - rt <= tl))).map(_._5)
      }.toMap
      assert(got == expected, s"trial $trial (tol=$tol) diverged")
    }
  }

  test("forward direction: earliest at-or-after, smallest tie, tolerance bounds lookahead") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "before"),  // before both right rows → earliest (rt=20) wins
      (1L, 20L, "attime"),  // equal timestamp matches (>=)
      (1L, 35L, "after"),   // past every right row → null payload
      (2L, 50L, "nokey")    // key with no right rows → null payload
    ).toDF("k", "t", "lid")
    val right = Seq(
      (1L, 20L, 1L, Option(1.0)),  // tie on rt=20 …
      (1L, 20L, 2L, Option(2.0)),  // … SMALLEST tie wins forward
      (1L, 30L, 3L, Option(3.0))
    ).toDF("k", "rt", "tie", "v")
    def run(tol: Option[Long]): Map[String, Option[Any]] =
      AsOfJoinPlans.asOfJoinExecKeys(left, right, Seq("k"), "t", "rt",
          Seq("v"), Some("tie"), tol, direction = "forward")
        .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    val un = run(None)
    assert(un == Map("before" -> Some(1.0), "attime" -> Some(1.0),
      "after" -> None, "nokey" -> None))
    // tolerance measures FORWARD staleness (rt - t): 20-10=10 > 5 drops,
    // 20-20=0 keeps
    val t5 = run(Some(5L))
    assert(t5("before") == None && t5("attime") == Some(1.0))
  }

  test("forward null-time semantics: null right times never match, null left times match nothing") {
    import spark.implicits._
    // pinned semantics (AsOfJoinPlan forward advance): a null RIGHT time
    // has no defined "at-or-after" position → discarded, never a forward
    // match; a null LEFT time is an unknown anchor → null payload. Both
    // agree with what a tolerance forces (non-null on both sides).
    val left = Seq(
      (Option(1L), Option(10L), "anchored"),   // normal: earliest at-or-after
      (Option(1L), None: Option[Long], "lnull"), // null left time → no match
      (Option(2L), Option(5L), "onlynullrt")   // key 2's only right row has null rt
    ).toDF("k", "t", "lid")
    val right = Seq(
      (Option(1L), None: Option[Long], 0L, 9.0), // null rt: must NOT match "anchored"
      (Option(1L), Option(20L), 1L, 1.0),
      (Option(2L), None: Option[Long], 2L, 7.0)
    ).toDF("k", "rt", "tie", "v")
    def run(tol: Option[Long]): Map[String, Option[Any]] =
      AsOfJoinPlans.asOfJoinExecKeys(left, right, Seq("k"), "t", "rt",
          Seq("v"), Some("tie"), tol, direction = "forward")
        .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    val expected = Map[String, Option[Any]](
      "anchored" -> Some(1.0), "lnull" -> None, "onlynullrt" -> None)
    assert(run(None) == expected)
    assert(run(Some(100L)) == expected, "tol/no-tol must agree on null handling")
  }

  test("randomized forward instances: exec equals a brute-force replay on 10 seeds") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    (1 to 10).foreach { trial =>
      val left = Seq.fill(rnd.nextInt(50) + 1)(
        (rnd.nextInt(6).toLong, rnd.nextInt(30).toLong))
        .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid")
      val rightRows = Seq.fill(rnd.nextInt(50))(
        (rnd.nextInt(6).toLong, rnd.nextInt(30).toLong, rnd.nextDouble()))
        .zipWithIndex.map { case ((k, rt, v), i) => (k, rt, i.toLong, v) }
      val right = rightRows.toDF("k", "rt", "tie", "v")
      val tol = if (rnd.nextBoolean()) Some(rnd.nextInt(12).toLong) else None
      val got = AsOfJoinPlans.asOfJoinExecKeys(left, right, Seq("k"),
          "t", "rt", Seq("v"), Some("tie"), tol, direction = "forward")
        .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
      // model: winner = min by (rt, tie) among at-or-after rows of the
      // same key; tolerance disqualifies a winner too far in the future
      // (later rows are farther — the winner is the only candidate)
      val expected = left.collect().map { lr =>
        val (k, t, lid) = (lr.getLong(0), lr.getLong(1), lr.getLong(2))
        val cands = rightRows.filter(r => r._1 == k && r._2 >= t)
        val winner = cands.sortBy(r => (r._2, r._3)).headOption
        lid -> winner.filter(w => tol.forall(tl => w._2 - t <= tl)).map(_._4)
      }.toMap
      assert(got == expected, s"trial $trial (tol=$tol) diverged")
    }
  }

  test("nearest direction: closest side wins, ties go backward, nulls never match") {
    import spark.implicits._
    val left = Seq[(Option[Long], Option[Long], String)](
      (Some(1L), Some(10L), "closerBack"), // back at 8 (d=2) vs fwd at 15 (d=5) → back
      (Some(1L), Some(14L), "closerFwd"),  // back at 8 (d=6) vs fwd at 15 (d=1) → fwd
      (Some(1L), Some(20L), "tie"),        // back at 15 (d=5) vs fwd at 25 (d=5) → BACKWARD
      (Some(2L), Some(50L), "onlyBack"),   // no forward rows for key 2
      (Some(3L), Some(5L), "onlyFwd"),     // no backward rows for key 3
      (Some(4L), Some(7L), "nokey"),
      (Some(5L), None, "lnull")            // null left time → no match
    ).toDF("k", "t", "lid")
    val right = Seq(
      (Option(1L), Option(8L), 1L, 1.0),
      (Option(1L), Option(15L), 2L, 2.0),
      (Option(1L), Option(25L), 3L, 3.0),
      (Option(2L), Option(40L), 4L, 4.0),
      (Option(3L), Option(9L), 5L, 5.0),
      (Option(5L), None: Option[Long], 6L, 6.0) // null right time: never a candidate
    ).toDF("k", "rt", "tie", "v")
    def run(tol: Option[Long]): Map[String, Option[Any]] =
      AsOfJoinPlans.asOfJoinExecKeys(left, right, Seq("k"), "t", "rt",
          Seq("v"), Some("tie"), tol, direction = "nearest")
        .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    val un = run(None)
    assert(un == Map("closerBack" -> Some(1.0), "closerFwd" -> Some(2.0),
      "tie" -> Some(2.0), "onlyBack" -> Some(4.0), "onlyFwd" -> Some(5.0),
      "nokey" -> None, "lnull" -> None), s"got $un")
    // tolerance bounds the CHOSEN side's distance: d=5 drops at tol=4,
    // and the other side does NOT substitute when it is even farther
    val t4 = run(Some(4L))
    assert(t4("tie") == None && t4("closerBack") == Some(1.0) && t4("closerFwd") == Some(2.0))
  }

  test("randomized nearest instances: exec equals a brute-force replay on 10 seeds") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    (1 to 10).foreach { trial =>
      val left = Seq.fill(rnd.nextInt(50) + 1)(
        (rnd.nextInt(6).toLong, rnd.nextInt(30).toLong))
        .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid")
      val rightRows = Seq.fill(rnd.nextInt(50))(
        (rnd.nextInt(6).toLong, rnd.nextInt(30).toLong, rnd.nextDouble()))
        .zipWithIndex.map { case ((k, rt, v), i) => (k, rt, i.toLong, v) }
      val right = rightRows.toDF("k", "rt", "tie", "v")
      val tol = if (rnd.nextBoolean()) Some(rnd.nextInt(12).toLong) else None
      val got = AsOfJoinPlans.asOfJoinExecKeys(left, right, Seq("k"),
          "t", "rt", Seq("v"), Some("tie"), tol, direction = "nearest")
        .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
      // model: backward candidate = max (rt, tie) among at-or-before;
      // forward = min (rt, tie) among strictly-after; choose smaller
      // distance (ties backward), bound the chosen side by tol
      val expected = left.collect().map { lr =>
        val (k, t, lid) = (lr.getLong(0), lr.getLong(1), lr.getLong(2))
        val back = rightRows.filter(r => r._1 == k && r._2 <= t)
          .sortBy(r => (r._2, r._3)).lastOption
        val fwd = rightRows.filter(r => r._1 == k && r._2 > t)
          .sortBy(r => (r._2, r._3)).headOption
        val bOk = back.exists(b => tol.forall(tl => t - b._2 <= tl))
        val fOk = fwd.exists(f => tol.forall(tl => f._2 - t <= tl))
        val chosen =
          if (bOk && (!fOk || (t - back.get._2) <= (fwd.get._2 - t))) back
          else if (fOk) fwd
          else None
        lid -> chosen.map(_._4)
      }.toMap
      assert(got == expected, s"trial $trial (tol=$tol) diverged")
    }
  }

  test("strict mode (allow_exact_matches=false): equal times never match, any direction") {
    import spark.implicits._
    // right rows at 8, 10, 10, 15 for key 1 — the 10s exist PRECISELY to
    // sit equal to a left time; the duplicated 10 also pins the eq-slot
    // "latest of the group wins" promotion in nearest mode
    val left = Seq(
      (1L, 10L, "atEq"),   // back: 8 (equal 10s excluded); fwd: 15
      (1L, 12L, "afterEq") // back: the LATER 10 (tie 3); fwd: 15
    ).toDF("k", "t", "lid")
    val right = Seq(
      (1L, 8L, 1L, 1.0),
      (1L, 10L, 2L, 2.0),
      (1L, 10L, 3L, 3.0),
      (1L, 15L, 4L, 4.0)
    ).toDF("k", "rt", "tie", "v")
    def run(dir: String): Map[String, Option[Any]] =
      AsOfJoinPlans.asOfJoinExecKeys(left, right, Seq("k"), "t", "rt",
          Seq("v"), Some("tie"), None, direction = dir,
          allowExactMatches = false)
        .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(run("backward") == Map("atEq" -> Some(1.0), "afterEq" -> Some(3.0)))
    assert(run("forward") == Map("atEq" -> Some(4.0), "afterEq" -> Some(4.0)))
    // nearest at t=10: back 8 (d=2) vs fwd 15 (d=5) → 8; the equal-time
    // rows are no candidate but must not hide the forward row. At t=12:
    // back 10 (d=2, later tie wins) vs fwd 15 (d=3) → 10
    assert(run("nearest") == Map("atEq" -> Some(1.0), "afterEq" -> Some(3.0)))
  }

  test("randomized strict instances: exec equals a brute-force replay on all directions") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    (1 to 10).foreach { trial =>
      // narrow time range → frequent equal-time collisions, the case
      // strict mode exists for
      val left = Seq.fill(rnd.nextInt(40) + 1)(
        (rnd.nextInt(4).toLong, rnd.nextInt(12).toLong))
        .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid")
      val rightRows = Seq.fill(rnd.nextInt(40))(
        (rnd.nextInt(4).toLong, rnd.nextInt(12).toLong, rnd.nextDouble()))
        .zipWithIndex.map { case ((k, rt, v), i) => (k, rt, i.toLong, v) }
      val right = rightRows.toDF("k", "rt", "tie", "v")
      val tol = if (rnd.nextBoolean()) Some(rnd.nextInt(6).toLong) else None
      Seq("backward", "forward", "nearest").foreach { dir =>
        val got = AsOfJoinPlans.asOfJoinExecKeys(left, right, Seq("k"),
            "t", "rt", Seq("v"), Some("tie"), tol, direction = dir,
            allowExactMatches = false)
          .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
        val expected = left.collect().map { lr =>
          val (k, t, lid) = (lr.getLong(0), lr.getLong(1), lr.getLong(2))
          val back = rightRows.filter(r => r._1 == k && r._2 < t)
            .sortBy(r => (r._2, r._3)).lastOption
          val fwd = rightRows.filter(r => r._1 == k && r._2 > t)
            .sortBy(r => (r._2, r._3)).headOption
          val chosen = dir match {
            case "backward" => back.filter(b => tol.forall(tl => t - b._2 <= tl))
            case "forward" => fwd.filter(f => tol.forall(tl => f._2 - t <= tl))
            case "nearest" =>
              val bOk = back.exists(b => tol.forall(tl => t - b._2 <= tl))
              val fOk = fwd.exists(f => tol.forall(tl => f._2 - t <= tl))
              if (bOk && (!fOk || (t - back.get._2) <= (fwd.get._2 - t))) back
              else if (fOk) fwd
              else None
          }
          lid -> chosen.map(_._4)
        }.toMap
        assert(got == expected, s"trial $trial dir=$dir (tol=$tol) diverged: " +
          s"${got.toSeq.diff(expected.toSeq).take(3)} vs ${expected.toSeq.diff(got.toSeq).take(3)}")
      }
    }
  }

  test("composite-key plan shape: per-side exchanges, no union shuffle") {
    val df = Queries.asofJoinTolQuery(spark, sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("AsOfJoin"), plan.take(1500))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length == 2, plan.take(2500))
  }

  test("non-nullable payload columns go null for unmatched left rows") {
    import spark.implicits._
    // plain Double/Long payload → non-nullable input attributes; the exec
    // must still emit genuine nulls (not 0 garbage) where nothing matched
    val left = Seq((1L, 10L, "m"), (2L, 10L, "u")).toDF("k", "t", "lid")
    val right = Seq((1L, 5L, 7.5, 42L)).toDF("k", "rt", "v", "w")
    val (composed, exec) = both(left, right, Seq("v", "w"))
    assert(exec == composed)
    val byId = exec.map(r => r.getString(2) -> ((Option(r.get(3)), Option(r.get(4))))).toMap
    assert(byId("m") == ((Some(7.5), Some(42L))))
    assert(byId("u") == ((None, None)), s"unmatched row must be null, got ${byId("u")}")
  }

  test("plan shape: custom exec node, per-side exchanges, pruned right scan") {
    val df = Queries.asofJoinExecQuery(spark, sf)
    df.collect()
    // AQE's toString repeats the initial plan below the final one — assert
    // on the final section only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("AsOfJoin"), plan.take(1500))
    // each side shuffles ON ITS OWN KEY — never a unioned shuffle
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length == 2, plan.take(2500))
    // the right (signups) scan must not read props — pruning reached it
    val signupScan = plan.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("value")).get
    assert(!signupScan.contains("props"), signupScan)
  }
}
