package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ScaleOps

class ScaleOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-scaleops")

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("salted join returns exactly the rows of the plain join") {
    val events = Queries.events(spark, sf)
    val dim = events.select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id"), lit(3)))
    val plain = events.join(dim, Seq("user_id"))
      .select(col("event_id"), col("segment")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val salted = ScaleOps.saltedJoin(events, dim, "user_id", 8, "event_id")
      .select(col("event_id"), col("segment")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(salted.length == plain.length)
    assert(salted.toSeq == plain.toSeq)
  }

  test("salted fact spreads a hot key over saltFactor partitions' worth of salts") {
    val events = Queries.events(spark, sf)
    val salts = events.filter(col("user_id") === 1)
      .withColumn("_salt", pmod(xxhash64(col("event_id")), lit(8L)).cast("int"))
      .select("_salt").distinct().count()
    assert(salts > 1, "hot key must not collapse to a single salt")
  }

  test("GraftExtensions injects native functions at session build (no manual register)") {
    val old = spark // materialize the suite session first
    // getOrCreate() reuses the active session and would skip extensions:
    // clear session (not context) so a genuinely new SparkSession is built
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions (not the spark.sql.extensions static conf, which is
      // ignored when the SparkContext is reused, as here)
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate() // shares old's SparkContext; fresh session state
      Queries.table(s2, sf, "embeddings").createOrReplaceTempView("emb2")
      val r = s2.sql(
        """SELECT round(cosine_sim(a.embedding, a.embedding), 6) AS self_cos,
          |  round(vec_dot(a.embedding, a.embedding), 4) AS self_dot
          |FROM emb2 a WHERE a.vec_id = 0""".stripMargin).collect().head
      assert(r.getDouble(0) == 1.0)
      assert(r.getDouble(1) > 0.0)
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("date-partitioned write prunes directories on partition filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    ScaleOps.writePartitionedByDate(Queries.events(spark, sf), dir, "ts")
    val days = new java.io.File(dir).listFiles().count(_.getName.startsWith("p_date="))
    assert(days >= 28, s"expected ~30 day dirs, got $days")
    val one = spark.read.parquet(dir).filter(col("p_date") === "2024-01-05")
    one.collect()
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_date"), plan.take(1200))
    // pruned scan touches exactly one partition directory
    val scanLine = plan.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(one.count() == spark.read.parquet(dir)
      .filter(col("p_date") === "2024-01-05").count())
  }

  test("compaction collapses append-accumulated small files, content intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    // 10 tiny appends = at least 10 small files (4 partitions each)
    (1 to 10).foreach { i =>
      Seq((i.toLong, s"row-$i")).toDF("id", "v").write.mode("append").parquet(dir)
    }
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = parquetFiles
    assert(before >= 10, s"expected many small files, got $before")
    val beforeRows = spark.read.parquet(dir).collect().map(_.toSeq).sortBy(_.toString)
    ScaleOps.compact(spark, dir) // tiny table → 1 target file
    assert(parquetFiles == 1, s"expected 1 compacted file, got $parquetFiles")
    val afterRows = spark.read.parquet(dir).collect().map(_.toSeq).sortBy(_.toString)
    assert(afterRows.toSeq == beforeRows.toSeq)
  }

  test("as-of join matches the naive quadratic formulation (incl. no-match nulls)") {
    import org.apache.spark.sql.functions._
    val ev = Queries.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("value").as("signup_value"), col("event_id").as("sig_id"))
    // naive reference: left join all earlier signups, keep the latest
    val naive = purchases
      .join(signups, col("user_id") === col("s_user") && col("s_ts") <= col("ts"), "left")
      .groupBy(col("event_id"))
      .agg(max(struct(col("s_ts"), col("sig_id"), col("signup_value"))).as("best"))
      .select(col("event_id"), col("best.signup_value").as("signup_value"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val fast = graft.operators.AsOfJoin.asOfJoin(
        purchases, signups.withColumnRenamed("s_user", "user_id").withColumnRenamed("s_ts", "ts"),
        "user_id", "ts", "ts", Seq("signup_value"), "sig_id")
      .collect().map(r => r.getAs[Long]("event_id") -> Option(r.get(r.fieldIndex("signup_value")))).toMap
    assert(fast.size == naive.size)
    assert(fast == naive)
    assert(fast.values.exists(_.isEmpty), "expect some purchases with no prior signup")
  }

  test("as-of join carries the matched right row atomically (null payload values stay null)") {
    import spark.implicits._
    // right row at t=20 has a NULL v: it must WIN (latest <= leftTime) and
    // deliver null — not be skipped in favor of t=10's non-null v. And both
    // payload columns must come from the same right row, never stitched.
    val left = Seq((1L, 30L), (2L, 5L)).toDF("id", "t")
    val right = Seq(
      (1L, 10L, Option(100L), Option("old")),
      (1L, 20L, Option.empty[Long], Option("new"))
    ).toDF("id", "t", "v", "tag")
    val out = graft.operators.AsOfJoin.asOfJoin(
        left, right.withColumnRenamed("t", "rt"), "id", "t", "rt", Seq("v", "tag"), null)
      .collect().map(r => r.getLong(0) -> ((Option(r.get(2)), Option(r.get(3))))).toMap
    assert(out(1L) == (None, Some("new")), s"latest right row must win as a unit: ${out(1L)}")
    assert(out(2L) == (None, None), "no prior right row: whole payload null")
  }

  test("bucketed join on the bucket key plans without an Exchange") {
    val li = Queries.table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val o = Queries.table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    ScaleOps.writeBucketed(li, "li_b", "l_orderkey", 8)
    ScaleOps.writeBucketed(o, "o_b", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = ScaleOps.bucketedJoin(spark, "li_b", "o_b", "l_orderkey", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle\n${plan.take(1500)}")
      assert(joined.count() == 6000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("zValue interleaves bits exactly (reference implementation)") {
    import spark.implicits._
    def zRef(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)) }
    val pairs = for (x <- 0L to 40L; y <- 0L to 40L) yield (x, y)
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"), ScaleOps.zValue(col("x"), col("y"), 8).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (x, y) =>
      assert(got((x, y)) == zRef(x, y, 8), s"z($x,$y)")
    }
    // locality: the unit square's quadrants occupy disjoint z ranges
    assert(zRef(3, 3, 8) < zRef(4, 0, 8) && zRef(3, 3, 8) < zRef(0, 4, 8))
  }

  test("zorderRepartition clusters each partition into a tight (x,y) rectangle") {
    import spark.implicits._
    val n = 64
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val parts = ScaleOps.zorderRepartition(grid, "x", "y", bits = 6, numPartitions = 16)
      .mapPartitions { it =>
        val rows = it.map(r => (r.getLong(0), r.getLong(1))).toSeq
        if (rows.isEmpty) Iterator.empty
        else Iterator((rows.size,
          rows.map(_._1).max - rows.map(_._1).min,
          rows.map(_._2).max - rows.map(_._2).min))
      }.collect()
    assert(parts.map(_._1).sum == n * n)
    // a z-clustered partition of ~256 cells must span far less than the
    // full 64-wide domain in BOTH dimensions (a single-column sort would
    // span the whole domain in the other dimension)
    parts.foreach { case (size, xSpan, ySpan) =>
      assert(xSpan <= 31 && ySpan <= 31,
        s"partition of $size rows spans x=$xSpan y=$ySpan — not clustered")
    }
  }

  private lazy val manifestStore: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-mstore").toString + "/ev"
    ScaleOps.writeDateStoreWithManifest(Queries.events(spark, sf), dir)
    dir
  }

  test("manifest: one file per day, stats agree with a direct aggregate") {
    val ev = Queries.events(spark, sf)
    val got = ScaleOps.manifestSummary(spark, manifestStore).collect()
    assert(got.forall(_.getAs[Long]("n_files") == 1L),
      "layout invariant: exactly one file per day partition")
    val want = ev.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("p_date"))
      .agg(count(lit(1)).as("n_rows"),
        min("event_id").as("min_event_id"), max("event_id").as("max_event_id"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.length == want.size)
    got.foreach { r =>
      val (n, lo, hi) = want(r.getAs[String]("p_date"))
      assert(r.getAs[Long]("n_rows") == n &&
        r.getAs[Long]("min_event_id") == lo && r.getAs[Long]("max_event_id") == hi)
    }
  }

  test("manifest store: plain read ignores _manifest (underscore convention)") {
    assert(spark.read.parquet(manifestStore).count() ==
      Queries.events(spark, sf).count())
  }

  test("pruned read equals the full filter AND opens only matching files") {
    val ev = Queries.events(spark, sf)
    val pruned = ScaleOps.manifestPrunedRead(spark, manifestStore, "event_id", 100L, 299L)
    val got = pruned.select("event_id").collect().map(_.getLong(0)).sorted
    val want = ev.filter(col("event_id").between(100, 299))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq)
    // the skip is real: files actually opened < the ~30 day files, and
    // exactly the days whose manifest envelope intersects [100, 299]
    val opened = pruned.select(col("_metadata.file_path")).distinct().count()
    val surviving = spark.read.parquet(s"$manifestStore/_manifest")
      .filter(col("max_event_id") >= 100 && col("min_event_id") <= 299).count()
    val total = spark.read.parquet(s"$manifestStore/_manifest").count()
    assert(opened == surviving && surviving < total,
      s"opened=$opened surviving=$surviving total=$total")
  }

  test("pruned read with an empty survivor set: empty result, schema intact") {
    val out = ScaleOps.manifestPrunedRead(
      spark, manifestStore, "event_id", -500L, -1L)
    assert(out.count() == 0)
    assert(out.columns.contains("event_id") && out.columns.contains("p_date"))
  }

  test("pruned read fails loud when skipping is not selective (maxFiles guard)") {
    val e = intercept[IllegalArgumentException] {
      ScaleOps.manifestPrunedRead(
        spark, manifestStore, "event_id", 0L, Long.MaxValue, maxFiles = 3)
    }
    assert(e.getMessage.contains("not selective"))
  }

  test("zorder store: BOTH dimensions prune files; a single-column sort prunes only its own") {
    import spark.implicits._
    val n = 64
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val root = java.nio.file.Files.createTempDirectory("graft-zstore").toString
    val zDir = s"$root/z"
    ScaleOps.writeZorderStoreWithManifest(grid, zDir, "x", "y",
      bits = 6, numPartitions = 16)
    def opened(dir: String, c: String, lo: Long, hi: Long) =
      ScaleOps.manifestPrunedRead(spark, dir, c, lo, hi)
        .select(col("_metadata.file_path")).distinct().count()
    val zTotal = spark.read.parquet(s"$zDir/_manifest").count()
    // correctness on both dimensions
    assert(ScaleOps.manifestPrunedRead(spark, zDir, "x", 0, 7).count() == 8L * n)
    assert(ScaleOps.manifestPrunedRead(spark, zDir, "y", 0, 7).count() == 8L * n)
    // the z layout prunes on EITHER column
    val zx = opened(zDir, "x", 0, 7); val zy = opened(zDir, "y", 0, 7)
    assert(zx < zTotal && zy < zTotal, s"z-store: x opens $zx, y opens $zy of $zTotal")
    // contrast: an x-sorted store prunes x but must open EVERY file for y
    val sDir = s"$root/s"
    grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.parquet(sDir)
    ScaleOps.writeManifest(spark.read.parquet(sDir), sDir, Seq("x", "y"), Seq.empty)
    val sTotal = spark.read.parquet(s"$sDir/_manifest").count()
    assert(opened(sDir, "x", 0, 7) < sTotal)
    assert(opened(sDir, "y", 0, 7) == sTotal,
      "single-column sort cannot skip on the other dimension")
  }

  test("sumQR: planted ..50-tie sums round exactly as BigDecimal HALF_UP (the q9 boundary class)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cent = java.math.BigDecimal.valueOf(100, 4) // 0.0100
    // 40 groups of 4-dp money values, each adjusted so the EXACT sum ends
    // in ...50 — the tie the double-cast round used to flip on
    val rows = (1 to 40).flatMap { g =>
      val vals = Seq.fill(6)(java.math.BigDecimal.valueOf(rnd.nextInt(20000000).toLong, 4))
      val tail = vals.reduce(_.add(_)).remainder(cent)
      val target = java.math.BigDecimal.valueOf(50, 4) // 0.0050
      val adjust = target.subtract(tail).add(cent).remainder(cent)
      (vals :+ adjust).map(v => (g, v.doubleValue))
    }
    val exactSums = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(v => java.math.BigDecimal.valueOf(v._2)).reduce(_.add(_))
    }
    // every group really sits on the 2-dp tie by construction
    exactSums.values.foreach(s =>
      assert(s.remainder(cent).compareTo(java.math.BigDecimal.valueOf(50, 4)) == 0,
        s"fixture bug: $s not on the ..50 tie"))
    val expected = exactSums.map { case (g, s) =>
      g -> s.setScale(2, java.math.RoundingMode.HALF_UP).doubleValue
    }
    val got = rows.toDF("g", "v").groupBy(col("g"))
      .agg(graft.functions.Exact.sumQR(col("v"), 4, 2).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    expected.foreach { case (g, e) =>
      assert(got(g) == e, s"group $g: got ${got(g)} want $e")
    }
  }

  test("key skew report: exact shares, Gini closed form, salt recommendation on the hot key") {
    import spark.implicits._
    // A:80 B:10 C:10 -> asc order (B,C,A): gnum = -20 + 0 + 160 = 140,
    // gini = 140/(3·100) ≈ 0.4667; A's 80% share trips the salt flag
    val df = (Seq.fill(80)("A") ++ Seq.fill(10)("B") ++ Seq.fill(10)("C"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "user_id")
    val got = ScaleOps.keySkewReport(df, "user_id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
    assert(got.toSeq == Seq(
      (1, "A", 80L, 0.8, 0.8, 0.4667, true),
      (2, "B", 10L, 0.1, 0.9, 0.4667, false),
      (3, "C", 10L, 0.1, 1.0, 0.4667, false)), s"got: ${got.toSeq}")
    // uniform distribution: gini 0, no recommendation
    val uni = (1 to 30).map(i => (i.toLong, s"k${i % 3}")).toDF("id", "user_id")
    val g2 = ScaleOps.keySkewReport(uni, "user_id").collect()
    assert(g2.forall(r => r.getDouble(5) == 0.0 && !r.getBoolean(6)))
  }
}
