package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{FuzzyJoin, Similarity, TextAnalysis}

/** BM25 retrieval, edit-distance fuzzy join, and calendar gap-fill:
  * blocking exactness vs brute force, hand-computed score parity, and
  * forward-fill semantics.
  */
class RetrievalSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-retrieval")

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(
        math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("fuzzy join q-gram blocking is EXACT vs brute force on part names") {
    val parts = Queries.table(spark, sf, "part")
    val names = parts.select("p_name").distinct()
      .collect().map(_.getString(0)).sorted
    val brute = (for {
      a <- names; b <- names if a < b && lev(a, b) <= 2
    } yield (a, b, lev(a, b))).toSet
    val got = FuzzyJoin.editDistanceSelfJoin(parts, "p_name", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "dictionary should contain near-duplicate names")
    assert(got == brute, s"missed=${brute.diff(got)} extra=${got.diff(brute)}")
  }

  test("fuzzy join covers gram-poor strings (no shared gram, still within d)") {
    import spark.implicits._
    // "ab" vs "cd": edit distance 2 with ZERO shared 2-grams — only the
    // length-band fallback can pair them; plus short-long ("abcde"/"abcdef")
    val rows = Seq("ab", "cd", "b", "abcde", "abcdef", "zzzzzzzzzz")
      .toDF("name")
    val got = FuzzyJoin.editDistanceSelfJoin(rows, "name", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val names = Seq("ab", "cd", "b", "abcde", "abcdef", "zzzzzzzzzz")
    val brute = (for {
      a <- names; b <- names if a < b && lev(a, b) <= 2
    } yield (a, b, lev(a, b))).toSet
    assert(got == brute, s"missed=${brute.diff(got)} extra=${got.diff(brute)}")
  }

  test("bm25 matches a hand-computed score on a tiny corpus") {
    import spark.implicits._
    // doc 0 is the query doc (first 2 distinct tokens: "apple banana")
    val docs = Seq(
      (0L, "apple banana"),
      (1L, "apple apple banana cherry"),
      (2L, "cherry cherry cherry"),
      (3L, "apple date")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, queryEvery = 100, queryTerms = 2, topK = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), (r.getInt(1), r.getDouble(3)))).toMap

    val n = 4.0
    val dls = Map(0L -> 2.0, 1L -> 4.0, 2L -> 3.0, 3L -> 2.0)
    val avgdl = dls.values.sum / n
    val dfs = Map("apple" -> 3.0, "banana" -> 2.0, "cherry" -> 2.0, "date" -> 1.0)
    val tfs = Map(
      (0L, "apple") -> 1.0, (0L, "banana") -> 1.0,
      (1L, "apple") -> 2.0, (1L, "banana") -> 1.0, (1L, "cherry") -> 1.0,
      (2L, "cherry") -> 3.0, (3L, "apple") -> 1.0, (3L, "date") -> 1.0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def w(doc: Long, t: String): Option[Double] = tfs.get((doc, t)).map { tf =>
      val idf = math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
      r6(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dls(doc) / avgdl)))
    }
    val expected = (0L to 3L).flatMap { d =>
      val terms = Seq("apple", "banana").flatMap(t => w(d, t))
      if (terms.isEmpty) None else Some(d -> r4(terms.sum))
    }.toMap
    assert(got.keySet == expected.keySet.map(d => (0L, d)))
    expected.foreach { case (d, s) =>
      assert(math.abs(got((0L, d))._2 - s) < 1e-9, s"doc $d: ${got((0L, d))._2} vs $s")
    }
    // ranks follow score desc
    val byRank = got.toSeq.sortBy(_._2._1).map(_._2._2)
    assert(byRank == byRank.sortBy(-(_: Double)))
  }

  test("bm25 on the corpus: ranks contiguous, scores monotone, query docs rank themselves well") {
    val docs = Queries.table(spark, sf, "documents")
    val res = TextAnalysis.bm25TopK(docs, queryEvery = 25, queryTerms = 4, topK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(res.nonEmpty)
    res.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rows.length).toSeq)
      val scores = sorted.map(_._4).toSeq
      assert(scores == scores.sortBy(-(_: Double)))
    }
  }

  private def topkSets(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("champion-list BM25: certificate is SOUND on the hostile synthetic corpus (guaranteed => membership equal)") {
    val docs = Queries.table(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-champ").toString
    TextAnalysis.buildBm25Index(docs, dir, mChampions = 64)
    val root = graft.ext.IndexStore.resolve(spark, dir)
    // the prefix must actually engage: common tokens carry more postings
    // than the champion budget at this corpus size
    val fullN = spark.read.parquet(s"$root/tf").count()
    val champN = spark.read.parquet(s"$root/tf_top").count()
    assert(champN < fullN, s"champion prefix did not prune ($champN of $fullN)")
    val overBudget = spark.read.parquet(s"$root/tf_top")
      .groupBy("token").count().filter(org.apache.spark.sql.functions.col("count") > 64)
      .count()
    assert(overBudget == 0L)
    // this corpus is pruning-HOSTILE by construction (near-uniform token
    // distribution: every query term is a near-stop-word, so champion
    // prefixes cut real score mass and membership CAN diverge). The
    // contract under fire is the certificate's soundness: any query it
    // marks guaranteed must have identical top-k membership.
    val exact = topkSets(TextAnalysis.bm25TopKFromIndex(spark, dir,
      queryEvery = 25, queryTerms = 4, topK = 5))
    val champ = topkSets(TextAnalysis.bm25TopKFromChampions(spark, dir,
      queryEvery = 25, queryTerms = 4, topK = 5))
    assert(exact.keySet == champ.keySet)
    val cert = TextAnalysis.bm25ChampionCertificate(spark, dir,
        queryEvery = 25, queryTerms = 4, topK = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val unsound = cert.collect {
      case (q, true) if exact(q) != champ(q) => q }
    assert(unsound.isEmpty, s"certificate claimed guaranteed but membership diverged: $unsound")
    // and the instrument must actually DETECT the hostile regime: at
    // least one divergent query exists here and is reported uncertified
    val diverged = exact.keys.filter(q => exact(q) != champ(q))
    assert(diverged.nonEmpty, "fixture regression: corpus no longer exercises divergence")
    assert(diverged.forall(q => !cert(q)))
    // serving with mismatched (k1, b) must fail loud, not mis-rank
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopKFromChampions(spark, dir, k1 = 0.9)
    }
  }

  test("champion-list BM25: on a zipf-shaped corpus pruning engages, certificates hold, membership equals exact") {
    import spark.implicits._
    // 300 docs in 30 groups of 10: the group token's tf ramps 1..10 across
    // the group (strict in-group score separation), every doc carries the
    // same 4 fillers (df = 300 -> pruned at m = 16, but idf ~ log(1 +
    // 0.5/300.5) so the pruned mass is negligible), and each doc leads
    // with its group token so the derived queries hit (group, uniq,
    // filler, filler)
    val docs = (0 until 300).map { i =>
      val g = s"g${i % 30}"
      val reps = 1 + i / 30
      (i.toLong, (Seq.fill(reps)(g) :+ s"u$i") ++ Seq("f0", "f1", "f2", "f3") mkString " ")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-zipf").toString
    TextAnalysis.buildBm25Index(docs, dir, mChampions = 16)
    // fillers pruned (df 300 > 16), group/uniq tokens intact (df <= 16)
    val champCounts = spark.read.parquet(
        s"${graft.ext.IndexStore.resolve(spark, dir)}/tf_top")
      .groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(champCounts("f0") == 16L && champCounts("g0") == 10L)
    val exact = topkSets(TextAnalysis.bm25TopKFromIndex(spark, dir,
      queryEvery = 100, queryTerms = 4, topK = 5))
    val champ = topkSets(TextAnalysis.bm25TopKFromChampions(spark, dir,
      queryEvery = 100, queryTerms = 4, topK = 5))
    val cert = TextAnalysis.bm25ChampionCertificate(spark, dir,
        queryEvery = 100, queryTerms = 4, topK = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(exact.nonEmpty && exact.keySet == champ.keySet)
    assert(cert.values.forall(identity), s"expected all certified: $cert")
    exact.keys.foreach(q => assert(exact(q) == champ(q), s"query $q diverged"))
  }

  test("certified champion serve: row-identical to the exact serve in BOTH regimes, and the composed plan engages only when certificates pass") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // regime 1 — the pruning-hostile corpus: nothing certifies (Zipf-flat
    // vocabulary, measured θ≈1.4 vs ub≈7.3 at sf0.1), so the bounded
    // driver probe must route straight to the exact serve: no Union node
    // (the composed rescored⊎fallback shape) in the plan, output equal
    val docs = Queries.table(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-cert-serve").toString
    TextAnalysis.buildBm25Index(docs, dir, mChampions = 64)
    val exact = TextAnalysis.bm25TopKFromIndex(spark, dir,
      queryEvery = 25, queryTerms = 4, topK = 5)
    val certd = TextAnalysis.bm25TopKCertified(spark, dir,
      queryEvery = 25, queryTerms = 4, topK = 5)
    assert(!certd.queryExecution.optimizedPlan.toString.contains("Union"),
      "short-circuit expected: nothing certifies on the hostile corpus")
    assert(rows(certd) == rows(exact))
    // regime 2 — the zipf-separated fixture where every query certifies:
    // the composed branch must engage (rescored ⊎ fallback Union) and the
    // exact re-score must land on identical scores AND ranks
    val zdocs = (0 until 300).map { i =>
      val g = s"g${i % 30}"
      val reps = 1 + i / 30
      (i.toLong, (Seq.fill(reps)(g) :+ s"u$i") ++ Seq("f0", "f1", "f2", "f3") mkString " ")
    }.toDF("doc_id", "text")
    val zdir = java.nio.file.Files.createTempDirectory("graft-cert-zipf").toString
    TextAnalysis.buildBm25Index(zdocs, zdir, mChampions = 16)
    val zexact = TextAnalysis.bm25TopKFromIndex(spark, zdir,
      queryEvery = 100, queryTerms = 4, topK = 5)
    val zcertd = TextAnalysis.bm25TopKCertified(spark, zdir,
      queryEvery = 100, queryTerms = 4, topK = 5)
    assert(zcertd.queryExecution.optimizedPlan.toString.contains("Union"),
      "composed branch expected: the zipf fixture certifies every query")
    assert(rows(zcertd) == rows(zexact))
    // and the composed EVAL twin is hit-for-hit equal on the corpus
    val evEx = rows(TextAnalysis.retrievalEvalFromIndex(spark, dir,
      queryEvery = 25, queryTerms = 8, topK = 5, maxQueries = 20))
    val evCt = rows(TextAnalysis.retrievalEvalCertified(spark, dir,
      queryEvery = 25, queryTerms = 8, topK = 5, maxQueries = 20))
    assert(evCt == evEx)
  }

  test("spread-corpus certified serve: real testdata certifies nonzero and is row-identical to the exact serve") {
    // the idf-spread derivation (SparkEntry.withSpread): four block tags
    // with SF-invariant df 16/32/64/128, all inside the m=128 champion
    // budget, so every panel token's postings live whole in tf_top and
    // certification reduces to strict rank-5/6 separation — which the
    // corpus's distinct per-block doc lengths provide
    val docs = SparkEntry.withSpread(Queries.table(spark, sf, "documents"))
    val dir = java.nio.file.Files.createTempDirectory("graft-spread-cert").toString
    TextAnalysis.buildBm25Index(docs, dir)
    val cert = TextAnalysis.bm25ChampionCertificate(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(cert.nonEmpty && cert.values.exists(identity),
      s"spread corpus must certify a nonzero fraction: $cert")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val exact = TextAnalysis.bm25TopKFromIndex(spark, dir)
    val certd = TextAnalysis.bm25TopKCertified(spark, dir)
    assert(certd.queryExecution.optimizedPlan.toString.contains("Union"),
      "composed branch expected on the spread corpus")
    assert(rows(certd) == rows(exact))
  }

  test("champion-tier retrieval eval: equals the exact eval at full champion coverage; full panel under real pruning") {
    val docs = Queries.table(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-eval-champ").toString
    // budget covers every posting -> champion prefix == full postings ->
    // hits identical -> metrics identical (pins the composition)
    TextAnalysis.buildBm25Index(docs, dir, mChampions = 1000000)
    val exact = TextAnalysis.retrievalEvalFromIndex(spark, dir)
      .collect().map(_.toSeq).toSeq
    val champ = TextAnalysis.retrievalEvalFromChampions(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty && champ == exact)
    // at a REAL pruning budget the monitor still emits one row per panel
    // query (metrics may jitter — that is the documented approximation)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-eval-champ2").toString
    TextAnalysis.buildBm25Index(docs, dir2, mChampions = 64)
    val pruned = TextAnalysis.retrievalEvalFromChampions(spark, dir2)
      .collect()
    assert(pruned.length == exact.length,
      s"panel shrank under pruning: ${pruned.length} vs ${exact.length}")
    // rr stays a valid metric value everywhere
    pruned.foreach { r =>
      val rr = r.getAs[Double]("rr")
      assert(rr >= 0.0 && rr <= 1.0, r.toString)
    }
    // on a zipf-SEPARATED corpus (each doc carries a unique high-idf
    // token whose df=1 posting always survives the champion budget) the
    // monitor keeps the exact eval's signal under REAL pruning — the
    // blindness above is a property of the flat-vocabulary fixture, not
    // of the tier
    import spark.implicits._
    val zdocs = (0 until 300).map { i =>
      val g = s"g${i % 30}"
      val reps = 1 + i / 30
      (i.toLong, (Seq.fill(reps)(g) :+ s"u$i") ++ Seq("f0", "f1", "f2", "f3") mkString " ")
    }.toDF("doc_id", "text")
    val zdir = java.nio.file.Files.createTempDirectory("graft-eval-champ-z").toString
    TextAnalysis.buildBm25Index(zdocs, zdir, mChampions = 16)
    val zex = TextAnalysis.retrievalEvalFromIndex(spark, zdir,
        queryEvery = 50, queryTerms = 8, topK = 5)
      .collect().map(_.toSeq).toSeq
    val zch = TextAnalysis.retrievalEvalFromChampions(spark, zdir,
        queryEvery = 50, queryTerms = 8, topK = 5)
      .collect().map(_.toSeq).toSeq
    assert(zex.nonEmpty && zch == zex,
      "champion eval must keep the exact metrics on the separated corpus")
  }

  test("spread certificate coverage survives a 10x REPLICATED scale-up (block-unique ga term frequency)") {
    // the exact regression r13 caught in champion_coverage_sf1: the
    // scale-up word-scrambles copies but PRESERVES each original's word
    // multiset, so same-block copies used to tie exactly at the rank-5/6
    // boundary and the certificate (correctly) certified 0. The ga tag's
    // doc_id%16+1 repetitions give every doc in a 16-block a distinct
    // block-tag tf, so coverage survives replication instead of relying
    // on corpus-length spread.
    val scaled = java.nio.file.Files.createTempDirectory("graft-spread-10x").toString
    graft.ScaleUp.ensure(spark, sf, scaled, factor = 10)
    val docs = SparkEntry.withSpread(Queries.table(spark, scaled, "documents"))
    val dir = java.nio.file.Files.createTempDirectory("graft-spread-10x-idx").toString
    TextAnalysis.buildBm25Index(docs, dir)
    val cert = TextAnalysis.bm25ChampionCertificate(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val frac = cert.values.count(identity).toDouble / cert.size
    assert(cert.size >= 40 && frac > 0.5,
      s"replicated corpus must keep certifying: $frac of ${cert.size}")
    // and the composed serve on the replicated corpus stays row-identical
    // to the exact serve (the oracle contract, checked in-session here)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(TextAnalysis.bm25TopKCertified(spark, dir)) ==
      rows(TextAnalysis.bm25TopKFromIndex(spark, dir)))
  }

  test("gapfill densifies each user's span and forward-fills values") {
    val res = Queries.eventsGapfill(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
    assert(res.nonEmpty)
    val byUser = res.groupBy(_._1)
    byUser.foreach { case (_, rows) =>
      val days = rows.map(_._2).sorted
      val d0 = java.time.LocalDate.parse(days.head)
      val d1 = java.time.LocalDate.parse(days.last)
      assert(days.length == java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1,
        "span must be dense")
      assert(days.distinct.length == days.length)
      // forward fill: a filled row carries the previous day's value
      val sorted = rows.sortBy(_._2)
      sorted.toSeq.sliding(2).foreach {
        case Seq(prev, cur) if cur._4 => assert(cur._3 == prev._3)
        case _ =>
      }
      // first row of a span is never filled (span starts at an observed day)
      assert(!sorted.head._4)
    }
  }

  test("hybrid RRF fuses the bm25 and dense tiers (driver-side reference fusion)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "apple banana"),
      (1L, "apple apple banana cherry"),
      (2L, "cherry cherry cherry"),
      (3L, "apple date")).toDF("doc_id", "text")
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.5f, 0.5f, 0.0f))).toDF("vec_id", "embedding")
    val got = TextAnalysis.hybridRrfTopK(docs, vecs, queryEvery = 100,
      queryTerms = 2, poolK = 4, topK = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4), r.getInt(5)))
    assert(got.forall(_._1 == 0L))

    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // reference sparse ranks from the (separately verified) bm25 tier
    val sparse = TextAnalysis.bm25TopK(docs, 100, 2, topK = 4)
      .collect().map(r => (r.getLong(2), r.getInt(1))).toMap
    // reference dense ranks from a driver-side cosine (self-match kept)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val q = Array(1.0f, 0.0f, 0.0f)
    val embs = Map(0L -> Array(1.0f, 0.0f, 0.0f), 1L -> Array(0.9f, 0.1f, 0.0f),
      2L -> Array(0.0f, 1.0f, 0.0f), 3L -> Array(0.5f, 0.5f, 0.0f))
    val dense = embs.toSeq.map { case (id, v) => (id, r6(cos(q, v))) }
      .sortBy { case (id, c) => (-c, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    // reference fusion
    val fusedRef = (sparse.keySet ++ dense.keySet).toSeq.map { d =>
      val s = sparse.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      val dn = dense.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (d, r6(s + dn))
    }.sortBy { case (d, sc) => (-sc, d) }
      .zipWithIndex.map { case ((d, sc), i) => (0L, i + 1, d, sc,
        sparse.getOrElse(d, 0), dense.getOrElse(d, 0)) }
    assert(got.toSeq == fusedRef, s"got=${got.toSeq}\nref=$fusedRef")
    // doc 2 shares no query term: dense-only, absent sparse rank surfaces as 0
    val doc2 = got.find(_._3 == 2L)
    assert(doc2.exists(_._5 == 0) && doc2.exists(_._6 > 0))
  }

  test("co-occurrence PMI: perfectly-coupled pair scores npmi=1, independent pair near 0") {
    import spark.implicits._
    def d(i: Int) = java.sql.Date.valueOf(f"2024-02-$i%02d")
    // 20 user-days; "a" and "b" ALWAYS co-occur (10 user-days); "c" appears
    // in 5 of those and 5 others — roughly independent of the a/b block
    val rows =
      (1 to 10).flatMap(i => Seq((i.toLong, d(1), "a"), (i.toLong, d(1), "b"))) ++
      (1 to 5).map(i => (i.toLong, d(1), "c")) ++
      (11 to 20).map(i => (i.toLong, d(1), "x")) ++
      (11 to 15).map(i => (i.toLong, d(1), "c"))
    val ud = rows.toDF("user_id", "day", "event_type")
    val got = Queries.cooccurrenceFromSets(ud, minSupport = 5).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    // N = 20 user-days; n_a = n_b = 10, n_ab = 10 -> pmi = ln(20·10/100),
    // npmi = pmi / -ln(10/20) = 1 exactly (perfect coupling)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ab = got(("a", "b"))
    assert(ab._1 == 10L && ab._2 == 10L && ab._3 == 10L)
    assert(ab._4 == r4(math.log(20.0 * 10 / (10.0 * 10))) && ab._5 == 1.0)
    // a-c: n_ac = 5, n_a = 10, n_c = 10 -> pmi = ln(5·20/100) = 0 (independent)
    val ac = got(("a", "c"))
    assert(ac._1 == 5L && ac._4 == 0.0 && ac._5 == 0.0)
    // pairs below support (none here with n_ab < 5 except none) and
    // never-co-occurring pairs (a-x) are absent
    assert(!got.contains(("a", "x")) && !got.contains(("b", "x")))
  }

  test("Markov transitions: per-user lag pairs, row-normalized probabilities") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 1: a b a b  -> (a,b)x2 (b,a)x1 ; user 2: a a -> (a,a)x1
    val ev = Seq(
      (1L, t(1), 10L, "a"), (1L, t(2), 11L, "b"),
      (1L, t(3), 12L, "a"), (1L, t(4), 13L, "b"),
      (2L, t(1), 20L, "a"), (2L, t(2), 21L, "a"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Queries.transitionsFromEvents(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 3L, 0.6667)),
      ("a", "a") -> ((1L, 3L, 0.3333)),
      ("b", "a") -> ((1L, 1L, 1.0))), s"got: $got")
    // no transition crosses users: (b, a) count is 1 (within user 1), not 2
  }

  test("retrieval eval: unique-vocab corpus self-retrieves at rank 1, MRR 1.0") {
    import spark.implicits._
    val d = (0L until 6L).map(i =>
      (i, (1 to 8).map(t => s"tok${i}_$t").mkString(" "))).toDF("doc_id", "text")
    val rows = TextAnalysis.retrievalEval(d, queryEvery = 2).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 2L, 4L))
    assert(rows.forall(_.getInt(1) == 1), rows.mkString(";"))
    assert(rows.forall(r => r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0))
  }

  test("basket rules: hand-computed support/confidence/lift; sub-support pairs drop") {
    import spark.implicits._
    // 5 baskets: {1,2} x3, {1}, {5,6} -> pair (1,2) support 3;
    // supp(1)=4, supp(2)=3, N=5. conf(1->2)=3/4, conf(2->1)=1,
    // lift both ways = 3*5/(4*3) = 1.25. The once-seen pair (5,6) drops.
    val li = (Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (13L, 1L), (14L, 5L), (14L, 6L))
      ).map { case (o, p) => (o, p, 1.0, 1.0, 0.0, "N") }
      .toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag")
    val dir = java.nio.file.Files.createTempDirectory("graft-basket").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Queries.basketRules(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.size == 2) // only (1,2) clears minSupport, both directions
    assert(out((1L, 2L)) == ((3L, 0.75, 1.25)))
    assert(out((2L, 1L)) == ((3L, 1.0, 1.25)))
  }

  test("user trend: hand-fit slope on a planted ramp; flat user slopes 0") {
    import spark.implicits._
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // user 1 ramps 10, 20, 30 over 3 days -> slope exactly 10/day;
    // user 2 flat 5, 5 -> slope 0; user 3 seen once -> excluded
    val ev = Seq(
      (1L, t(1), 1L, "purchase", 10.0, "{}"),
      (2L, t(2), 1L, "purchase", 20.0, "{}"),
      (3L, t(3), 1L, "purchase", 30.0, "{}"),
      (4L, t(1), 2L, "purchase", 5.0, "{}"),
      (5L, t(2), 2L, "purchase", 5.0, "{}"),
      (6L, t(1), 3L, "purchase", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft-trend").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Queries.eventsUserTrend(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L, 20.0, 10.0)))
    assert(out(2L) == ((2L, 5.0, 0.0)))
  }

  test("TWAP: hand math on planted intervals; last observation drops") {
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:${s / 60}%02d:${s % 60}%02d")
    // value 10 live for 30 s, value 40 live for 10 s, value 99 is the
    // day's last observation (no interval, drops):
    // twap = (10*30 + 40*10) / 40 = 17.5; plain mean = (10+40)/2 = 25
    val ev = Seq(
      (1L, ts(0), 1L, "click", 10.0, "{}"),
      (2L, ts(30), 1L, "click", 40.0, "{}"),
      (3L, ts(40), 1L, "click", 99.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft-twap").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Queries.eventsTwap(spark, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(2) == 2L && r.getLong(3) == 40000000L)
    assert(r.getDouble(4) == 17.5, s"twap ${r.getDouble(4)}")
    assert(r.getDouble(5) == 25.0, s"plain ${r.getDouble(5)}")
  }

  test("winsorize: planted outlier clips to the fence; clean types untouched") {
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:${s / 60}%02d:${s % 60}%02d")
    // 99 values of 10.0 and one fat-finger 10000.0: p99 sits between
    // them, exactly one value clips high; the winsorized mean stays
    // near 10 while the plain mean would be ~110
    val ev = ((1 to 99).map(i => (i.toLong, ts(i), 1L, "click", 10.0, "{}")) :+
      (100L, ts(100), 1L, "click", 10000.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft-wins").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Queries.eventsWinsorize(spark, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(1) == 100L)
    assert(r.getLong(4) == 0L, s"low clips ${r.getLong(4)}")
    assert(r.getLong(5) == 1L, s"high clips ${r.getLong(5)}")
    // fence = p99 (between 10 and 10000) -> winsorized mean well under
    // the raw ~110 and at/above 10
    assert(r.getDouble(6) >= 10.0 && r.getDouble(6) < 110.0,
      s"winsorized mean ${r.getDouble(6)}")
  }

  test("debounce collapses drizzling chains; seasonal anomaly flags the planted spike") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:${s / 60}%02d:${s % 60}%02d")
    // user 1 clicks: a chain at 0s/200s/400s (each gap <= 300s -> ONE
    // burst even though 0->400 exceeds the gap), then a fresh one at
    // 800s; a view at 10s stays its own burst (separate type)
    val ev = (Seq((1L, ts(0)), (2L, ts(200)), (3L, ts(400)), (4L, ts(800)))
      .map { case (id, t) => (id, t, 1L, "click", 0.0, "{}") } :+
      (5L, ts(10), 1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft-deb").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Queries.eventsDebounce(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L, 5L -> 1L))
    // seasonal: four MONDAYS (the same hour-of-week class), flat 10
    // events/hour-cell except one 100-event spike — the leave-one-out
    // baseline flags it (a population sigma would self-mask: z <= sqrt(3))
    val spike = Seq(1, 8, 15, 22).flatMap(d => (0 until 2).flatMap(h =>
      (1 to (if (d == 22 && h == 0) 100 else 10)).map(i =>
        (d.toLong * 10000 + h * 100 + i,
          java.sql.Timestamp.valueOf(f"2024-01-$d%02d 0$h%d:00:01"),
          1L, "click", 0.0, "{}"))))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir2 = java.nio.file.Files.createTempDirectory("graft-seas").toString
    spike.write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val sa = Queries.eventsSeasonalAnomaly(spark, dir2).collect()
    val flagged = sa.filter(_.getBoolean(5))
    assert(flagged.length == 1 && flagged(0).getLong(3) == 100)
    assert(sa.count(!_.getBoolean(5)) == sa.length - 1)
  }

  test("attribution: four models match hand math; out-of-window touches drop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // user 1: click d1, view d2, purchase d3 (100.0); user 2: click d1,
    // purchase d20 (outside the 7-day lookback -> unattributed)
    val ev = Seq(
      (1L, t(1), 1L, "click", 0.0, "{}"),
      (2L, t(2), 1L, "view", 0.0, "{}"),
      (3L, t(3), 1L, "purchase", 100.0, "{}"),
      (4L, t(1), 2L, "click", 0.0, "{}"),
      (5L, t(20), 2L, "purchase", 50.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-attr").toString
    ev.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val out = Queries.eventsAttribution(spark, srcDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(out(("first_touch", "click")) == ((1.0, 100.0)))
    assert(out(("last_touch", "view")) == ((1.0, 100.0)))
    assert(out(("linear", "click")) == ((0.5, 50.0)))
    assert(out(("linear", "view")) == ((0.5, 50.0)))
    // decay: click is 2 days out (w=0.5), view 1 day (w=1.0) -> 1/3 vs 2/3
    assert(out(("time_decay", "click")) == ((0.3333, 33.3333)))
    assert(out(("time_decay", "view")) == ((0.6667, 66.6667)))
    // user 2's purchase had no in-window touch: no model credits it
    assert(out.values.map(_._2).sum == 4 * 100.0)
  }

  test("rolling distinct: window dedups repeat users; sketch gate holds on real data") {
    import org.apache.spark.sql.functions.col
    // real corpus: every day's sketch estimate inside the gate, and the
    // trailing window can only grow vs the single day's distinct count
    val out = Queries.eventsRollingDistinct(spark, sf).collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(2)), "sketch outside gate")
    val daily = Queries.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.to_date(col("ts")).as("d"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) >= daily(r.getString(0)),
        s"window smaller than its own day at ${r.getString(0)}")
    }
    // a user active on several window days counts ONCE: total over the
    // window is <= sum of dailies, with equality only if no user repeats
    val d7 = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    val someDay = daily.keys.toSeq.sorted.last // last day has a full trailing span
    val span = daily.keys.toSeq.sorted.takeRight(7)
    assert(d7(someDay) <= span.map(daily).sum)
    assert(d7(someDay) < span.map(daily).sum,
      "expected at least one repeat user across the window on real data")
  }

  test("heatmap: epoch arithmetic pins Monday/Sunday cells and both share columns") {
    import spark.implicits._
    // 2024-01-01 was a Monday (dow 1); 2024-01-07 a Sunday (dow 0)
    val ev = Seq(
      java.sql.Timestamp.valueOf("2024-01-01 00:30:00"),
      java.sql.Timestamp.valueOf("2024-01-07 23:10:00"),
      java.sql.Timestamp.valueOf("2024-01-07 23:50:00"))
      .toDF("ts")
    val got = Queries.heatmapFromEvents(ev).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == Map(
      (1, 0) -> ((1L, 0.3333, 1.0)),
      (0, 23) -> ((2L, 0.6667, 1.0))), got)
  }

  test("RFM: monotone users land on the diagonal segments 111..444") {
    import spark.implicits._
    def t(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 08:$i%02d:00")
    // user k: k events on day k, value k each -> every metric orders 1<2<3<4
    val ev = (1 to 4).flatMap(k => (1 to k).map(i => (k.toLong, t(k, i), k.toDouble)))
      .toDF("user_id", "ts", "value")
    val got = Queries.rfmFromEvents(ev).collect()
      .map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(got == Map(1L -> "111", 2L -> "222", 3L -> "333", 4L -> "444"), got)
  }

  test("EWMA anomaly: spike over an alternating baseline fires, baseline days don't") {
    import spark.implicits._
    // days 1-9 alternate 10/12 (nonzero variance), day 10 spikes to 60
    val ns = Seq(10, 12, 10, 12, 10, 12, 10, 12, 10, 60)
    val daily = ns.zipWithIndex.map { case (n, i) =>
      ("a", java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), n.toLong)
    }.toDF("event_type", "day", "n")
    val rows = Queries.ewmaScores(daily).collect()
    // scoreable from day 5 (needs >= 4 observed lags)
    assert(rows.map(_.getString(1)).toSeq ==
      (5 to 10).map(i => f"2024-01-$i%02d"), rows.mkString(";"))
    val flagged = rows.filter(_.getBoolean(6)).map(_.getString(1)).toSeq
    assert(flagged == Seq("2024-01-10"), rows.mkString(";"))
    val spike = rows.last
    val f = spike.getDouble(3)
    assert(f > 10.0 && f < 12.0, s"forecast $f should sit inside the 10..12 band")
    assert(spike.getDouble(5) > 3.0)
  }

  test("MAD outliers: robust gate catches the value a mean/stddev z-score would mask") {
    import spark.implicits._
    // med 3, ad = (2,1,0,1,97) -> mad 1; modified-z gate ad > 3.5/0.6745
    // ≈ 5.19 flags only the 100. The plain z-score masks it: mean 22,
    // sd ≈ 43.6, z(100) ≈ 1.8 < 3.
    val ev = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0))
      .toDF("event_type", "value")
    val got = Queries.madFromValues(ev).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(("a", 3.0, 1.0, 5L, 1L, 0.2)), s"got: ${got.toSeq}")
    val mean = Seq(1.0, 2.0, 3.0, 4.0, 100.0).sum / 5
    val sd = math.sqrt(Seq(1.0, 2.0, 3.0, 4.0, 100.0)
      .map(v => (v - mean) * (v - mean)).sum / 4)
    assert((100.0 - mean) / sd < 3.0, "fixture must actually mask under plain z")
  }

  test("interval-union coverage merges overlaps and exact touches, splits on gaps") {
    import spark.implicits._
    // unit interval length 300: user 1 -> [0,300)+[100,400)+[400,700)
    // (overlap + exact touch = ONE block) then [2000,2300); user 2 single
    val starts = Seq((1L, 0L), (1L, 100L), (1L, 400L), (1L, 2000L), (2L, 50L))
      .toDF("user_id", "s")
    val got = Queries.coverageFromStarts(starts, lengthUs = 300L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(got(1L) == ((1000L, 2L, 4L, 1.2)), s"user1: ${got(1L)}")
    assert(got(2L) == ((300L, 1L, 1L, 1.0)), s"user2: ${got(2L)}")
  }

  test("CUSUM flags a sustained level shift the z-score spike detector misses") {
    import spark.implicits._
    def d(i: Int) = java.sql.Date.valueOf(f"2024-03-$i%02d")
    // 15 days alternating 9/11 (mean 10, sd ~1), then 10 days at 13 — a
    // +3/day drift: each day is only ~1.5σ of the mixed series, but the
    // drift accumulates linearly in the CUSUM statistic
    val ns = (1 to 15).map(i => if (i % 2 == 0) 11L else 9L) ++ Seq.fill(10)(13L)
    val daily = ns.zipWithIndex.map { case (n, i) => ("click", d(i + 1), n) }
      .toDF("event_type", "day", "n")
    val cus = Queries.cusumScores(daily).collect()
      .map(r => r.getString(1) -> ((r.getDouble(3), r.getBoolean(5)))).toMap
    // shift must fire before the window ends, and never during baseline
    assert((1 to 15).forall(i => !cus(f"2024-03-$i%02d")._2),
      "baseline must not trip")
    assert(cus("2024-03-25")._2, s"shift not flagged: ${cus("2024-03-25")}")
    // the statistic grows monotonically through the shifted regime
    val tail = (16 to 25).map(i => cus(f"2024-03-$i%02d")._1)
    assert(tail == tail.sorted, s"cusum not accumulating: $tail")
    // the SPIKE detector stays silent on the same series (each shifted day
    // is within 3 z of its trailing window once the shift is underway)
    val anom = Queries.anomalyScores(daily).collect()
      .map(r => r.getString(1) -> r.getBoolean(6)).toMap
    // (a day whose trailing window went zero-variance is absent — also silent)
    assert((20 to 25).forall(i => !anom.getOrElse(f"2024-03-$i%02d", false)),
      "steady shifted regime should not read as spikes")
  }

  test("Holt forecast: matches the integer reference recurrence; constant series is a fixpoint") {
    import spark.implicits._
    def d(i: Int) = java.sql.Date.valueOf(f"2024-03-$i%02d")
    // reference recurrence — the scaladoc'd floor arithmetic, verbatim
    def ref(ns: Seq[Long]): (Long, Long) =
      ns.tail.foldLeft((ns.head * 1000000L, 0L)) { case ((l, b), x) =>
        val l2 = Math.floorDiv(x * 1000000L + l + b, 2L)
        (l2, Math.floorDiv(l2 - l + 3 * b, 4L))
      }
    val grow = Seq(10L, 12L, 14L, 16L, 18L)
    val daily = (grow.zipWithIndex.map { case (n, i) => ("up", d(i + 1), n) } ++
      (1 to 5).map(i => ("flat", d(i), 7L)) ++
      Seq(("one", d(1), 42L))).toDF("event_type", "day", "n")
    val got = Queries.holtForecast(daily).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    val (lu, bu) = ref(grow)
    (1 to 7).foreach { h =>
      assert(got(("up", h))._2 == lu + h * bu, s"up h=$h")
      // a constant series is a fixpoint: zero trend, level == x exactly
      assert(got(("flat", h))._2 == 7000000L, s"flat h=$h")
      // single observation: init state only (empty recurrence), zero trend
      assert(got(("one", h))._2 == 42000000L, s"one h=$h")
    }
    // forecast dates extend from each type's LAST day
    assert(got(("up", 1))._1 == "2024-03-06" && got(("up", 7))._1 == "2024-03-12")
    assert(got(("one", 1))._1 == "2024-03-02")
    // an upward-trending series must forecast above its last level
    assert(lu + bu > grow.last * 1000000L)
  }

  test("Holt-Winters seasonal: matches the integer reference; weekly pattern surfaces in the forecast") {
    import spark.implicits._
    def d(i: Int) = java.sql.Date.valueOf(f"2024-03-$i%02d")
    def ref(ns: Seq[Long]): (Long, Long, Vector[Long]) =
      ns.tail.zipWithIndex.foldLeft((ns.head * 1000000L, 0L, Vector.fill(7)(0L))) {
        case ((l, b, s), (x, idx)) =>
          val j = (idx + 1) % 7
          val xv = x * 1000000L
          val l2 = Math.floorDiv(xv - s(j) + l + b, 2L)
          val b2 = Math.floorDiv(l2 - l + 3 * b, 4L)
          (l2, b2, s.updated(j, Math.floorDiv(xv - l2 + 3 * s(j), 4L)))
      }
    // 28 days: every 7th day spikes to 50, the rest sit at 10
    val weekly = (0 until 28).map(i => if (i % 7 == 0) 50L else 10L)
    val daily = (weekly.zipWithIndex.map { case (n, i) => ("wk", d(i + 1), n) } ++
      (1 to 9).map(i => ("flat", d(i), 7L))).toDF("event_type", "day", "n")
    val got = Queries.holtWintersForecast(daily).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    val (l, b, s) = ref(weekly)
    (1 to 7).foreach { h =>
      assert(got(("wk", h)) == l + h * b + s((27 + h) % 7), s"wk h=$h")
      assert(got(("flat", h)) == 7000000L, s"flat h=$h") // seasonal fixpoint too
    }
    // the learned seasonality must put the spike slot far above the rest:
    // day 28 has index 27 (slot 6), so h=1 lands on slot 0 — the spike
    val spike = got(("wk", 1))
    val others = (2 to 7).map(h => got(("wk", h)))
    assert(others.forall(v => spike > v + 10000000L),
      s"spike slot not learned: $spike vs $others")
  }

  test("character entropy: hand-computed value; filler low, blob high") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aabb"),
      (2L, "aaaaaaaaaaaaaaaaaaaa"),
      // all 62 alnum symbols once: H = ln 62 ≈ 4.127 — the flat-alphabet
      // profile of an encoded blob, above the 4.0 gate
      (3L, "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
      .toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3),
        r.getBoolean(4)))).toMap
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // H("aabb") = ln 4 − (2·ln2 + 2·ln2)/4 = ln 2
    assert(got(1L)._1 == 4L && got(1L)._2 ==
      r4(math.log(4.0) - r4plus(2 * math.log(2.0)) * 2 / 4))
    assert(got(2L)._2 == 0.0 && got(2L)._3, "constant run is zero-entropy filler")
    assert(got(3L)._4, s"high-mix blob should flag high_entropy: ${got(3L)}")
  }

  private def r4plus(x: Double) =
    BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("anomaly scoring flags a planted spike against its trailing baseline") {
    import spark.implicits._
    def d(i: Int) = java.sql.Date.valueOf(f"2024-01-$i%02d")
    // alternating 9/11 baseline, a 100-count spike on day 11, recovery day 12
    val ns = Seq(9L, 11L, 9L, 11L, 9L, 11L, 9L, 11L, 9L, 11L, 100L, 10L)
    val daily = ns.zipWithIndex.map { case (n, i) => ("click", d(i + 1), n) }
      .toDF("event_type", "day", "n")
    val got = Queries.anomalyScores(daily).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getBoolean(6)))).toMap
    // first scoreable day is day 5 (4 observed baseline days); day 4 has 3
    assert(!got.contains("2024-01-04") && got.contains("2024-01-05"))

    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // day 11's baseline = days 4..10 = (11,9,11,9,11,9,11)
    val base = Seq(11.0, 9.0, 11.0, 9.0, 11.0, 9.0, 11.0)
    val mu = base.sum / base.length
    val v = (base.map(x => x * x).sum - base.sum * base.sum / base.length) /
      (base.length - 1)
    val z = (100 - mu) / math.sqrt(v)
    val (n11, mu11, sd11, z11, flag11) = got("2024-01-11")
    assert(n11 == 100L && flag11)
    assert(mu11 == r4(mu) && sd11 == r4(math.sqrt(v)) && z11 == r4(z))
    assert(z11 > 3.0)
    // day 12's baseline contains the spike: inflated sd, not anomalous
    assert(!got("2024-01-12")._5)
  }
}
