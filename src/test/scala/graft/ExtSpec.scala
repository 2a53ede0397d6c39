package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Extension-operator semantics tests at sf0.001: approximate methods are
  * checked against their exact counterparts (minhash vs true Jaccard, LSH
  * vs brute-force cosine, batch decode vs declarative twin).
  */
class ExtSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-ext")

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"
  private def docs = Queries.table(spark, sf, "documents")
  private def emb = Queries.table(spark, sf, "embeddings")

  test("boilerplate: planted nav/footer drop per domain, unique body and rare lines survive") {
    import spark.implicits._
    val nav = "home | about | contact"
    val cookie = "accept cookies to continue"
    // siteA: 5 docs sharing nav+cookie chrome around unique bodies (one
    // with a rare promo line); siteB: 2 docs with the SAME nav text —
    // below the threshold in its own domain, so it survives there
    val d = (0L until 5L).map { i =>
      val promo = if (i == 2L) "special offer\n" else ""
      (i, "a.com", s"$nav\nbody text $i\n$promo$cookie")
    } ++ Seq(
      (10L, "b.org", s"$nav\nother body ten"),
      (11L, "b.org", s"$nav\nother body eleven"))
    val df = d.toDF("doc_id", "domain", "text")
    val report = graft.ext.Boilerplate.boilerplateReport(df, dfMin = 4).collect()
    // only a.com's nav and cookie lines reach df >= 4
    assert(report.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      Set(("a.com", nav, 5L), ("a.com", cookie, 5L)))
    val byId = graft.ext.Boilerplate.boilerplateClean(df, dfMin = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // a.com docs lose exactly nav+cookie, keep body (and doc 2's promo)
    assert(byId(0L) == ((3L, 2L, "body text 0")))
    assert(byId(2L) == ((4L, 2L, "body text 2\nspecial offer")))
    // b.org's nav repeats only twice there -> kept intact
    assert(byId(10L) == ((2L, 0L, s"$nav\nother body ten")))
  }

  test("boilerplate: all-chrome doc stays with empty clean_text") {
    import spark.implicits._
    val d = (0L until 4L).map(i => (i, "a.com", s"nav line\nbody $i")) :+
      (9L, "a.com", "nav line")
    val byId = graft.ext.Boilerplate.boilerplateClean(
        d.toDF("doc_id", "domain", "text"), dfMin = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(byId(9L) == ((1L, 1L, "")))
    assert(byId(1L) == ((2L, 1L, "body 1")))
  }

  test("logistic GD separates disjoint-vocab classes in 3 rounds") {
    import spark.implicits._
    // 4 English docs and 4 German docs with disjoint token sets: after
    // the first GD round the en-only buckets carry positive weight, so
    // every later margin has the right sign
    val d = (0L until 4L).map(i => (i, "good clean text here", "en")) ++
      (4L until 8L).map(i => (i, "schnell braun fuchs springt", "de"))
    val df = d.toDF("doc_id", "text", "lang")
    val model = TextAnalysis.lrModel(df)
    assert(model.count() == 65) // 64 buckets + bias
    val preds = TextAnalysis.lrPredict(df).collect()
    assert(preds.length == 8)
    assert(preds.forall(_.getBoolean(4)), // correct
      preds.mkString(";"))
    val (en, de) = preds.partition(_.getBoolean(3))
    assert(en.forall(_.getDouble(1) > 0.5) && de.forall(_.getDouble(1) < 0.5))
    // balanced classes, zero-overlap features: bias stays at exactly 0
    val bias = model.filter(org.apache.spark.sql.functions.col("b") === -1L)
      .collect()(0).getDouble(1)
    assert(bias == 0.0, s"bias $bias")
  }

  test("model eval: AUC/thresholds/calibration discriminate and match hand math") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // hand-built scored frame with known metrics: 3 positives at high
    // scores, 3 negatives at low, one tied pair at 0.5 (one pos, one neg)
    val scored = Seq(
      (0.9, 1), (0.8, 1), (0.7, 1), (0.5, 1),
      (0.5, 0), (0.3, 0), (0.2, 0), (0.1, 0)).toDF("s", "y")
    val auc = graft.ext.ModelEval.binaryAuc(scored).collect()(0)
    assert(auc.getLong(0) == 4 && auc.getLong(1) == 4)
    assert(auc.getLong(2) == 7) // 0.5 shared → 7 distinct scores
    // rank-sum by hand: pos at .9/.8/.7 beat all 4 negs (12 pairs), the
    // .5 positive beats 3 negs and ties 1 (3.5) → 15.5/16
    assert(auc.getDouble(3) == 0.96875)
    // perfectly separated frame → AUC exactly 1
    val sep = Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)).toDF("s", "y")
    assert(graft.ext.ModelEval.binaryAuc(sep).collect()(0).getDouble(3) == 1.0)
    // threshold sweep at 0.5 on the tied frame: >= keeps both 0.5 rows
    val sweep = graft.ext.ModelEval.thresholdSweep(scored).collect()
    assert(sweep.length == 19)
    val t5 = sweep.find(_.getDouble(0) == 0.5).get
    assert(t5.getLong(1) == 4 && t5.getLong(2) == 1 &&
      t5.getLong(3) == 0 && t5.getLong(4) == 3)
    assert(t5.getDouble(5) == 0.8 && t5.getDouble(6) == 1.0) // prec, rec
    assert(t5.getDouble(8) == 0.875) // acc
    // calibration: a perfectly calibrated bin has gap 0
    val cal = graft.ext.ModelEval.calibrationBins(
      Seq((0.75, 1), (0.75, 1), (0.75, 1), (0.75, 0)).toDF("s", "y")).collect()
    assert(cal.length == 1 && cal(0).getLong(0) == 7)
    assert(cal(0).getDouble(2) == 0.75 && cal(0).getDouble(3) == 0.75 &&
      cal(0).getDouble(4) == 0.0)
    // top-edge closure: s = 1.0 lands in the last bin, not bin 10
    val edge = graft.ext.ModelEval.calibrationBins(
      Seq((1.0, 1)).toDF("s", "y")).collect()
    assert(edge(0).getLong(0) == 9)
    // end-to-end discrimination: LR scores on the separable corpus from
    // the GD test reach AUC 1 and a 0-gap calibration read
    val d = (0L until 4L).map(i => (i, "good clean text here", "en")) ++
      (4L until 8L).map(i => (i, "schnell braun fuchs springt", "de"))
    val lrScores = TextAnalysis.lrPredict(d.toDF("doc_id", "text", "lang"))
      .select(col("p").as("s"), col("is_en").cast("int").as("y"))
    assert(graft.ext.ModelEval.binaryAuc(lrScores).collect()(0).getDouble(3) == 1.0)
  }

  test("isotonic calibration pools violators to the PAV fit and stays monotone") {
    import spark.implicits._
    // bin rates 0, 1, 0 (equal mass): PAV pools the violating (1, 0)
    // pair to 0.5 -> fitted curve [0, 0.5, 0.5]
    val scored = Seq(
      (0.01, 0), (0.01, 0), (0.30, 1), (0.30, 1), (0.51, 0), (0.51, 0))
      .toDF("s", "y")
    val out = graft.ext.ModelEval.isotonicCalibration(scored).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(0L, 6L, 10L))
    assert(out(0L) == ((0.0, 0.0)))
    assert(out(6L) == ((1.0, 0.5)))
    assert(out(10L) == ((0.0, 0.5)))
    // a monotone input is a fixed point
    val mono = Seq((0.05, 0), (0.05, 0), (0.45, 1), (0.45, 0), (0.95, 1))
      .toDF("s", "y")
    val fixed = graft.ext.ModelEval.isotonicCalibration(mono).collect()
    fixed.foreach(r => assert(r.getDouble(2) == r.getDouble(3)))
    // fitted values are always non-decreasing in the bin order
    val isoSeq = fixed.sortBy(_.getLong(0)).map(_.getDouble(3)).toSeq
    assert(isoSeq == isoSeq.sorted)
  }

  test("corpus card: counts, dup rate, shares on a hand-built corpus") {
    import spark.implicits._
    val d = Seq(
      (1L, "hello world foo", "en", "s1"),
      (2L, "hello world foo", "en", "s1"), // exact dup of 1
      (3L, "aaa bbb", "de", "s2"),
      (4L, "ccc ddd eee fff", "de", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.corpusCard(d).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 12L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L)
    assert(r.getDouble(4) == 0.25)       // 1 - 3 distinct fps / 4 docs
    assert(r.getDouble(6) == 3.0)        // median of [2,3,3,4]
    assert(r.getDouble(7) == 0.5)        // en share
    assert(r.getDouble(5) >= -1.0 && r.getDouble(5) <= 1.0)
  }

  test("whitened projection = PC / sqrt(lambda + eps) exactly; unit variance on the dominant axis") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val model = Similarity.embeddingPcaModel(emb).collect()
    val lam = model.groupBy(_.getInt(0)).map { case (c, rows) =>
      c -> rows.head.getDouble(3) }
    val proj = Similarity.embeddingPcaProject(emb).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val wz = Similarity.embeddingWhiten(emb).collect()
    assert(wz.nonEmpty)
    wz.foreach { r =>
      val (pc1, pc2) = proj(r.getLong(0))
      assert(r.getDouble(1) == r6(pc1 / math.sqrt(lam(0) + 1e-6)), s"z1 @ ${r.getLong(0)}")
      assert(r.getDouble(2) == r6(pc2 / math.sqrt(lam(1) + 1e-6)), s"z2 @ ${r.getLong(0)}")
    }
    val z1 = wz.map(_.getDouble(1))
    val mean = z1.sum / z1.length
    val sd = math.sqrt(z1.map(v => (v - mean) * (v - mean)).sum / z1.length)
    assert(math.abs(sd - 1.0) < 0.25, s"dominant-axis sd $sd should be ~1")
  }

  test("doc-level BPE encode counts: corpus totals reconcile with the compression report") {
    val enc = TextAnalysis.bpeEncodeCounts(docs)
    val rep = TextAnalysis.bpeCompression(docs).collect()(0)
    val tot = enc.agg(org.apache.spark.sql.functions.sum("n_words"),
      org.apache.spark.sql.functions.sum("n_bpe_tokens")).collect()(0)
    // per-doc counts summed over the corpus == the vocabulary-weighted
    // totals: same trained merges, two routes to the same bill
    assert(tot.getLong(0) == rep.getLong(1), "word occurrences must reconcile")
    assert(tot.getLong(1) == rep.getLong(3), "BPE token totals must reconcile")
  }

  test("fertility reconciles with the encode bill; concentration curve closes at 1") {
    import org.apache.spark.sql.functions.col
    val fert = TextAnalysis.bpeFertility(docs).collect()
    val bill = TextAnalysis.bpeEncodeCounts(docs)
      .agg(org.apache.spark.sql.functions.sum(col("n_bpe_tokens")),
        org.apache.spark.sql.functions.sum(col("n_words"))).collect()(0)
    assert(fert.map(_.getLong(3)).sum == bill.getLong(0)) // tokens reconcile
    assert(fert.map(_.getLong(2)).sum == bill.getLong(1)) // words reconcile
    assert(fert.forall(r => r.getDouble(4) >= 1.0)) // segs >= 1 per word
    val conc = TextAnalysis.corpusConcentration(docs).collect()
    assert(conc.map(_.getInt(0)).toSeq == (1 to conc.length)) // dense ranks
    // token volumes non-increasing in rank order; cumulative share closes
    // at exactly 1
    assert(conc.map(_.getLong(2)).toSeq.sliding(2).forall(s => s.head >= s.last))
    assert(conc.last.getDouble(4) == 1.0)
    assert(conc.map(_.getDouble(3)).toSeq.forall(s => s > 0 && s < 1))
  }

  test("BPE compression report: ratio > 1 and more merge rounds strictly help") {
    val r3 = TextAnalysis.bpeCompression(docs, rounds = 3).collect()(0)
    val r1 = TextAnalysis.bpeCompression(docs, rounds = 1).collect()(0)
    assert(r3.getLong(2) == r1.getLong(2)) // char_tokens independent of rounds
    assert(r3.getDouble(4) > 1.0)
    assert(r3.getLong(3) < r1.getLong(3),
      s"3 rounds should segment tighter: ${r3.getLong(3)} vs ${r1.getLong(3)}")
  }

  test("persisted LR model reproduces the self-train predict bit-for-bit") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lr-model").toString
    TextAnalysis.buildLrModel(docs, dir)
    val got = TextAnalysis.lrPredictFromModel(spark, dir, docs)
      .collect().map(_.toSeq).toSeq
    val exp = TextAnalysis.lrPredict(docs).collect().map(_.toSeq).toSeq
    assert(got == exp && got.nonEmpty)
  }

  test("best-survivor dedup keeps the cleanest cluster member, not the first") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"word$i").mkString("the cat sat on ", " ", " end")
    val d = Seq(
      (1L, base + " @@@@ %%%% #### $$$$"), // noisy near-dup, LOWER doc_id
      (2L, base),                          // clean copy
      (3L, "completely unrelated text about distributed query engines"))
      .toDF("doc_id", "text")
    val rows = Dedup.bestSurvivors(d).collect()
    assert(rows.length == 1, rows.mkString(";"))
    val r = rows(0)
    assert(r.getLong(0) == 1L)     // cluster label = min member id
    assert(r.getLong(1) == 2L)     // both members
    assert(r.getLong(2) == 2L, s"kept ${r.getLong(2)} — keep-best must beat keep-first")
  }

  test("count-min sketch: estimates never undercount; narrow sketch shows collisions") {
    val wide = TextAnalysis.countMinNgrams(docs).collect()
    assert(wide.nonEmpty && wide.forall(_.getBoolean(4)), "one-sided bound broke")
    // w=8 forces collisions: still never undercounts, but excess appears
    val narrow = TextAnalysis.countMinNgrams(docs, w = 8).collect()
    assert(narrow.forall(_.getBoolean(4)))
    assert(narrow.exists(_.getLong(3) > 0), "w=8 should collide somewhere")
  }

  test("shard assignment: stratified rank equals the naive global rank; shards balance") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val dt = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val a = TextAnalysis.shardAssign(dt, 8)
    val naive = dt.withColumn("nrank", row_number().over(
      Window.orderBy(col("n_tokens").desc, col("doc_id"))))
    val mismatches = a.join(naive, Seq("doc_id"))
      .filter(col("rank") =!= col("nrank")).count()
    assert(mismatches == 0)
    // serpentine balance: every shard within one max-doc of the ideal
    val per = a.groupBy("shard").sum("n_tokens")
      .collect().map(_.getLong(1))
    assert(per.length == 8)
    val maxDoc = dt.agg(org.apache.spark.sql.functions.max("n_tokens"))
      .collect()(0).getLong(0)
    assert(per.max - per.min <= maxDoc,
      s"spread ${per.max - per.min} vs max doc $maxDoc")
  }

  test("source similarity: identical feeds score exactly 1, disjoint feeds near 0") {
    import spark.implicits._
    // two sources with identical vocabularies, one disjoint
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "feedA"),
      (2L, "zeta epsilon delta gamma beta alpha", "en", "feedB"),
      (3L, "uno dos tres cuatro cinco seis", "es", "feedC"))
      .toDF("doc_id", "text", "lang", "source")
    val sim = Dedup.sourceSimilarity(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(sim.size == 3)
    assert(sim(("feedA", "feedB")) == 1.0) // same word SET -> same signature
    assert(sim(("feedA", "feedC")) < 0.5 && sim(("feedB", "feedC")) < 0.5)
    // real corpus: full C(n,2) matrix comes back
    val n = docs.select("source").distinct().count()
    assert(Dedup.sourceSimilarity(docs).count() == n * (n - 1) / 2)
  }

  test("minhash candidates recover every true near-dup pair (recall=1 at J>=0.8)") {
    val exact = Dedup.ngramJaccardPairs(docs, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Dedup.minhashCandidatePairs(docs)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(exact.subsetOf(approx),
      s"missed pairs: ${exact.diff(approx)}")
  }

  test("prefix-filter jaccard equals the quadratic join exactly, on fewer candidates") {
    import org.apache.spark.sql.functions.{col, count, lit, xxhash64}
    val exact = Dedup.ngramJaccardPairs(docs, 0.8).collect().map(_.toSeq)
    val pref = Dedup.prefixJaccardPairs(docs, 0.8).collect().map(_.toSeq)
    assert(exact.nonEmpty && exact.toSeq == pref.toSeq)
    // the prefix join's candidate set is a strict subset of the
    // all-shared-shingle candidate set on a corpus with common shingles
    val sh = Dedup.shingles(docs)
      .select(col("doc_id"), xxhash64(col("sh")).as("sh")).cache()
    val allShared = sh.select(col("doc_id").as("a"), col("sh"))
      .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("sh"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val prefCand = Dedup.prefixJaccardCandidates(sh, 0.8).count()
    sh.unpersist()
    assert(prefCand < allShared,
      s"prefix filtering should prune: $prefCand vs $allShared")
    // and candidates still cover every qualifying pair (the lemma, on data)
    val exactPairs = exact.map(r => (r(0), r(1))).toSet
    val candPairs = Dedup.prefixJaccardCandidates(
      Dedup.shingles(docs).select(col("doc_id"), xxhash64(col("sh")).as("sh")), 0.8)
      .collect().map(r => (r.get(0), r.get(1))).toSet
    assert(exactPairs.subsetOf(candPairs))
  }

  test("minhash estimated jaccard tracks true jaccard within 0.2") {
    val exact = Dedup.ngramJaccardPairs(docs, 0.8)
      .select("a", "b", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val approx = Dedup.minhashCandidatePairs(docs)
      .select("a", "b", "est_jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val errs = exact.collect { case (k, j) if approx.contains(k) => math.abs(j - approx(k)) }
    assert(errs.nonEmpty && errs.max <= 0.2)
  }

  test("simhash banding is EXACT at hamming<=3 and recovers most planted dups") {
    // The 4x16-bit banding guarantee (pigeonhole: d<=3 leaves >=1 band
    // unchanged) makes candidate generation EXACT for radius 3: the banded
    // operator must equal the quadratic brute-force hamming<=3 self-join.
    val sigs = Dedup.simhash64(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ida, idb)).toSet
    val banded = Dedup.simhashCandidatePairs(docs, maxHamming = 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "testdata should contain simhash-close pairs")
    assert(banded == brute,
      s"banding must be exact at d<=3; missed=${brute.diff(banded)} extra=${banded.diff(brute)}")
    // semantic floor: hamming<=3 still recovers most planted 3-gram dups
    // (a tighter radius than r1's d<=6, so the floor is 0.7, not 0.8 —
    // the scale win is n^2/65536 candidate generation instead of n^2/256)
    val trueDups = Dedup.ngramJaccardPairs(docs, 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trueDups.nonEmpty, "testdata should contain planted near-dups")
    val recall = trueDups.intersect(banded).size.toDouble / trueDups.size
    assert(recall >= 0.7, s"recall $recall; missed: ${trueDups.diff(banded)}")
  }

  test("LSH top-k cosines agree with brute force for the same (query, vec) pairs") {
    val bf = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 500)
      .select("query_id", "vec_id", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.lshTopK(emb, Seq(0L, 1L, 2L), 10, numPlanes = 4)
      .select("query_id", "vec_id", "cos").collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(bf.contains(k) && bf(k) == r.getDouble(2),
        s"LSH cosine for $k disagrees with brute force")
    }
  }

  test("IVF top-k: scores exact within probed cells, candidates only from probed cells") {
    val bf = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 500)
      .select("query_id", "vec_id", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivf = Similarity.ivfTopK(emb, Seq(0L, 1L, 2L), 10, nProbe = 2).collect()
    assert(ivf.length == 30, "10 results per query")
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    ivf.foreach { r =>
      val (q, v) = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      assert(bf((q, v)) == r.getAs[Double]("cos"), s"cosine mismatch for ($q,$v)")
      assert(labels(v) == r.getAs[Int]("cell"), "candidate outside probed cell")
    }
    // each query probes exactly nProbe distinct cells
    ivf.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("cell")).toSet.size <= 2)
    }
  }

  test("SQL surface: registered tables + native functions answer spark.sql") {
    Tables.registerAll(spark, sf)
    val top = spark.sql(
      """SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(cosine_sim(a.embedding, b.embedding), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY cos DESC, a, b LIMIT 5""".stripMargin).collect()
    assert(top.length == 5)
    val viaApi = graft.ext.Dedup.embeddingTopPairs(emb, 5).collect()
    assert(top.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      viaApi.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    assert(spark.sql("SELECT count(*) FROM events WHERE event_type = 'error'")
      .collect().head.getLong(0) > 0)
  }

  test("k-means: inertia non-increasing over Lloyd iterations; cells cover corpus") {
    val c0 = Similarity.kmeansCentroids(emb, k = 8, iters = 0)
    val c3 = Similarity.kmeansCentroids(emb, k = 8, iters = 3)
    val i0 = Similarity.kmeansInertia(emb, c0)
    val i3 = Similarity.kmeansInertia(emb, c3)
    assert(i3 <= i0, s"inertia grew: $i0 -> $i3")
    val cells = Similarity.kmeansAssign(emb, c3)
    assert(cells.count() == 500)
    assert(cells.select("cell").distinct().count() <= 8)
  }

  test("IVF over k-means cells returns exact cosines, confined to probed cells") {
    val bf = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 500)
      .select("query_id", "vec_id", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivf = Similarity.ivfTopKKmeans(emb, Seq(0L, 1L, 2L), 10, nProbe = 2, nCells = 8)
      .collect()
    assert(ivf.length == 30)
    ivf.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      assert(bf(key) == r.getAs[Double]("cos"))
    }
    ivf.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("cell")).toSet.size <= 2)
    }
  }

  test("multi-probe LSH strictly widens the candidate set and improves top-1 score") {
    val single = Similarity.lshTopK(emb, Seq(0L, 1L, 2L), 50, numPlanes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.lshTopK(emb, Seq(0L, 1L, 2L), 50, numPlanes = 6, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(multi) || multi.size > single.size,
      s"multi-probe should widen candidates: ${single.size} -> ${multi.size}")
    assert(multi.size > single.size)
    // multi-probe best cosine per query >= single-probe best
    def best(df: org.apache.spark.sql.DataFrame) =
      df.filter(org.apache.spark.sql.functions.col("rank") === 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cos")).toMap
    val b1 = best(Similarity.lshTopK(emb, Seq(0L, 1L, 2L), 10, numPlanes = 6))
    val b4 = best(Similarity.lshTopK(emb, Seq(0L, 1L, 2L), 10, numPlanes = 6, nProbes = 4))
    b1.foreach { case (q, c) => assert(b4(q) >= c) }
  }

  test("multi-probe multi-table LSH reaches recall@10 >= 0.7 vs brute force") {
    // tuned config: 6 planes (64 buckets), 8 confidence-ordered probes per
    // table (12.5% of buckets), 4 independent tables. Deterministic seeds +
    // deterministic testdata => measured recall 0.79 is reproducible; the
    // floor leaves margin. Single-table single-probe recall here is 0.07 —
    // the probes/tables levers do the work, and both keep sublinear touch.
    val qids = (0L until 10L).toSeq
    val bf = Similarity.bruteForceTopK(emb, qids, 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.lshTopK(emb, qids, 10,
        numPlanes = 6, nProbes = 8, numTables = 4)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.intersect(got).size.toDouble / bf.size
    assert(recall >= 0.7, s"recall@10 $recall < 0.7")
  }

  test("sequence packing is invariant to the bucket count (distributed ≡ serial prefix sum)") {
    import graft.ext.TextAnalysis
    def pack(buckets: Int) = TextAnalysis.packSequences(docs, 512, buckets)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val serial = pack(1) // one bucket = a plain serial cumsum
    assert(serial == pack(7) && serial == pack(32),
      "bucketed prefix sum must equal the serial assignment")
    // structural sanity: offsets stay inside the sequence length
    assert(TextAnalysis.packSequences(docs, 512).collect()
      .forall(r => r.getLong(3) >= 0 && r.getLong(3) < 512))
  }

  test("bloom-prefiltered decontamination equals the exact semi-join form") {
    import org.apache.spark.sql.functions.col
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val probe = docs.filter(col("doc_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = rows(Dedup.contamination(corpus, probe, 3, 5))
    val bloomed = rows(Dedup.contaminationBloom(corpus, probe, 3, 5))
    assert(exact.nonEmpty, "testdata should contain contaminated docs")
    assert(bloomed == exact)
    // the prefilter plan probes inside the scan: no join before the filter
    val plan = Dedup.contaminationBloom(corpus, probe, 3, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloommightcontain") || plan.contains("BloomMightContain"),
      plan.take(1200))
  }

  test("bitext mining: planted cross-lingual twin flags at cos 1; same-language twins never do") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two identical vectors across languages (the planted translation),
    // two identical vectors within one language (must be inverted away),
    // plus an unrelated vector
    val v1 = Array.fill(64)(0.5f); val v2 = Array.tabulate(64)(i => if (i % 2 == 0) 0.9f else -0.4f)
    val e = Seq((0L, v1), (1L, v1), (2L, v2), (3L, v2), (4L, Array.tabulate(64)(i => (i - 32) / 32.0f)))
      .toDF("vec_id", "embedding")
    val d = Seq((0L, "hello world", "en"), (1L, "hallo welt", "de"),
      (2L, "same lang a", "en"), (3L, "same lang b", "en"),
      (4L, "loner", "fr")).toDF("doc_id", "text", "lang")
    val out = Dedup.bitextPairs(e, d, 0.9).collect()
    assert(out.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L &&
      r.getDouble(4) == 1.0 && r.getString(2) == "en" && r.getString(3) == "de"))
    assert(!out.exists(r => r.getLong(0) == 2L && r.getLong(1) == 3L),
      "same-language twins must be inverted away")
    // real corpus: every emitted pair is cross-language at or above gate
    val real = Dedup.bitextPairs(emb, docs).collect()
    assert(real.nonEmpty)
    assert(real.forall(r => r.getString(2) != r.getString(3) && r.getDouble(4) >= 0.4))
  }

  test("k-core peel: planted clique survives, pendant chain dies, verdict splits") {
    import spark.implicits._
    // 6 identical vectors (mutual clique, degree >= 5 among themselves)
    // + 12 spread singletons whose kNN attachments are thin
    val rnd = new java.util.Random(11)
    val clique = (0L until 6L).map(i => (i, Array.fill(64)(0.6f)))
    val rest = (10L until 22L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val e = (clique ++ rest).toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.embeddingKCore(e, k = 4, coreK = 4, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    (0L until 6L).foreach(i => assert(out(i), s"clique member $i peeled"))
    assert(out.exists(!_._2), "some periphery node should peel")
  }

  test("triangles: planted clique closes; handshake invariant; coeff bounded") {
    import spark.implicits._
    // 4 identical vectors form a mutual-kNN clique; 20 spread-out others
    val rnd = new java.util.Random(7)
    val clique = (0L until 4L).map(i => (i, Array.fill(64)(0.7f)))
    val rest = (10L until 30L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val e = (clique ++ rest).toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.embeddingTriangles(e).collect()
    val byId = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // each clique member pairs with the other 3 at cos 1 -> the 3 wedges
    // among them all close
    (0L until 4L).foreach { i =>
      assert(byId(i)._2 >= 3, s"clique member $i: ${byId(i)}")
      assert(byId(i)._3 >= 0.5)
    }
    // handshake: per-node triangle credits sum to 3x the distinct count,
    // which the per-pivot counting guarantees structurally iff every
    // triangle landed exactly once per corner; coeff always in [0, 1]
    assert(out.map(_.getLong(2)).sum % 3 == 0)
    assert(out.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("semantic contamination: exact copies always flag; no false positives vs brute force") {
    import org.apache.spark.sql.functions.col
    val e = emb
    val bench = e.filter(col("vec_id") % 23 === 0)
    val corpus = e.filter(col("vec_id") % 23 =!= 0)
    val flagged = Dedup.semanticContamination(corpus, bench).collect()
    // a planted exact copy of a benchmark vector collides in EVERY LSH
    // table (identical signs), so it must flag with cos 1.0
    val copy = bench.limit(1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val benchId = bench.limit(1).collect()(0).getLong(0)
    val planted = Dedup.semanticContamination(
      corpus.select(col("vec_id"), col("embedding")).unionByName(copy), bench)
      .collect().filter(_.getLong(0) >= 1000000L)
    assert(planted.length == 1)
    assert(planted(0).getLong(2) == benchId && planted(0).getDouble(3) == 1.0)
    // verification makes the op precise: every flagged (vec, best) pair
    // really is >= threshold under the exact cross-set cosine
    val truth = corpus.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(bench.select(col("vec_id").as("b"), col("embedding").as("eb")))
      .select(col("a"), col("b"),
        org.apache.spark.sql.functions.round(
          graft.ext.Similarity.cosine(col("ea"), col("eb")), 6).as("cos"))
      .filter(col("cos") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(flagged.nonEmpty)
    flagged.foreach { r =>
      assert(truth.get((r.getLong(0), r.getLong(2))).contains(r.getDouble(3)))
    }
  }

  test("KMV overlap: min-k dedups and bounds; disjoint windows estimate 0; small sets exact") {
    import spark.implicits._
    // aggregator semantics: duplicates collapse, buffer stays sorted <= k
    val agg = new graft.ext.SetSketch.MinKAggregator(4)
    val r = Seq(9L, 3L, 9L, 1L, 7L, 5L, 3L, 2L).foldLeft(agg.zero)(agg.reduce)
    assert(r == Seq(1L, 2L, 3L, 5L))
    assert(agg.merge(Seq(1L, 4L, 8L), Seq(1L, 2L, 9L)) == Seq(1L, 2L, 4L, 8L))
    // disjoint user populations in disjoint windows -> zero overlap, and
    // under-k sets come back EXACT
    def ts(day: Int, u: Long) =
      (u, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"))
    val ev = ((1L to 10L).map(u => ts(2, u)) ++ (11L to 25L).map(u => ts(9, u)))
      .toDF("user_id", "ts")
    val row = graft.ext.SetSketch.userOverlap(ev,
      "2024-01-01", "2024-01-08", "2024-01-08", "2024-01-15").collect()(0)
    assert(row.getLong(5) == 10 && row.getLong(6) == 15) // exact_a, exact_b
    assert(row.getLong(7) == 0 && row.getDouble(4) == 0.0) // overlap, est
    assert(row.getLong(0) == 25 && row.getDouble(3) == 25.0) // union exact under k
    // overlapping populations: est_inter tracks the true overlap
    val ev2 = ((1L to 40L).map(u => ts(2, u)) ++ (21L to 60L).map(u => ts(9, u)))
      .toDF("user_id", "ts")
    val row2 = graft.ext.SetSketch.userOverlap(ev2,
      "2024-01-01", "2024-01-08", "2024-01-08", "2024-01-15").collect()(0)
    assert(row2.getLong(7) == 20 && row2.getDouble(4) == 20.0) // 60 distinct < k=64: exact
  }

  test("bloom_might_contain has no false negatives and passes nulls through") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val planted = (0L until 500L).toDF("v")
    val bloom = planted.stat.bloomFilter("v", 500, 0.01)
    val bytes = lit(graft.functions.BloomFunctions.serialize(bloom))
    val hits = (0L until 2000L).map(Option(_)).:+(None: Option[Long]).toDF("v")
      .filter(graft.functions.BloomFunctions.mightContainLong(col("v"), bytes))
      .collect().map(_.getLong(0)).toSet
    assert((0L until 500L).toSet.subsetOf(hits), "bloom filters must never miss a member")
    assert(hits.size < 700, s"fpp blew past 1%: ${hits.size - 500} false positives")
  }

  test("expectations audits row and aggregate rules in one pass, nulls count as violations") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, countDistinct, length, lit}
    val fixture = Seq[(java.lang.Long, String, String)](
      (1L, "hello world", "en"),
      (2L, "", "en"),       // empty text
      (2L, "dup id", "de"), // duplicate doc_id
      (null, "no id", "xx") // null id (not-null viol) + out-of-domain lang
    ).toDF("doc_id", "text", "lang")
    val report = graft.operators.DataQuality.expectations(
      fixture,
      rowRules = Seq(
        "doc_id_not_null" -> col("doc_id").isNotNull,
        "lang_in_domain" -> col("lang").isin("de", "en"),
        "text_nonempty" -> (length(col("text")) > 0)),
      aggRules = Seq(
        "doc_id_unique" -> (count(lit(1)) - countDistinct(col("doc_id")))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(report.toSeq == Seq(
      ("doc_id_not_null", 1L, 4L, false),
      ("doc_id_unique", 2L, 4L, false), // 4 rows, 2 distinct non-null ids
      ("lang_in_domain", 1L, 4L, false),
      ("text_nonempty", 1L, 4L, false)))
    // a clean table passes everything
    val clean = graft.operators.DataQuality.expectations(
      Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text"),
      rowRules = Seq("doc_id_not_null" -> col("doc_id").isNotNull),
      aggRules = Seq("doc_id_unique" -> (count(lit(1)) - countDistinct(col("doc_id")))))
      .collect().map(r => (r.getString(0), r.getBoolean(3)))
    assert(clean.forall(_._2))
    // an EMPTY feed reports 0 violations / pass=true (n_rows = 0 is the
    // emptiness signal), never null-poisoned sums
    val empty = graft.operators.DataQuality.expectations(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      rowRules = Seq("doc_id_not_null" -> col("doc_id").isNotNull),
      aggRules = Seq("doc_id_unique" -> (count(lit(1)) - countDistinct(col("doc_id")))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(empty.toSeq == Seq(
      ("doc_id_not_null", 0L, 0L, true), ("doc_id_unique", 0L, 0L, true)))
  }

  test("scd2History: runs collapse, re-entries reopen, half-open intervals chain") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // user 1: A,A,B,A — the repeat collapses, the re-entry is a NEW run;
    // user 2: one observation stays open
    val changes = Seq(
      (1L, "A", t(1), 10L), (1L, "A", t(2), 11L),
      (1L, "B", t(3), 12L), (1L, "A", t(4), 13L),
      (2L, "X", t(5), 14L)).toDF("user_id", "event_type", "ts", "event_id")
    val h = graft.operators.DataQuality
      .scd2History(changes, "user_id", "event_type", "ts", "event_id").collect()
    assert(h.length == 4)
    val u1 = h.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    assert(u1.map(_.getString(2)).toSeq == Seq("A", "B", "A"))
    // intervals chain: each closed row's valid_to is the next valid_from
    assert(u1(0).getString(4) == u1(1).getString(3))
    assert(u1(1).getString(4) == u1(2).getString(3))
    // only the last run per key is current, with the open sentinel
    assert(u1.map(_.getBoolean(5)).toSeq == Seq(false, false, true))
    assert(u1(2).getString(4) == "9999-12-31 00:00:00.000000")
    val u2 = h.filter(_.getLong(0) == 2L)
    assert(u2.length == 1 && u2(0).getBoolean(5))
    // same-instant observations order deterministically by the tiebreak
    val tie = Seq((3L, "P", t(1), 21L), (3L, "Q", t(1), 20L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val ht = graft.operators.DataQuality
      .scd2History(tie, "user_id", "event_type", "ts", "event_id").collect()
    assert(ht.map(_.getString(2)).toSeq == Seq("Q", "P"))
    // point-in-time lookup: probes at the change instant read the NEW
    // value (half-open), between changes the standing value, and a
    // same-instant pair resolves to the later observation
    val facts = Seq((100L, 1L, t(3)), (101L, 1L, t(2)), (102L, 3L, t(1)))
      .toDF("fact_id", "user_id", "fts")
    val lk = graft.operators.DataQuality
      .scd2Lookup(facts, changes.unionByName(tie), "user_id", "event_type",
        "fts", "ts", "event_id")
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(lk(100L) == "B") // at the A->B change instant: B
    assert(lk(101L) == "A") // standing value between changes
    assert(lk(102L) == "P") // same-instant runs: the later observation
  }

  test("snapshotDiff classifies added/removed/changed by content, drops unchanged") {
    import spark.implicits._
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "b"), (3L, "C2"), (4L, "d")).toDF("doc_id", "text")
    val diff = graft.operators.DataQuality.snapshotDiff(oldSnap, newSnap)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(diff.toSeq == Seq((1L, "removed"), (3L, "changed"), (4L, "added")))
    // identical snapshots: empty report
    assert(graft.operators.DataQuality.snapshotDiff(oldSnap, oldSnap).count() == 0)
  }

  test("profile reports nulls/distinct/min/max per column in one aggregation") {
    import spark.implicits._
    val t = Seq[(java.lang.Long, String)]((3L, "b"), (1L, "a"), (null, "a"))
      .toDF("id", "s")
    val rows = graft.operators.DataQuality.profile(t, Seq("id", "s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))
    assert(rows.toSeq == Seq(
      ("id", 3L, 1L, 2L, "1", "3"),
      ("s", 3L, 0L, 2L, "a", "b")))
    // ONE aggregation over ONE scan: exactly one Aggregate leaf pair and
    // one FileScan/LocalTableScan in the plan (the Expand multiplies rows,
    // not scans)
    val plan = graft.operators.DataQuality.profile(t, Seq("id", "s"))
      .queryExecution.optimizedPlan.toString
    assert(plan.split("LocalRelation|Relation").length <= 3, plan)
  }

  test("embeddingDriftPsi: identical snapshots drift 0, shifted snapshot flags dims") {
    import spark.implicits._
    val base = (0L until 100L).map { i =>
      (i, Array.tabulate(4)(d => ((i + d) % 10).toFloat / 10f - 0.5f))
    }.toDF("vec_id", "embedding")
    val zero = graft.ext.Similarity.embeddingDriftPsi(base, base).collect()
    assert(zero.length == 4 && zero.forall(r => math.abs(r.getDouble(1)) < 1e-9))
    // shift dimension 2 hard right; other dims keep their distribution
    val shifted = base.select($"vec_id",
      org.apache.spark.sql.functions.expr(
        "transform(embedding, (v, d) -> CASE WHEN d = 2 THEN v + float(0.8) ELSE v END)")
        .as("embedding"))
    val drift = graft.ext.Similarity.embeddingDriftPsi(base, shifted)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(drift(2) > 0.2, s"shifted dim should alarm: ${drift(2)}")
    assert(Seq(0, 1, 3).forall(d => drift(d) < 0.05),
      s"unshifted dims should stay quiet: $drift")
  }

  test("bigram perplexity matches a hand-computed LM on a tiny fixture") {
    import spark.implicits._
    val fixture = Seq((1L, "a b a b"), (2L, "z z"), (3L, "q")).toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.bigramPerplexity(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // corpus LM: c2 = {ab:2, ba:1, zz:1}; ctx = {a:2, b:1, z:1}; V = 4
    def p(n2: Long, n1: Long) = (n2 + 0.5) / (n1 + 0.5 * 4)
    val h1 = -(math.log(p(2, 2)) + math.log(p(1, 1)) + math.log(p(2, 2))) / 3
    val h2 = -math.log(p(1, 1))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 3 has no bigrams and drops out (single-token docs carry no signal)
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(out(0) == ((1L, 3L, r4(h1), r4(math.exp(h1)))))
    assert(out(1) == ((2L, 1L, r4(h2), r4(math.exp(h2)))))
  }

  test("segment dedup strips boilerplate lines, keeps order, drops emptied docs") {
    import spark.implicits._
    val boiler = "accept our cookies to continue"
    val fixture = Seq(
      (1L, s"unique opening line\n$boiler\nunique closing line"),
      (2L, s"$boiler\nsecond doc body"),
      (3L, s"third doc body\n$boiler"),
      (4L, boiler), // nothing but boilerplate -> dropped entirely
      (5L, s"alpha\nbeta\nalpha") // within-doc repeat is NOT corpus boilerplate
    ).toDF("doc_id", "text")
    // boiler df=4/5 > 0.5; every other line df=1
    val out = graft.ext.TextAnalysis.dedupSegments(fixture, maxDfFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, "unique opening line\nunique closing line", 2L),
      (2L, "second doc body", 1L),
      (3L, "third doc body", 1L),
      (5L, "alpha\nbeta\nalpha", 3L)))
  }

  test("persisted IVF index equals the in-memory path and prunes cell partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    Similarity.buildIvfIndex(emb, dir, nCells = 8)
    spark.catalog.clearCache()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSeq
    val fromIndex = Similarity.ivfTopKFromIndex(spark, dir, Seq(0L, 1L, 2L), 10, nProbe = 2)
    val direct = Similarity.ivfTopKKmeans(emb, Seq(0L, 1L, 2L), 10, nProbe = 2, nCells = 8)
    assert(rows(fromIndex) == rows(direct),
      "index round-trip must not change results")
    // the probed scan must read only the probed cells' directories
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      plan.take(1500))
    spark.catalog.clearCache()
  }

  test("hard negatives stay inside the band and rank like the banded brute force") {
    import org.apache.spark.sql.functions.col
    val hn = Similarity.hardNegatives(emb, Seq(0L, 1L, 2L), 10,
      floor = 0.15, ceiling = 0.30).collect()
    assert(hn.nonEmpty)
    assert(hn.forall { r =>
      val c = r.getAs[Double]("cos"); c >= 0.15 && c < 0.30 })
    // positives/near-dups above the ceiling are excluded even though they
    // outrank everything in the plain top-k
    val plain = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 10).collect()
    val excluded = plain.filter(_.getAs[Double]("cos") >= 0.30)
    assert(excluded.nonEmpty, "fixture should have near-positives above the ceiling")
    val hnSet = hn.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(excluded.forall(r => !hnSet.contains((r.getLong(0), r.getLong(1)))))
    spark.catalog.clearCache()
  }

  test("index-served hard negatives: band containment; equals brute force when exhaustive") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-hn-idx").toString
    Similarity.buildPqIndex(emb, dir, m = 8, ks = 16, iters = 2)
    spark.catalog.clearCache()
    // production settings: every emitted pair sits inside the exact band
    val served = Similarity.hardNegativesFromIndex(spark, dir, Seq(0L, 1L, 2L), 10,
      floor = 0.15, ceiling = 0.30, shortlist = 200).collect()
    assert(served.nonEmpty)
    assert(served.forall { r =>
      val c = r.getAs[Double]("cos"); c >= 0.15 && c < 0.30 })
    // exhaustive settings (no ADC floor, corpus-sized shortlist): the
    // nomination covers every candidate, so the band + top-k logic must
    // reproduce the banded brute force EXACTLY — recall is the only
    // thing approximation is allowed to cost
    val n = emb.count().toInt
    val exhaustive = Similarity.hardNegativesFromIndex(spark, dir, Seq(0L, 1L, 2L), 10,
        floor = 0.15, ceiling = 0.30, shortlist = n, margin = 2.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSet
    val brute = Similarity.hardNegatives(emb, Seq(0L, 1L, 2L), 10,
        floor = 0.15, ceiling = 0.30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSet
    assert(exhaustive == brute,
      s"missed=${brute.diff(exhaustive).take(5)} extra=${exhaustive.diff(brute).take(5)}")
    spark.catalog.clearCache()
  }

  test("int8 index serving: exhaustive shortlist equals brute force; rebuild versions advance") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-int8").toString
    Similarity.buildInt8Index(emb, dir)
    spark.catalog.clearCache()
    // exact re-rank over a corpus-sized shortlist makes the quantization
    // ordering irrelevant: the served top-k must equal brute force
    val n = emb.count().toInt
    val served = Similarity.int8TopKFromIndex(spark, dir, Seq(0L, 1L, 2L), 10, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val brute = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 10)
      .select("query_id", "vec_id", "cos", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(served == brute,
      s"missed=${brute.diff(served).take(5)} extra=${served.diff(brute).take(5)}")
    // production shortlist: int8 cosine error is tiny (~1/254 per dim),
    // so rank 1 for a query's nearest neighbor survives quantization
    val top = Similarity.int8TopKFromIndex(spark, dir, Seq(0L), 10, shortlist = 50)
      .filter(col("rank") === 1).collect()(0)
    val bfTop = Similarity.bruteForceTopK(emb, Seq(0L), 1).collect()(0)
    assert(top.getLong(1) == bfTop.getLong(1), "rank-1 neighbor must survive quantization")
    // append lifecycle: a planted near-copy of query 0 lands in its own
    // batch and immediately serves as rank 1
    import spark.implicits._
    val q0 = emb.filter(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    Similarity.appendToInt8Index(spark, dir,
      Seq((700001L, q0.map(_ + 1e-6f))).toDF("vec_id", "embedding"))
    spark.catalog.clearCache()
    val afterAppend = Similarity.int8TopKFromIndex(spark, dir, Seq(0L), 10, shortlist = 50)
      .filter(col("rank") === 1).collect()(0).getLong(1)
    assert(afterAppend == 700001L, s"appended near-copy should rank 1, got $afterAppend")
    // compaction folds batches into one base under a NEW version and the
    // appended vector keeps serving
    Similarity.compactInt8Index(spark, dir)
    spark.catalog.clearCache()
    val root2 = graft.ext.IndexStore.resolve(spark, dir)
    val batches = new java.io.File(s"$root2/codes").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(batches == Set("batch=-1"), s"compaction should fold to one base: $batches")
    val afterCompact = Similarity.int8TopKFromIndex(spark, dir, Seq(0L), 10, shortlist = 50)
      .filter(col("rank") === 1).collect()(0).getLong(1)
    assert(afterCompact == 700001L)
    // rebuild lands as a new version, stale root swept
    val root1 = graft.ext.IndexStore.resolve(spark, dir)
    Similarity.buildInt8Index(emb, dir)
    val root3 = graft.ext.IndexStore.resolve(spark, dir)
    def ver(r: String) = r.split("/v_").last.toLong
    assert(ver(root3) == ver(root1) + 1 && !new java.io.File(root1).exists())
    spark.catalog.clearCache()
  }

  test("bounded top-k Aggregator equals the window formulation exactly") {
    val window = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 10)
      .select("query_id", "vec_id", "cos", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val agg = Similarity.bruteForceTopKAgg(emb, Seq(0L, 1L, 2L), 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(agg == window, s"diff: ${agg.diff(window)} / ${window.diff(agg)}")
  }

  test("approx percentiles track the exact percentiles within the gate band") {
    // the registered query now EMBEDS the error bound: exact percentiles
    // plus p50_ok/p90_ok flags (|approx − exact| ≤ 0.5 %·exact) that the
    // DuckDB oracle pins to `true`
    val rows = Queries.aggApproxPercentiles(spark, sf).collect()
    val exact = Queries.aggPercentiles(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(rows.map(_.getString(0)).toSet == exact.keySet)
    rows.foreach { r =>
      val flag = r.getString(0)
      assert(r.getAs[Boolean]("p50_ok"), s"$flag p50 outside 0.5% of exact")
      assert(r.getAs[Boolean]("p90_ok"), s"$flag p90 outside 0.5% of exact")
      // the emitted exact side must be the agg_percentiles values
      assert(r.getAs[Double]("p50_exact") == exact(flag)._1)
      assert(r.getAs[Double]("p90_exact") == exact(flag)._2)
    }
  }

  test("native portable_hash64 is bit-identical to the conv/substring/md5 chain") {
    import graft.ext.TextAnalysis
    import org.apache.spark.sql.functions.col
    // every token of every document, plus edge strings
    val diff = docs
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), "\\s+")).as("s"))
      .union(spark.createDataset(Seq("", "a", "é✓中", " "))(
        org.apache.spark.sql.Encoders.STRING).toDF("s"))
      .select(TextAnalysis.portableHash64(col("s")).as("native"),
        TextAnalysis.portableHash64Composed(col("s")).as("composed"))
      .filter(col("native") =!= col("composed"))
      .count()
    assert(diff == 0)
  }

  test("mixDomains hits the target proportions and maximizes the corpus") {
    import graft.ext.TextAnalysis
    val targets = Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.125, "fr" -> 0.125)
    val out = TextAnalysis.mixDomains(docs, targets, "lang")
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = docs.filter(org.apache.spark.sql.functions.col("lang")
        .isin(targets.keys.toSeq: _*))
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // untargeted domains are dropped entirely
    assert(out.keySet.subsetOf(targets.keySet))
    // the binding domain is kept (nearly) whole — N was maximized
    val n = targets.keys.map(d => math.floor(avail(d) / targets(d)).toLong).min
    targets.foreach { case (d, w) =>
      val need = math.round(w * n).toDouble
      // hash bucketing is exact in expectation; 20% slack on small strata
      assert(math.abs(out.getOrElse(d, 0L) - need) <= math.max(3.0, 0.2 * need),
        s"$d: got ${out.getOrElse(d, 0L)}, wanted ~$need of ${avail(d)}")
    }
    // membership is layout-independent (same docs on a different partitioning)
    val a = TextAnalysis.mixDomains(docs, targets, "lang")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextAnalysis.mixDomains(docs.repartition(7), targets, "lang")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("funnel stages are monotone and match a per-user replay") {
    import org.apache.spark.sql.functions._
    val ev = Queries.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val steps = Seq("signup", "click", "purchase")
    val counts = graft.analytics.Funnel.funnelCounts(ev, steps)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(counts(1) >= counts(2) && counts(2) >= counts(3), s"$counts")
    // driver-side replay over raw events (small SF only)
    val byUser = ev.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    val replay = byUser.values.map { evs =>
      var t = Long.MinValue
      var depth = 0
      var going = true
      steps.foreach { s =>
        if (going) {
          val nxt = evs.filter(e => e._2 == s && e._3 > t).map(_._3)
          if (nxt.nonEmpty && (depth > 0 || t == Long.MinValue)) {
            t = nxt.min; depth += 1
          } else going = false
        }
      }
      depth
    }.toSeq
    (1 to 3).foreach { d =>
      assert(counts(d) == replay.count(_ >= d).toLong, s"step $d")
    }
    // funnelTimes: strictly increasing per completing user
    val times = graft.analytics.Funnel.funnelTimes(ev, steps).collect()
    assert(times.length == counts(3))
    times.foreach { r =>
      assert(r.getLong(1) < r.getLong(2) && r.getLong(2) < r.getLong(3)) }
    // single-pass (production path) ≡ stage chain, counts AND times
    val spCounts = graft.analytics.Funnel.funnelCountsSinglePass(ev, steps)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val scCounts = graft.analytics.Funnel.funnelCounts(ev, steps)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(spCounts == scCounts)
    val spTimes = graft.analytics.Funnel.funnelTimesSinglePass(ev, steps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spTimes == times.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
    // a step no user reaches still reports 0 in the single-pass form
    val none = graft.analytics.Funnel.funnelCountsSinglePass(
      ev, Seq("signup", "no_such_event"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(none(2) == 0L && none(1) == counts(1))
  }

  test("deterministic split: stable under repartitioning, proportions near 80/10/10") {
    import graft.ext.TextAnalysis
    def splitMap(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.deterministicSplit(df).select("doc_id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1 = splitMap(docs)
    val s2 = splitMap(docs.repartition(13)) // membership must not depend on layout
    assert(s1 == s2)
    val n = s1.size.toDouble
    val train = s1.values.count(_ == "train") / n
    val test = s1.values.count(_ == "test") / n
    assert(train > 0.7 && train < 0.9, s"train fraction $train")
    assert(test > 0.03 && test < 0.2, s"test fraction $test")
  }

  test("LSH buckets partition the corpus (every vector bucketed, bucket in range)") {
    val b = Similarity.lshBuckets(emb, numPlanes = 4).select("vec_id", "bucket").collect()
    assert(b.length == 500)
    assert(b.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 16))
  }

  test("multimodal batch decode (mapPartitions) equals the declarative twin") {
    val media = Multimodal.mediaTable(docs)
    val batch = Multimodal.extractFeatures(spark, media).collect()
      .map(f => (f.doc_id, f.byte_len, f.width, f.height, f.n_frames, f.checksum)).sortBy(_._1)
    val decl = Multimodal.featuresExpr(media).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("byte_len"), r.getAs[Int]("width"),
        r.getAs[Int]("height"), r.getAs[Int]("n_frames"), r.getAs[String]("checksum"))).sortBy(_._1)
    assert(batch.length == 500)
    assert(batch.toSeq == decl.toSeq)
  }

  test("audio probe equals the declarative twin on opaque payloads") {
    val media = Multimodal.mediaTable(docs)
    val batch = Multimodal.extractAudioFeatures(spark, media).collect()
      .map(f => (f.doc_id, f.byte_len, f.sample_rate, f.channels,
        f.bits_per_sample, f.n_samples, f.duration_ms, f.checksum)).sortBy(_._1)
    val decl = Multimodal.audioFeaturesExpr(media).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("byte_len"),
        r.getAs[Int]("sample_rate"), r.getAs[Int]("channels"),
        r.getAs[Int]("bits_per_sample"), r.getAs[Long]("n_samples"),
        r.getAs[Long]("duration_ms"), r.getAs[String]("checksum"))).sortBy(_._1)
    assert(batch.length == 500)
    assert(batch.toSeq == decl.toSeq)
  }

  test("audio windowing slices PCM on frame boundaries and round-trips losslessly") {
    import spark.implicits._
    // 8 kHz mono 16-bit ramp, 100 samples; 5 ms windows = 40 samples each
    val pcm = Array.tabulate(200)(i => (i % 256 - 128).toByte)
    val mono = Multimodal.wavBytes(8000, 1, 16, pcm)
    // 16 kHz STEREO: 30 frames (120 bytes); 1 ms windows = 16 frames
    val pcm2 = Array.tabulate(120)(i => (i * 3 % 251).toByte)
    val stereo = Multimodal.wavBytes(16000, 2, 16, pcm2)
    val media = Seq((1L, mono), (2L, stereo)).toDF("doc_id", "payload")
      .withColumn("media_type", org.apache.spark.sql.functions.lit("audio/wav"))
    val winsMono = Multimodal.windowAudio(spark, media.filter($"doc_id" === 1L), 5)
      .collect().sortBy(_.window_idx)
    assert(winsMono.map(_.n_samples).toSeq == Seq(40L, 40L, 20L))
    // every window is itself a valid standalone WAV with the source format
    winsMono.foreach { w =>
      val Some((rate, ch, bits, n, _, _, _)) = Multimodal.wavMeta(w.payload)
      assert((rate, ch, bits, n) == (8000, 1, 16, w.n_samples))
    }
    // lossless: concatenated window PCM == the source data chunk
    val rejoined = winsMono.flatMap(_.payload.drop(44)).toSeq
    assert(rejoined == pcm.toSeq)
    val winsStereo = Multimodal.windowAudio(spark, media.filter($"doc_id" === 2L), 1)
      .collect().sortBy(_.window_idx)
    assert(winsStereo.map(_.n_samples).toSeq == Seq(16L, 14L))
    assert(winsStereo.flatMap(_.payload.drop(44)).toSeq == pcm2.toSeq)
  }

  test("wav probe survives extra chunks, truncation, and rejects non-PCM") {
    // a LIST metadata chunk between fmt and data must not derail the walk
    val pcm = Array.tabulate(80)(_.toByte)
    val base = Multimodal.wavBytes(8000, 1, 16, pcm)
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](6, 0, 0, 0) ++ "INFOab".getBytes("US-ASCII")
    val withMeta = base.take(36) ++ listChunk ++ base.drop(36)
    // patch the RIFF size (not strictly checked, but keep it honest)
    val Some((rate, ch, bits, n, _, _, _)) = Multimodal.wavMeta(withMeta)
    assert((rate, ch, bits, n) == (8000, 1, 16, 40L))
    // a mid-chunk truncation clamps the sample count instead of throwing
    val truncated = base.take(base.length - 20)
    assert(Multimodal.wavMeta(truncated).map(_._4).contains(30L))
    // format tag 3 (IEEE float) at 16 bits is an invalid container —
    // float is only defined at 32/64 — so it falls to the opaque path
    val floatWav = base.clone()
    floatWav(20) = 3
    assert(Multimodal.wavMeta(floatWav).isEmpty)
    // a crafted chunk size with the high bit set (0xFFFFFFF8 = -8 as an
    // Int) must TERMINATE and reject, not hang the walk
    val hostile = base.clone()
    hostile(16) = 0xF8.toByte; hostile(17) = 0xFF.toByte
    hostile(18) = 0xFF.toByte; hostile(19) = 0xFF.toByte
    assert(Multimodal.wavMeta(hostile).isEmpty)
  }

  test("float32 and 24-bit PCM WAVs parse, window on frame boundaries, and round-trip") {
    import spark.implicits._
    // float32 (tag 3): 4 bytes/frame, non-PCM header is 58 bytes
    // (fmt 18 + fact); 6 kHz mono, 30 frames; 2 ms windows = 12 frames
    val f32 = Array.tabulate(120)(i => (i * 11 % 253).toByte)
    val floatWav = Multimodal.wavBytes(6000, 1, 32, f32, fmtTag = 3)
    val Some((fr, fc, fb, fn, fOff, fLen, fTag)) = Multimodal.wavMeta(floatWav)
    assert((fr, fc, fb, fn, fTag) == (6000, 1, 32, 30L, 3))
    assert(fOff == 58 && fLen == 120)
    // 24-bit integer PCM: 3 bytes/frame, classic 44-byte header;
    // 8 kHz mono, 40 frames; 3 ms windows = 24 frames
    val p24 = Array.tabulate(120)(i => (i * 7 % 249).toByte)
    val pcm24Wav = Multimodal.wavBytes(8000, 1, 24, p24)
    val Some((pr, pc, pb, pn, pOff, _, pTag)) = Multimodal.wavMeta(pcm24Wav)
    assert((pr, pc, pb, pn, pTag) == (8000, 1, 24, 40L, 1))
    assert(pOff == 44)
    val media = Seq((1L, floatWav), (2L, pcm24Wav)).toDF("doc_id", "payload")
      .withColumn("media_type", org.apache.spark.sql.functions.lit("audio/wav"))
    val fWins = Multimodal.windowAudio(spark, media.filter($"doc_id" === 1L), 2)
      .collect().sortBy(_.window_idx)
    assert(fWins.map(_.n_samples).toSeq == Seq(12L, 12L, 6L))
    // each float window re-wraps with the non-PCM header and REMAINS a
    // parseable tag-3 WAV; concatenated payloads reproduce the source
    fWins.foreach { w =>
      val Some((r2, _, b2, n2, o2, _, t2)) = Multimodal.wavMeta(w.payload)
      assert((r2, b2, n2, o2, t2) == (6000, 32, w.n_samples, 58, 3))
    }
    assert(fWins.flatMap(_.payload.drop(58)).toSeq == f32.toSeq)
    val pWins = Multimodal.windowAudio(spark, media.filter($"doc_id" === 2L), 3)
      .collect().sortBy(_.window_idx)
    assert(pWins.map(_.n_samples).toSeq == Seq(24L, 16L))
    assert(pWins.flatMap(_.payload.drop(44)).toSeq == p24.toSeq)
  }

  test("token-budget selection: best-first prefix, budget respected, equals one global window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
    val sel = graft.ext.TextAnalysis.selectByTokenBudget(docs, 5000L).collect()
    assert(sel.nonEmpty)
    // the budget is a hard ceiling on the running total
    assert(sel.map(_.getLong(3)).max <= 5000L)
    assert(sel.map(_.getLong(2)).sum == sel.map(_.getLong(3)).max,
      "kept token counts must sum to the final running total")
    // best-first: every kept doc outranks every dropped doc in the
    // (score desc, doc_id) order
    val keptIds = sel.map(_.getLong(0)).toSet
    val all = docs.select(col("doc_id"),
        graft.ext.TextAnalysis.qualityScore.as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val worstKept = all.filter(t => keptIds(t._1)).map(t => (-t._2, t._1)).max
    val bestDropped = all.filterNot(t => keptIds(t._1)).map(t => (-t._2, t._1)).min
    assert(worstKept._1 < bestDropped._1 ||
      (worstKept._1 == bestDropped._1 && worstKept._2 < bestDropped._2),
      s"kept/dropped order inverted: $worstKept vs $bestDropped")
    // the score-bucketed two-phase prefix sum equals ONE global window
    // (the formulation that does not scale but is trivially correct)
    val single = docs.select(col("doc_id"),
        graft.ext.TextAnalysis.qualityScore.as("score"),
        graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        Window.orderBy(col("score").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_tokens") <= 5000L)
      .select("doc_id", "score", "n_tokens", "cum_tokens")
      .orderBy("doc_id").collect().toSeq
    assert(sel.toSeq == single)
  }

  test("text normalization: NFC composes, format chars strip, newlines/whitespace canonicalize") {
    import spark.implicits._
    val got = graft.ext.TextAnalysis.normalizeText(
        graft.ext.TextAnalysis.normalizeFixture.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "café bistro", "combining acute must compose to U+00E9")
    assert(got(2L) == "tab and spaces")
    assert(got(3L) == "zerowidthjoined", "ZWSP/ZWJ must strip")
    assert(got(4L) == "line\nbreak\nkept", "CRLF and lone CR both canonicalize to LF")
    assert(got(5L) == "padded")
    assert(got(6L) == "unit Å is composed", "ANGSTROM SIGN must compose to U+00C5")
    assert(got(7L) == "already clean ascii", "clean ASCII must pass through untouched")
    // idempotent: normalizing the normalized output is a fixpoint
    val again = graft.ext.TextAnalysis.normalizeText(
        got.toSeq.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == got)
  }

  test("overlapping chunks share exactly chunk-minus-stride tokens; stride=chunk degenerates") {
    import spark.implicits._
    val doc = Seq((1L, (0 until 20).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.chunkDocumentsOverlap(doc, 8, 4)
      .collect().map(r => r.getLong(1) -> ((r.getString(2), r.getLong(3)))).toMap
    // chunk c covers positions [4c, 4c+8) clipped to 20 tokens
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L))
    (0 to 4).foreach { c =>
      val toks = (4 * c until math.min(4 * c + 8, 20)).map(i => s"t$i")
      assert(got(c.toLong) == ((toks.mkString(" "), toks.length.toLong)), s"chunk $c")
    }
    // half-overlap: consecutive chunks share chunk-stride = 4 tokens
    assert(got(0L)._1.split(" ").takeRight(4).toSeq == got(1L)._1.split(" ").take(4).toSeq)
    // stride == chunk reproduces the non-overlapping chunker exactly
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
    val degen = graft.ext.TextAnalysis.chunkDocumentsOverlap(docs, 32, 32).collect().toSeq
    val plain = graft.ext.TextAnalysis.chunkDocuments(docs, 32).collect().toSeq
    assert(degen == plain)
  }

  test("persisted bigram LM reproduces the in-memory fit and scores held-out text") {
    import spark.implicits._
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    graft.ext.TextAnalysis.buildBigramLm(docs, dir)
    // same corpus vs its own LM == the in-memory single-pass fit, exactly
    val fromLm = graft.ext.TextAnalysis.perplexityFromLm(spark, dir, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val inMem = graft.ext.TextAnalysis.bigramPerplexity(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(fromLm.toSeq == inMem.toSeq)
    // held-out: a doc of entirely UNSEEN tokens — every bigram unseen in
    // an unseen context, so each smoothed logp is -ln(0.5/(0.5·V)) =
    // ln(V): finite, and exactly computable from the persisted V
    val v = spark.read.parquet(
      s"${graft.ext.IndexStore.resolve(spark, dir)}/meta")
      .collect()(0).getLong(0)
    val held = Seq((900001L, "zzqx1 zzqx2 zzqx3 zzqx4")).toDF("doc_id", "text")
    val scored = graft.ext.TextAnalysis.perplexityFromLm(spark, dir, held).collect()(0)
    assert(scored.getLong(1) == 3L)
    val expected = math.rint(math.log(v.toDouble) * 1e4) / 1e4
    assert(math.abs(scored.getDouble(2) - expected) < 2e-4,
      s"unseen-token surprisal ${scored.getDouble(2)} should be ~ln(V)=$expected")
    // a rebuild lands as a NEW version, the old one is swept
    val root1 = graft.ext.IndexStore.resolve(spark, dir)
    graft.ext.TextAnalysis.buildBigramLm(docs, dir)
    val root2 = graft.ext.IndexStore.resolve(spark, dir)
    def ver(r: String) = r.split("/v_").last.toLong
    assert(ver(root2) == ver(root1) + 1, s"$root1 -> $root2")
    assert(!new java.io.File(root1).exists(), s"stale $root1 not swept")
    spark.catalog.clearCache()
  }

  test("temperature sampling keeps the rarest language whole and flattens the mix") {
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = graft.ext.TextAnalysis.temperatureSample(docs)
    val after = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rarest = before.minBy(_._2)._1
    // r = 1 for the rarest language: every row survives
    assert(after(rarest) == before(rarest),
      s"rarest lang '$rarest' lost rows: ${before(rarest)} -> ${after.getOrElse(rarest, 0L)}")
    // the mix genuinely flattens: max/min imbalance strictly shrinks
    def imbalance(m: Map[String, Long]) = m.values.max.toDouble / m.values.min
    assert(imbalance(after) < imbalance(before),
      s"imbalance did not shrink: ${imbalance(before)} -> ${imbalance(after)}")
    // every language's survival fraction tracks sqrt(n_min/n) within
    // hash-bucket noise (10000 buckets, small strata → a loose 15% band)
    val nMin = before.values.min.toDouble
    before.foreach { case (l, n) =>
      val expected = math.sqrt(nMin / n)
      val got = after.getOrElse(l, 0L).toDouble / n
      assert(math.abs(got - expected) <= 0.15,
        s"lang $l kept ${got}%, expected ~${expected}")
    }
    // deterministic: a second evaluation is row-identical
    assert(sampled.collect().toSeq ==
      graft.ext.TextAnalysis.temperatureSample(docs).collect().toSeq)
  }

  test("audio window features match analytic signals (square wave, stereo cancellation, float32)") {
    import spark.implicits._
    // mono 16-bit square wave at half amplitude: x alternates +0.5/-0.5 →
    // rms = 0.5 exactly, peak = 0.5, every step crosses zero → zcr = 1
    val sq = Array.tabulate(40) { i =>
      val v = if (i % 2 == 0) 16384 else -16384
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    }.flatten
    val squareWav = Multimodal.wavBytes(8000, 1, 16, sq)
    // STEREO with right = -left: the mono mixdown cancels every frame →
    // rms = peak = zcr = 0 (pins that channels really average, not concat)
    val st = Array.tabulate(20) { _ =>
      val l = 12000; val r = -12000
      Array((l & 0xFF).toByte, ((l >> 8) & 0xFF).toByte,
        (r & 0xFF).toByte, ((r >> 8) & 0xFF).toByte)
    }.flatten
    val cancelWav = Multimodal.wavBytes(8000, 2, 16, st)
    // float32 constant 0.25: rms = peak = 0.25 exactly, zcr = 0
    val fl = Array.tabulate(16) { _ =>
      val bits = java.lang.Float.floatToIntBits(0.25f)
      Array((bits & 0xFF).toByte, ((bits >> 8) & 0xFF).toByte,
        ((bits >> 16) & 0xFF).toByte, ((bits >> 24) & 0xFF).toByte)
    }.flatten
    val floatWav = Multimodal.wavBytes(8000, 1, 32, fl, fmtTag = 3)
    val media = Seq((1L, squareWav), (2L, cancelWav), (3L, floatWav))
      .toDF("doc_id", "payload")
      .withColumn("media_type", org.apache.spark.sql.functions.lit("audio/wav"))
    // 5 ms @ 8 kHz = 40-frame windows → one window per doc
    val f = Multimodal.audioWindowFeatures(spark, media, 5)
      .collect().map(w => w.doc_id -> ((w.n_samples, w.rms, w.peak, w.zcr))).toMap
    assert(f(1L) == ((40L, 0.5, 0.5, 1.0)), s"square: ${f(1L)}")
    assert(f(2L) == ((20L, 0.0, 0.0, 0.0)), s"stereo cancel: ${f(2L)}")
    assert(f(3L) == ((16L, 0.25, 0.25, 0.0)), s"float32 const: ${f(3L)}")
  }

  test("multi-data-chunk WAV windows the FIRST data chunk, even when data precedes fmt") {
    // hostile-but-real layout: data chunk BEFORE fmt, plus a second data
    // chunk after it — the probe must describe the FIRST data chunk (the
    // walk keeps going until fmt is found, and the later chunk must not
    // overwrite the one already recorded)
    val d1 = Array.tabulate(20)(_.toByte)
    val d2 = Array.tabulate(40)(i => (i + 100).toByte)
    val base = Multimodal.wavBytes(8000, 1, 16, d1)
    val fmtChunk = base.slice(12, 36)   // "fmt " + 16-byte body
    val dataChunk1 = base.slice(36, 36 + 8 + 20)
    val dataChunk2 = "data".getBytes("US-ASCII") ++
      Array[Byte](40, 0, 0, 0) ++ d2
    val body = "WAVE".getBytes("US-ASCII") ++ dataChunk1 ++ fmtChunk ++ dataChunk2
    val riff = "RIFF".getBytes("US-ASCII") ++
      Array[Byte]((body.length & 0xFF).toByte, ((body.length >> 8) & 0xFF).toByte, 0, 0) ++ body
    val Some((rate, ch, bits, n, off, len, _)) = Multimodal.wavMeta(riff)
    assert((rate, ch, bits) == (8000, 1, 16))
    assert(n == 10L && len == 20, s"must describe the FIRST data chunk, got n=$n len=$len")
    assert(riff.slice(off, off + len).toSeq == d1.toSeq)
  }

  test("truncated-but-sniffed image payloads fall back instead of failing the task") {
    import spark.implicits._
    // valid PNG magic + header, body cut off: ImageIO's sniffer CLAIMS it,
    // decode then fails — the batch paths must fall to the opaque branch
    val png = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAUAAAAECAIAAADJUWIXAAAAEElEQVR4nGOQs4lCRgwk8gG9nw4R0Z05kQAAAABJRU5ErkJggg==")
    val truncated = png.take(40)
    val media = Seq((1L, truncated)).toDF("doc_id", "payload")
      .withColumn("media_type", org.apache.spark.sql.functions.lit("image/png"))
    // the header survives truncation, so the metadata probe still reads
    // real dims (5x4) — only the PIXEL decode fails
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 1 && feats(0).width == 5 && feats(0).height == 4)
    // resize needs the pixels: decode throws inside the reader and the
    // row falls to the opaque truncation transform instead of killing
    // the task (outLen = max(1, min(40, 8*8/128)) = 1)
    val resized = Multimodal.resize(spark, media, 8, 8).collect()
    assert(resized.length == 1 && resized(0).payload.length == 1)
    // frame sampling likewise: opaque chunks (nFrames = 1 + 40 % 30 = 11,
    // stride 2 -> 6 chunks), not a thrown IIOException
    val frames = Multimodal.sampleFrames(spark, media, stride = 2).collect()
    assert(frames.length == 6)
  }

  test("native CosineSim/VecDot expressions are bit-identical with the HOF formulation") {
    import org.apache.spark.sql.functions._
    val a = emb.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("b"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("a") < col("b")).limit(2000)
    val diff = pairs.select(
      (Similarity.cosine(col("ea"), col("eb")) - Similarity.cosineHof(col("ea"), col("eb"))).as("dc"),
      (Similarity.dot(col("ea"), col("eb")) - Similarity.dotHof(col("ea"), col("eb"))).as("dd"))
      .filter(col("dc") =!= 0.0 || col("dd") =!= 0.0)
    assert(diff.count() == 0)
  }

  test("winnowing fingerprints: planted near-dups overlap far more than random pairs") {
    import graft.ext.TextAnalysis
    val fps = TextAnalysis.winnowingFingerprints(docs).collect()
      .groupBy(_.getLong(0)).map { case (d, rows) => d -> rows.map(_.getLong(1)).toSet }
    def jac(a: Long, b: Long): Double =
      fps(a).intersect(fps(b)).size.toDouble / fps(a).union(fps(b)).size
    val planted = Dedup.ngramJaccardPairs(docs, 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(planted.nonEmpty)
    val plantedJacs = planted.map { case (a, b) => jac(a, b) }
    // random (non-dup) baseline
    val ids = fps.keys.toSeq.sorted
    val randomJacs = ids.take(20).zip(ids.reverse.take(20))
      .filterNot(p => planted.contains(p)).map { case (a, b) => jac(a, b) }
    // tiny synthetic vocab (~40 words) gives random docs substantial
    // 5-gram overlap; the property that matters is SEPARATION
    assert(plantedJacs.min > 0.5, s"planted overlap too low: ${plantedJacs.min}")
    assert(plantedJacs.min > 2 * randomJacs.max,
      s"no separation: planted min ${plantedJacs.min} vs random max ${randomJacs.max}")
  }

  test("contrastive pairs decompose into the top-k positives and the banded hard negatives") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "cos", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    import org.apache.spark.sql.functions.col
    val pairs = Similarity.contrastivePairs(emb, Seq(0L, 1L, 2L), 3, 10, 0.15, 0.30)
    val pos = rows(pairs.filter(col("role") === "pos"))
    val neg = rows(pairs.filter(col("role") === "neg"))
    assert(pos == rows(Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 3)))
    assert(neg == rows(Similarity.hardNegatives(emb, Seq(0L, 1L, 2L), 10, 0.15, 0.30)))
    assert(pos.nonEmpty && neg.nonEmpty)
  }

  test("matryoshka top-k at full width equals the brute-force ranking") {
    val full = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val m64 = Similarity.matryoshkaTopK(emb, Seq(0L, 1L, 2L), 10, 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(m64 == full)
    // truncated scoring is a genuinely different (coarser) ranking
    val m16 = Similarity.matryoshkaTopK(emb, Seq(0L, 1L, 2L), 10, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(m16.size == 30 && m16 != full.map(r => (r._1, r._2)).toSeq)
  }

  test("semantic dedup pairs are exactly the within-cell restriction of the quadratic verifier") {
    val (_, assign) = Similarity.kmeansFit(emb, 8, 3)
    val cellOf = assign.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // full quadratic top pairs, restricted to co-clustered pairs, must be
    // the SemDeDup result — the clustering is the only approximation
    val expected = Dedup.embeddingTopPairs(emb, 200000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => cellOf(a) == cellOf(b) }
      .sortBy { case (a, b, cos) => (-cos, a, b) }
      .take(20).toSeq
    val got = Dedup.semanticDedupPairs(emb, 20).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("cos"))).toSeq
    assert(got == expected, s"diff: ${got.diff(expected).take(3)} / ${expected.diff(got).take(3)}")
    // and the pairs really are cell-scoped
    val cells = Dedup.semanticDedupPairs(emb, 20).collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("a"), r.getAs[Long]("b")))
    cells.foreach { case (c, a, b) =>
      assert(cellOf(a) == c && cellOf(b) == c, s"pair ($a,$b) not in cell $c")
    }
    spark.catalog.clearCache()
  }

  test("approx distinct counts are within the configured HLL error of exact") {
    // the registered query now EMBEDS the bound (parts_ok/orders_ok =
    // |approx − exact| ≤ 5·rsd·exact) and emits the exact counts the
    // DuckDB oracle recomputes independently
    val exact = Queries.aggDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap // n_parts
    val rows = Queries.aggApproxDistinct(spark, sf).collect()
    rows.foreach { r =>
      val flag = r.getString(0)
      assert(r.getAs[Boolean]("parts_ok"), s"$flag partkey HLL outside 10% of exact")
      assert(r.getAs[Boolean]("orders_ok"), s"$flag orderkey HLL outside 10% of exact")
      assert(r.getAs[Long]("exact_parts") == exact(flag))
    }
  }

  test("multimodal resize and frame-sample stubs keep the batch contract") {
    val media = Multimodal.mediaTable(docs)
    val resized = Multimodal.resize(spark, media, 224, 224).collect()
    assert(resized.length == 500)
    assert(resized.forall(r => r.width == 224 && r.height == 224 && r.payload.nonEmpty))
    val frames = Multimodal.sampleFrames(spark, media, stride = 2).collect()
    assert(frames.nonEmpty)
    // 1-row-in -> n-rows-out explode shape: every doc contributes >= 1 frame
    assert(frames.map(_.doc_id).distinct.length == 500)
    // deterministic across runs
    val again = Multimodal.sampleFrames(spark, media, stride = 2).collect()
    assert(frames.map(f => (f.doc_id, f.frame_idx)).sorted.toSeq ==
      again.map(f => (f.doc_id, f.frame_idx)).sorted.toSeq)
  }

  test("multimodal image branch runs a real codec: PNG/BMP dims, GIF frames, pixel checks") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def solid(w: Int, h: Int, rgb: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try { g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h) }
      finally g.dispose()
      img
    }
    def enc(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    // animated GIF: one solid frame per color, written as a sequence
    val gifColors = Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff, 0x000000)
    val gifBytes = {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      gifColors.foreach { c =>
        writer.writeToSequence(new javax.imageio.IIOImage(solid(6, 4, c), null, null), null)
      }
      writer.endWriteSequence()
      ios.close(); writer.dispose()
      bos.toByteArray
    }
    val rows = Seq(
      (1L, enc(solid(20, 12, 0x336699), "png"), "image/png"),
      (2L, enc(solid(17, 9, 0xcc2200), "bmp"), "image/bmp"),
      (3L, gifBytes, "image/gif"),
      (4L, "just some text, no codec will claim this".getBytes("UTF-8"), "text/plain"))
    import spark.implicits._
    val media = rows.toDF("doc_id", "payload", "media_type")
    // features: REAL dims and frame counts for images, arithmetic fallback for text
    val f = Multimodal.extractFeatures(spark, media).collect().map(x => x.doc_id -> x).toMap
    assert(f(1L).width == 20 && f(1L).height == 12 && f(1L).n_frames == 1
      && f(1L).media_type == "image/png")
    assert(f(2L).width == 17 && f(2L).height == 9 && f(2L).media_type == "image/bmp")
    assert(f(3L).n_frames == 5 && f(3L).width == 6 && f(3L).height == 4
      && f(3L).media_type == "image/gif")
    val tLen = rows(3)._2.length
    assert(f(4L).width == 64 + tLen % 512 && f(4L).byte_len == tLen.toLong)
    // resize: decoded output must be a genuine 8x6 PNG of the SAME solid color
    val rz = Multimodal.resize(spark, media, 8, 6).collect().map(x => x.doc_id -> x).toMap
    val rimg = ImageIO.read(new java.io.ByteArrayInputStream(rz(1L).payload))
    assert(rimg.getWidth == 8 && rimg.getHeight == 6)
    assert((rimg.getRGB(3, 3) & 0xffffff) == 0x336699, "bilinear scale of a solid stays solid")
    assert((ImageIO.read(new java.io.ByteArrayInputStream(rz(2L).payload)).getRGB(0, 0) & 0xffffff) == 0xcc2200)
    assert(rz(4L).payload.length == math.min(tLen, 8 * 6 / 128).max(1)) // opaque fallback intact
    // frame sampling: every stride-th GIF frame decodes to its planted color
    val fs = Multimodal.sampleFrames(spark, media, stride = 2).collect()
      .filter(_.doc_id == 3L).sortBy(_.frame_idx)
    assert(fs.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    fs.foreach { fr =>
      val img = ImageIO.read(new java.io.ByteArrayInputStream(fr.frame_payload))
      assert(img.getWidth == 6 && img.getHeight == 4)
      assert((img.getRGB(2, 2) & 0xffffff) == gifColors(fr.frame_idx),
        s"frame ${fr.frame_idx} color")
    }
  }

  test("video branch demuxes a REAL AVI/MJPEG container: frame hashes equal each frame's standalone JPEG decode") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def solid(w: Int, h: Int, rgb: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try { g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h) }
      finally g.dispose()
      img
    }
    def jpeg(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      assert(ImageIO.write(img, "jpg", bos), "no jpg writer")
      bos.toByteArray
    }
    // RIFF writer (the container the demux walks): chunks word-aligned,
    // sizes little-endian — the AVI spec's layout, built by hand so the
    // fixture is a genuine container, not a mock of our own parser
    def le32(v: Long): Array[Byte] = Array((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val pad: Array[Byte] =
        if (body.length % 2 == 1) Array(0.toByte) else Array.empty
      tag.getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body ++ pad
    }
    def riffList(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ body)
    // frames need distinct SPATIAL patterns, not colors: aHash64 of any
    // solid image is all-ones (every pixel equals the mean), so a
    // split-at-k light/dark pattern gives each frame a distinct hash
    def splitImg(k: Int): BufferedImage = {
      val img = solid(16, 12, 0xffffff)
      val g = img.createGraphics()
      try { g.setColor(java.awt.Color.BLACK); g.fillRect(0, 0, k, 12) }
      finally g.dispose()
      img
    }
    val frames = Seq(4, 8, 12).map(k => jpeg(splitImg(k)))
    // frame 1 rides inside a 'rec ' grouping LIST (interleaved form);
    // frame 2 uses the 00db (uncompressed-flagged) chunk id — both are
    // spec shapes a crawled AVI actually contains
    val movi = riffList("movi",
      chunk("00dc", frames(0)) ++
        riffList("rec ", chunk("00dc", frames(1))) ++
        chunk("00db", frames(2)))
    val hdrl = riffList("hdrl", chunk("avih", Array.fill[Byte](56)(0)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
    val got = Multimodal.videoFrameHashBatch(Iterator(
      Multimodal.MediaRow(7L, avi, "video/avi"))).toSeq
    assert(got.length == 3, got.toString)
    assert(got.forall(_.is_video), "demuxed frames must be real decodes")
    assert(got.map(_.frame_idx) == Seq(0, 1, 2))
    // each hash must equal the SAME jpeg's standalone single-image
    // decode — proves per-frame ImageIO decode, not payload arithmetic
    val expect = frames.map { j =>
      val r = Multimodal.videoFrameHashBatch(Iterator(
        Multimodal.MediaRow(0L, j, "image/jpeg"))).toSeq
      assert(r.length == 1 && r.head.is_video)
      r.head.fhash
    }
    assert(got.map(_.fhash) == expect, s"got=$got expect=$expect")
    // distinct colors -> distinct frame hashes (the near-dup contract)
    assert(got.map(_.fhash).distinct.length == 3)
    // a non-AVI opaque payload keeps the deterministic fallback path
    val opaque = Multimodal.videoFrameHashBatch(Iterator(
      Multimodal.MediaRow(8L, Array.tabulate[Byte](45)(_.toByte), "video/mp4"))).toSeq
    assert(opaque.nonEmpty && opaque.forall(!_.is_video))
    // truncated container (cut mid-frame): must not throw; the surviving
    // whole frames still decode
    val cut = java.util.Arrays.copyOf(avi, avi.length - frames(2).length / 2)
    val gotCut = Multimodal.videoFrameHashBatch(Iterator(
      Multimodal.MediaRow(9L, cut, "video/avi"))).toSeq
    assert(gotCut.count(_.is_video) >= 2, gotCut.toString)
  }

  test("exact dedup survivors preserve distinct texts") {
    val survivors = Dedup.exactSurvivors(docs)
    assert(survivors.count() == docs.select("text").distinct().count())
  }

  test("PQ asymmetric-distance top-k holds recall@10 >= 0.7 vs brute force") {
    val bf = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, Seq(0L, 1L, 2L), 10, shortlist = 50)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache() // pqFit caches each subspace projection
    val recall = bf.intersect(pq).size.toDouble / bf.size
    assert(recall >= 0.7, s"PQ recall@10 = $recall")
  }

  test("PII redaction scrubs emails/IPs/phones and counts each once") {
    import spark.implicits._
    // planted fixture: the synthetic corpus contains no PII, so the op's
    // behavior is pinned here instead of a vacuous all-zeros oracle row
    val fixture = Seq(
      (1L, "contact alice.smith+spam@example.co.uk or bob@test.io today"),
      (2L, "server at 192.168.1.254 then call +1 555-123-4567 now"),
      (3L, "plain 555-123-4567 and version 1.2 stays, 1.2.3.4 goes"),
      (4L, "nothing sensitive here, just words and the number 42"),
      (5L, "reach 555-123-4567@relay.com"),
      (6L, "user@192.168.0.1.com pinged"),
      (7L, "id 555-123+44 20 7946 0958-4567 end")
    ).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.redactPii(fixture).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((2L, 0L, 0L, "contact <EMAIL> or <EMAIL> today")))
    // "+1 555-123-4567" holds both phone shapes but counts as ONE phone
    assert(got(2L) == ((0L, 1L, 1L, "server at <IP> then call <PHONE> now")))
    assert(got(3L) == ((0L, 1L, 1L, "plain <PHONE> and version 1.2 stays, <IP> goes")))
    assert(got(4L) == ((0L, 0L, 0L, "nothing sensitive here, just words and the number 42")))
    // counts must agree with what redaction actually consumed: a phone- or
    // IP-shaped string swallowed by the email pattern is an email, not both
    assert(got(5L) == ((1L, 0L, 0L, "reach <EMAIL>")))
    assert(got(6L) == ((1L, 0L, 0L, "<EMAIL> pinged")))
    // placeholder substitution cannot splice neighbors into a phantom match
    assert(got(7L) == ((0L, 0L, 1L, "id 555-123<PHONE>-4567 end")))
  }

  test("containment pairs catch a short doc embedded in a long one where Jaccard misses it") {
    import spark.implicits._
    val core = "the quick brown fox jumps over the lazy dog while rain falls on the green valley"
    val filler = (1 to 40).map(i => s"unrelated filler sentence number $i about weather and mountains").mkString(" ")
    val fixture = Seq(
      (1L, core),
      (2L, s"$filler $core"), // core fully embedded in a much longer doc
      (3L, "completely different text about databases and distributed systems engineering")
    ).toDF("doc_id", "text")
    // union-normalized Jaccard cannot see the inclusion (size gap crushes it)
    val jac = graft.ext.Dedup.ngramJaccardPairs(fixture, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)), "fixture invalid: Jaccard should miss the containment")
    // smaller-side-normalized winnowing overlap must find exactly it
    val got = graft.ext.Dedup.containmentPairs(fixture, 0.8).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    spark.catalog.clearCache()
    assert(got.keySet == Set((1L, 2L)), s"got ${got.keySet}")
    assert(got((1L, 2L)) >= 0.9, s"containment ${got((1L, 2L))}")
  }

  test("dup clustering collapses chains to one representative (transitive closure)") {
    import spark.implicits._
    // 1-2-3-4 is a CHAIN (1 and 4 never share a pair) — pairwise drop-the-
    // larger-id logic cannot see it whole; the fixpoint must
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (10L, 11L), (9L, 11L))
      .toDF("a", "b")
    val got = graft.ext.Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 9L -> 9L, 10L -> 9L, 11L -> 9L))
  }

  test("dup clustering converges in O(log d) rounds on a long chain (pointer jumping)") {
    import spark.implicits._
    // a 64-node path graph: one-hop-only propagation needs ~63 rounds;
    // with the path-halving shortcut the round count must stay logarithmic
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    // maxDriverEdges = 0 forces the DISTRIBUTED path — the property under
    // test is its convergence rate, which the union-find shortcut would
    // make vacuous
    val (labels, rounds) = graft.ext.Dedup.dupClustersWithRounds(chain, maxDriverEdges = 0L)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 64 && got.forall(_._2 == 0L),
      s"all 64 chain nodes must collapse to cluster 0; got ${got.filter(_._2 != 0L).take(5).toSeq}")
    assert(rounds > 0 && rounds <= 12, s"expected O(log 64) rounds, took $rounds")
  }

  test("driver union-find fast path equals the distributed propagation exactly") {
    import spark.implicits._
    // pseudo-random graph: chains, merges, self-contained components
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 400).map { _ =>
      val a = rnd.nextInt(200).toLong; val b = rnd.nextInt(200).toLong
      (math.min(a, b), math.max(a, b) + 1) }.toDF("a", "b")
    val fast = graft.ext.Dedup.dupClustersWithRounds(pairs)
    val dist = graft.ext.Dedup.dupClustersWithRounds(pairs, maxDriverEdges = 0L)
    assert(fast._2 == 0 && dist._2 > 0)
    val f = fast._1.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val d = dist._1.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(f == d)
  }

  test("persisted PQ index round-trips: index path equals the in-memory path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-index").toString
    Similarity.buildPqIndex(emb, dir, m = 8, ks = 16, iters = 2)
    spark.catalog.clearCache()
    val fromIndex = Similarity.pqTopKFromIndex(spark, dir, Seq(0L, 1L, 2L), 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    spark.catalog.clearCache()
    val inMemory = Similarity.pqTopK(emb, Seq(0L, 1L, 2L), 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    spark.catalog.clearCache()
    assert(fromIndex.toSeq == inMemory.toSeq)
  }

  test("index append: new vectors join persisted IVF and PQ indexes without a refit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // plant a near-identical copy of query 0's vector under a fresh id —
    // after append it must be the #1 neighbor through BOTH index paths
    val q0 = emb.filter(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val plantedId = 100000L
    val planted = Seq((plantedId, q0.map(x => x + 1e-6f))).toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
    val ivfDir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    Similarity.buildIvfIndex(emb.withColumn("label",
      org.apache.spark.sql.functions.lit(0)), ivfDir, nCells = 8, iters = 2)
    Similarity.appendToIvfIndex(spark, ivfDir, planted)
    val ivfTop = Similarity.ivfTopKFromIndex(spark, ivfDir, Seq(0L), 10, nProbe = 2)
      .filter(col("rank") === 1).collect()(0)
    assert(ivfTop.getAs[Long]("vec_id") == plantedId,
      s"IVF append: expected planted $plantedId at rank 1, got ${ivfTop.getAs[Long]("vec_id")}")
    spark.catalog.clearCache()
    val pqDir = java.nio.file.Files.createTempDirectory("graft-pq-append").toString
    Similarity.buildPqIndex(emb, pqDir, m = 8, ks = 16, iters = 2)
    Similarity.appendToPqIndex(spark, pqDir, planted.drop("label"))
    val pqTop = Similarity.pqTopKFromIndex(spark, pqDir, Seq(0L), 10, shortlist = 50)
      .filter(col("rank") === 1).collect()(0)
    spark.catalog.clearCache()
    assert(pqTop.getAs[Long]("vec_id") == plantedId,
      s"PQ append: expected planted $plantedId at rank 1, got ${pqTop.getAs[Long]("vec_id")}")
  }

  test("IVF compaction folds batches, keeps frozen centroids, resolves updates last-writer-wins") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val labeled = emb.withColumn("label", org.apache.spark.sql.functions.lit(0))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString
    Similarity.buildIvfIndex(labeled, dir, nCells = 8, iters = 2)
    val q0 = emb.filter(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val q9 = emb.filter(col("vec_id") === 9L)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val plantedId = 400000L
    def planted(v: Array[Float]) = Seq((plantedId, v)).toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
    // batch 1: a near-copy of query 0; batch 2 UPDATES the same vec_id to
    // a different vector — until compaction, BOTH versions are served
    Similarity.appendToIvfIndex(spark, dir, planted(q0.map(_ + 1e-6f)), batchId = Some(1L))
    Similarity.appendToIvfIndex(spark, dir, planted(q9.map(_ + 1e-6f)), batchId = Some(2L))
    val preTop = Similarity.ivfTopKFromIndex(spark, dir, Seq(0L), 10, nProbe = 8)
      .filter(col("rank") === 1).collect()(0).getAs[Long]("vec_id")
    assert(preTop == plantedId, "stale version still served before compaction")
    val centsPre = spark.read.parquet(s"${graft.ext.IndexStore.resolve(spark, dir)}/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
    spark.catalog.clearCache()
    Similarity.compactIvfIndex(spark, dir)
    val root = graft.ext.IndexStore.resolve(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/vectors"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    assert(batches == Seq("batch=-1"), s"compaction left batch dirs: $batches")
    val centsPost = spark.read.parquet(s"$root/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
    assert(centsPost == centsPre, "compaction must not refit centroids")
    // last write (the q9-like vector) wins: plantedId stops being q0's
    // nearest and exactly one copy remains
    assert(spark.read.parquet(s"$root/vectors")
      .filter(col("vec_id") === plantedId).count() == 1L)
    val postTop = Similarity.ivfTopKFromIndex(spark, dir, Seq(0L), 10, nProbe = 8)
      .filter(col("rank") === 1).collect()(0).getAs[Long]("vec_id")
    assert(postTop != plantedId, "updated vector must not serve its stale embedding")
    val nearQ9 = Similarity.ivfTopKFromIndex(spark, dir, Seq(9L), 10, nProbe = 8)
      .filter(col("rank") === 1).collect()(0).getAs[Long]("vec_id")
    assert(nearQ9 == plantedId, "the surviving (latest) embedding still serves")
    spark.catalog.clearCache()
  }

  test("PQ compaction folds codes and vectors, keeps the frozen codebooks serving") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-compact").toString
    Similarity.buildPqIndex(emb, dir, m = 8, ks = 16, iters = 1)
    val q0 = emb.filter(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val plantedId = 410000L
    val planted = Seq((plantedId, q0.map(_ + 1e-6f))).toDF("vec_id", "embedding")
    Similarity.appendToPqIndex(spark, dir, planted, batchId = Some(3L))
    spark.catalog.clearCache()
    Similarity.compactPqIndex(spark, dir)
    val root = graft.ext.IndexStore.resolve(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("codes", "vectors").foreach { sub =>
      val batches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$sub"))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
      assert(batches == Seq("batch=-1"), s"$sub left batch dirs: $batches")
    }
    assert(spark.read.parquet(s"$root/codes").count() ==
      spark.read.parquet(s"$root/vectors").count())
    val top = Similarity.pqTopKFromIndex(spark, dir, Seq(0L), 10, shortlist = 50)
      .filter(col("rank") === 1).collect()(0).getAs[Long]("vec_id")
    assert(top == plantedId, s"appended vector lost in compaction, rank1=$top")
    spark.catalog.clearCache()
  }

  test("PQ rebuild flips the version pointer; same-batch-id appends are replay-idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-version").toString
    Similarity.buildPqIndex(emb, dir, m = 8, ks = 16, iters = 1)
    val q0 = emb.filter(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val plantedId = 300000L
    val planted = Seq((plantedId, q0.map(x => x + 1e-6f))).toDF("vec_id", "embedding")
    // an at-least-once delivery replays the SAME batch id: the second
    // write must overwrite the first, not duplicate the vector
    Similarity.appendToPqIndex(spark, dir, planted, batchId = Some(7L))
    Similarity.appendToPqIndex(spark, dir, planted, batchId = Some(7L))
    val root0 = graft.ext.IndexStore.resolve(spark, dir)
    val dup = spark.read.parquet(s"$root0/vectors")
      .filter(col("vec_id") === plantedId).count()
    assert(dup == 1L, s"replayed append duplicated the vector: $dup copies")
    assert(spark.read.parquet(s"$root0/codes")
      .filter(col("vec_id") === plantedId).count() == 1L)
    spark.catalog.clearCache()
    // a rebuild publishes a NEW version and retires the old one (with its
    // appended batches — their codes came from the superseded codebooks)
    Similarity.buildPqIndex(emb, dir, m = 8, ks = 16, iters = 1)
    val root1 = graft.ext.IndexStore.resolve(spark, dir)
    assert(root1 != root0, "rebuild must publish a fresh version root")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).toSet
    assert(entries.count(_.startsWith("v_")) == 1, s"stale versions left: $entries")
    assert(!entries.contains("codes") && !entries.contains("vectors") &&
      !entries.contains("codebooks"), s"legacy layout left behind: $entries")
    // the republished index still serves, without the abandoned append
    val top = Similarity.pqTopKFromIndex(spark, dir, Seq(0L), 10, shortlist = 50).collect()
    assert(top.length == 10, s"rebuilt index should serve a full top-10, got ${top.length}")
    assert(!top.exists(_.getAs[Long]("vec_id") == plantedId),
      "abandoned append must not be servable after the rebuild")
    spark.catalog.clearCache()
  }

  test("PQ append fails loud on a legacy flat-layout index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-legacy").toString
    // simulate the pre-versioning layout: bare parquet straight under codes/
    emb.limit(4).select(col("vec_id"), lit(0).as("code_0"))
      .write.parquet(s"$dir/codes")
    emb.limit(4).write.parquet(s"$dir/vectors")
    Seq((0, 0, Array.fill(8)(0.0))).toDF("sub", "code", "centroid")
      .write.parquet(s"$dir/codebooks")
    val planted = Seq((1L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(spark, dir, planted)
    }
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  test("IVF-PQ confines results to probed cells and recovers their exact top-k") {
    val ivfpq = Similarity.ivfpqTopK(emb, Seq(0L, 1L, 2L), 10,
      nCells = 8, nProbe = 2, m = 8, ks = 16, iters = 2, shortlist = 50)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    // deterministic replica of the coarse tier: same fit, same probe rule
    val (cents, cellsDf) = Similarity.kmeansFit(emb, 8, 2)
    val cells = cellsDf.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    spark.catalog.clearCache()
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byQuery = ivfpq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    Seq(0L, 1L, 2L).foreach { qid =>
      val q = vecs(qid).map(_.toDouble)
      val probed = cents.sortBy { case (cell, c) => (-cos(q, c), cell) }
        .take(2).map(_._1).toSet
      // confinement: every hit lives in a probed cell
      assert(byQuery(qid).forall(v => probed.contains(cells(v))),
        s"query $qid returned vectors outside its probed cells")
      // recall vs the EXACT top-10 within the probed cells
      val truth = vecs.keys.filter(v => v != qid && probed.contains(cells(v)))
        .toSeq.sortBy(v => (-cos(q, vecs(v).map(_.toDouble)), v)).take(10).toSet
      val recall = truth.intersect(byQuery(qid)).size.toDouble / truth.size
      assert(recall >= 0.7, s"query $qid: in-cell recall@10 = $recall")
    }
  }

  test("bucketed embedding dedup recovers exactly the cross-join ground truth on planted dups") {
    // testdata embeddings have no planted near-dups (max pairwise cosine
    // ~0.48), so build a fixture: 200 random 64-dim vectors + 5 planted
    // near-identical copies. The 1e-6 perturbation cannot flip a
    // hyperplane-projection sign (projections are O(1)), so planted pairs
    // share buckets in EVERY table — the pipeline must find all of them
    // and nothing else above the threshold.
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    val base = (0L until 200L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val planted = (0 until 5).map { j =>
      val (srcId, v) = base((j * 37) % 200)
      ((srcId, 200L + j), v.map(x => x + 1e-6f))
    }
    val embDf = (base ++ planted.map { case ((_, id), v) => (id, v) })
      .toDF("vec_id", "embedding")
    // quadratic ground truth, computed driver-side from the same vectors
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (ad, bd) = (a.map(_.toDouble), b.map(_.toDouble))
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val all = base ++ planted.map { case ((_, id), v) => (id, v) }
    val truth = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= 0.999
    } yield (ia, ib)).toSet
    assert(truth == planted.map(_._1).toSet, s"fixture should plant exactly 5 dup pairs, got $truth")
    val pipeline = Dedup.embeddingNearDups(embDf, 0.999, numPlanes = 4, dim = 64, numTables = 2)
    val found = pipeline.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth, s"missed=${truth.diff(found)} extra=${found.diff(truth)}")
    // the production plan must never fall back to a cartesian/nested-loop join
    val plan = pipeline.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "bucketed embedding dedup planned a quadratic join")
  }

  test("cross-modal mining recovers planted caption-image alignments above the margin gate") {
    import spark.implicits._
    val rnd = new scala.util.Random(321)
    val caps = (0L until 100L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    // 4 images aligned to captions 3/17/42/77 (near-identical vectors),
    // plus 60 pure-noise images that must NOT be mined
    val alignedTo = Seq(3L, 17L, 42L, 77L)
    val imgs = alignedTo.zipWithIndex.map { case (c, j) =>
      (j.toLong, caps(c.toInt)._2.map(x => x + 1e-6f))
    } ++ (4L until 64L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val capDf = caps.toDF("vec_id", "embedding")
    val imgDf = imgs.toDF("vec_id", "embedding")
    val mined = Dedup.crossModalMarginPairs(capDf, imgDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    val expected = alignedTo.zipWithIndex.map { case (c, j) => (c, j.toLong) }.toSet
    // every planted alignment is found (identical vectors share every LSH
    // bucket and carry margin >> gate) ...
    val found = mined.map(p => (p._1, p._2)).toSet
    assert(expected.subsetOf(found), s"missed=${expected.diff(found)}")
    // ... and planted pairs out-margin everything that isn't planted
    val plantedMargins = mined.filter(p => expected((p._1, p._2))).map(_._3)
    val noiseMargins = mined.filterNot(p => expected((p._1, p._2))).map(_._3)
    assert(plantedMargins.forall(m => noiseMargins.forall(_ <= m + 1e-9)),
      s"a noise pair out-margined a planted alignment")
    // output orientation: caption ids on the left, image ids on the right
    assert(mined.forall(p => p._1 < 100L && p._2 < 64L))
  }

  test("DSIR: weights separate target-like docs, Gumbel resample is enriched and deterministic") {
    import org.apache.spark.sql.functions._
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
    val target = docs.filter(col("lang") === "en")
    val wts = graft.ext.TextAnalysis.dsirWeights(docs, target).collect()
    assert(wts.length == docs.count())
    // feature count = unigrams + bigrams = 2·tokens − 1 for every doc
    val tokCounts = docs.select(col("doc_id"),
        graft.ext.TextAnalysis.tokenCount(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    wts.foreach { r =>
      val n = tokCounts(r.getLong(0))
      assert(r.getLong(1) == (if (n >= 2) 2 * n - 1 else n),
        s"doc ${r.getLong(0)}: n_feats ${r.getLong(1)} for $n tokens")
    }
    // importance separates the distributions: mean logw of in-target
    // (English) docs must exceed mean logw of the rest
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (en, other) = wts.partition(r => langOf(r.getLong(0)) == "en")
    val meanEn = en.map(_.getDouble(2)).sum / en.length
    val meanOther = other.map(_.getDouble(2)).sum / other.length
    assert(meanEn > meanOther,
      s"target-likeness not separated: en=$meanEn other=$meanOther")
    // Gumbel-top-k: exactly k rows, en-enriched vs the
    // base rate, and bit-identical across runs (hash noise, no RNG)
    val k = 20
    val sel = graft.ext.TextAnalysis.dsirSelect(docs, target, k).collect()
    assert(sel.length == k)
    val enRateSel = sel.count(r => langOf(r.getLong(0)) == "en").toDouble / k
    val enRateAll = en.length.toDouble / wts.length
    assert(enRateSel > enRateAll,
      s"selection not enriched: $enRateSel <= base $enRateAll")
    val again = graft.ext.TextAnalysis.dsirSelect(docs, target, k).collect()
    assert(sel.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
    // the persisted-model serve path reproduces in-memory weights
    // bit-for-bit (shared scoring + round-tripped double lr)
    val dirM = java.nio.file.Files.createTempDirectory("graft-dsir-m").toString
    graft.ext.TextAnalysis.buildDsirModel(docs, target, dirM)
    val served = graft.ext.TextAnalysis.dsirWeightsFromModel(spark, dirM, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(served.toSeq ==
      wts.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("Misra-Gries sketch honors presence and error-bound guarantees under tiny k") {
    import spark.implicits._
    // 3 heavy items over a 400-item tail, only k = 8 counters: both the
    // over-full insert (decrement-all) and the over-full merge (subtract
    // (k+1)-th largest) paths fire constantly across 8 partitions
    val items = Seq.fill(300)("alpha") ++ Seq.fill(200)("beta") ++
      Seq.fill(120)("gamma") ++ (0 until 400).map(i => s"tail$i")
    val shuffled = new scala.util.Random(7).shuffle(items)
    val k = 8
    val est = shuffled.toDS().repartition(8)
      .groupByKey(_ => 0)
      .agg(new graft.ext.TextAnalysis.MisraGriesAggregator(k).toColumn.name("hh"))
      .flatMap(_._2).collect().toMap
    assert(est.size <= k)
    val n = items.size
    val bound = n / (k + 1.0)
    val exact = items.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
    // theorem 1: every item with true count > n/(k+1) is present
    exact.filter(_._2 > bound).keys
      .foreach(s => assert(est.contains(s), s"guaranteed item $s missing"))
    // theorem 2: estimates never exceed truth, undercount <= n/(k+1)
    est.foreach { case (s, e) =>
      val t = exact.getOrElse(s, 0L)
      assert(e <= t && t - e <= bound, s"$s: est=$e true=$t bound=$bound")
    }
  }

  test("dupSpans: maximal cross-doc and within-doc duplicated runs, overlap merge, clean docs silent") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val shared = (1 to 15).map(i => s"s$i").mkString(" ")
    val docsDf = Seq(
      (1L, s"intro one two three $shared tail1 tail2"),
      (2L, s"$shared completely different ending here"),
      // a 10-token phrase repeated back-to-back: two duplicated windows at
      // gap exactly k merge into the single maximal 20-token span
      (3L, ("r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 " * 2) + "unique suffix"),
      (4L, "nothing duplicated in this document at all beyond short words")
    ).toDF("doc_id", "text")
    val spans = TextAnalysis.dupSpans(docsDf, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spans == Set((1L, 4L, 18L, 15L), (2L, 0L, 14L, 15L), (3L, 0L, 19L, 20L)),
      s"got $spans")
  }

  test("imageNearDups pairs perceptually-close decoded images, exact-dup opaque payloads, nothing else") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import spark.implicits._
    // 8x8 grayscale patterns (already at aHash resolution — no
    // interpolation runs, so the hash is pinned by construction):
    // A = left-half black; B = A with two cells toggled (hamming 2);
    // C = inverted A (hamming far above the radius)
    def png(cells: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(8, 8, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 8; x <- 0 until 8)
        img.getRaster.setSample(x, y, 0, cells(x, y))
      val bos = new ByteArrayOutputStream()
      assert(ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val a = png((x, _) => if (x < 4) 0 else 255)
    val b = png((x, y) =>
      if ((x, y) == (0, 0) || (x, y) == (7, 7)) (if (x < 4) 255 else 0)
      else if (x < 4) 0 else 255)
    val c = png((x, _) => if (x < 4) 255 else 0)
    val txt = "opaque payload the codec rejects".getBytes("UTF-8")
    val media = Seq(
      (1L, a, "image/png"), (2L, b, "image/png"), (3L, c, "image/png"),
      (4L, txt, "text/plain"), (5L, txt, "text/plain"),
      (6L, "different opaque payload".getBytes("UTF-8"), "text/plain")
    ).toDF("doc_id", "payload", "media_type")
    val hashes = Multimodal.imageHashes(spark, media).collect()
      .map(h => h.doc_id -> h).toMap
    assert(hashes(1L).is_image && !hashes(4L).is_image)
    assert(java.lang.Long.bitCount(hashes(1L).ahash ^ hashes(2L).ahash) == 2)
    val pairs = Multimodal.imageNearDups(spark, media, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 2), (4L, 5L, 0)), s"got $pairs")
  }

  test("upsampleToBudget repeats scarce domains whole epochs, hash-samples the remainder, keeps epochs contiguous") {
    import spark.implicits._
    val docs = ((1L to 4L).map(i => (i, "a")) ++ (11L to 12L).map(i => (i, "b")))
      .toDF("doc_id", "lang")
    // exact-multiple budgets: no remainder epoch, counts are exact
    val even = TextAnalysis.upsampleToBudget(docs,
      Map("a" -> 0.5, "b" -> 0.5), budget = 8L)
    val byLang = even.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang == Map("a" -> 4L, "b" -> 4L), s"got $byLang")
    // every doc's epochs are contiguous 0..n-1
    val perDoc = even.groupBy("doc_id").agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
      org.apache.spark.sql.functions.min($"epoch").as("mn"),
      org.apache.spark.sql.functions.max($"epoch").as("mx")).collect()
    perDoc.foreach { r =>
      assert(r.getAs[Long]("mn") == 0L &&
        r.getAs[Long]("mx") == r.getAs[Long]("n") - 1, s"gap in $r")
    }
    // fractional remainder: count lands between the full-epoch floor and
    // one extra epoch, never outside
    val frac = TextAnalysis.upsampleToBudget(docs,
      Map("a" -> 0.5, "b" -> 0.5), budget = 10L)
    val aCount = frac.filter($"lang" === "a").count()
    assert(aCount >= 4L && aCount <= 8L, s"a emitted $aCount")
    // a targeted domain with no rows fails loud
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.upsampleToBudget(docs, Map("a" -> 0.5, "zz" -> 0.5), 8L)
    }
    assert(err.getMessage.contains("zz"))
  }

  test("leakageSafeSplit keeps every dup cluster inside one split and leaves singletons on the per-doc rule") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val out = TextAnalysis.leakageSafeSplit(docs, pairs)
      .select($"doc_id", $"split_key", $"split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // chained cluster {1,2,3} and pair {5,6} each share key + split
    assert(Set(1L, 2L, 3L).map(out(_)._1) == Set(1L))
    assert(Set(1L, 2L, 3L).map(out(_)._2).size == 1)
    assert(Set(5L, 6L).map(out(_)._1) == Set(5L))
    assert(Set(5L, 6L).map(out(_)._2).size == 1)
    // singletons split exactly as the per-doc hash rule would
    val plain = TextAnalysis.deterministicSplit(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    Seq(4L, 7L, 8L, 9L, 10L).foreach { id =>
      assert(out(id)._1 == id && out(id)._2 == plain(id), s"doc $id diverged")
    }
  }

  test("image-hash store: build, probe at the stored radius, idempotent append, lossless compaction") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import spark.implicits._
    def png(cells: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(8, 8, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 8; x <- 0 until 8)
        img.getRaster.setSample(x, y, 0, cells(x, y))
      val bos = new ByteArrayOutputStream()
      assert(ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val xImg = png((x, _) => if (x < 4) 0 else 255)          // corpus image
    val yImg = png((x, y) =>                                  // hamming 2 from X
      if ((x, y) == (0, 0) || (x, y) == (7, 7)) (if (x < 4) 255 else 0)
      else if (x < 4) 0 else 255)
    val fImg = png((_, y) => if (y < 4) 0 else 255)          // hamming 32 from X
    val o1 = "opaque corpus payload".getBytes("UTF-8")
    val dir = java.nio.file.Files.createTempDirectory("graft-imgstore").toString
    Multimodal.buildImageHashStore(
      Seq((1L, xImg, "image/png"), (2L, o1, "text/plain"))
        .toDF("doc_id", "payload", "media_type"), dir)
    // probe: Y pairs with X perceptually (hamming 2), an exact opaque copy
    // pairs at 0, a far image and a fresh opaque stay silent
    val batch = Seq((11L, yImg, "image/png"), (12L, o1, "text/plain"),
      (13L, fImg, "image/png"), (14L, "fresh opaque".getBytes("UTF-8"), "text/plain"))
      .toDF("doc_id", "payload", "media_type")
    val hits = Multimodal.dedupAgainstImageStore(spark, dir, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(hits == Set((11L, 1L, 2), (12L, 2L, 0)), s"got $hits")
    // append the survivors twice under the same batch id: last-writer-wins
    // rewrite, not duplication
    val survivors = batch.filter($"doc_id".isin(13L, 14L))
    Multimodal.appendToImageHashStore(spark, dir, survivors, batchId = Some(0L))
    Multimodal.appendToImageHashStore(spark, dir, survivors, batchId = Some(0L))
    val live = Multimodal.imageStoreHashes(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(live == Set(1L, 2L, 13L, 14L), s"live ids: $live")
    // a re-crawl of F now collides with the appended fingerprint
    val recrawl = Multimodal.dedupAgainstImageStore(spark, dir,
        Seq((21L, fImg, "image/png")).toDF("doc_id", "payload", "media_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(recrawl == Set((21L, 13L, 0)), s"got $recrawl")
    // compaction folds batches into a fresh base; the live view is unchanged
    Multimodal.compactImageHashStore(spark, dir)
    val compacted = Multimodal.imageStoreHashes(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(compacted == live, s"compacted ids: $compacted")
  }

  // 65 segments × 40 frames; segment s holds the constant amplitude
  // amp(s) — a gcd(37,65)=1 stride makes all 65 levels distinct, so every
  // consecutive energy delta is decisive (min energy gap ~2.5e-3 vs
  // ~5e-5 worst-case 16-bit quantization error)
  private def audioAmp(s: Int): Double = 0.1 + 0.8 * ((s * 37) % 65) / 65.0
  private def audioPcm16(a: Int => Double): Array[Byte] =
    Array.tabulate(65 * 40) { i =>
      val v = math.round(a(i / 40) * 32767).toInt
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    }.flatten

  test("audioNearDups pairs re-encoded and re-leveled WAVs acoustically, exact-dup opaque payloads, nothing else") {
    import spark.implicits._
    def pcm24(a: Int => Double): Array[Byte] =
      Array.tabulate(65 * 40) { i =>
        val v = math.round(a(i / 40) * 8388607).toInt
        Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
          ((v >> 16) & 0xFF).toByte)
      }.flatten
    def f32(a: Int => Double): Array[Byte] =
      Array.tabulate(65 * 40) { i =>
        val bits = java.lang.Float.floatToIntBits(a(i / 40).toFloat)
        Array((bits & 0xFF).toByte, ((bits >> 8) & 0xFF).toByte,
          ((bits >> 16) & 0xFF).toByte, ((bits >> 24) & 0xFF).toByte)
      }.flatten
    val base = Multimodal.wavBytes(8000, 1, 16, audioPcm16(audioAmp))
    // the same recording back at 24-bit, float32, and 0.8× volume — the
    // re-encodes a crawl dedup must see through
    val re24 = Multimodal.wavBytes(8000, 1, 24, pcm24(audioAmp))
    val reF32 = Multimodal.wavBytes(8000, 1, 32, f32(audioAmp), fmtTag = 3)
    val quiet = Multimodal.wavBytes(8000, 1, 16, audioPcm16(s => audioAmp(s) * 0.8))
    // a genuinely different recording: reversed envelope (hamming 8 > 3)
    val other = Multimodal.wavBytes(8000, 1, 16, audioPcm16(s => audioAmp(64 - s)))
    val opaque = "opaque payload the sniff rejects".getBytes("UTF-8")
    val media = Seq(
      (1L, base, "audio/wav"), (2L, re24, "audio/wav"), (3L, reF32, "audio/wav"),
      (4L, quiet, "audio/wav"), (5L, other, "audio/wav"),
      (6L, opaque, "text/plain"), (7L, opaque, "text/plain"),
      (8L, "different opaque".getBytes("UTF-8"), "text/plain")
    ).toDF("doc_id", "payload", "media_type")
    val h = Multimodal.audioHashes(spark, media).collect()
      .map(x => x.doc_id -> x).toMap
    assert(h(1L).is_audio && !h(6L).is_audio)
    Seq(2L, 3L, 4L).foreach { id =>
      assert(java.lang.Long.bitCount(h(1L).ahash ^ h(id).ahash) == 0,
        s"re-encode $id drifted ${java.lang.Long.bitCount(h(1L).ahash ^ h(id).ahash)} bits")
    }
    assert(java.lang.Long.bitCount(h(1L).ahash ^ h(5L).ahash) > 3)
    val pairs = Multimodal.audioNearDups(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 0), (1L, 3L, 0), (1L, 4L, 0),
      (2L, 3L, 0), (2L, 4L, 0), (3L, 4L, 0), (6L, 7L, 0)), s"got $pairs")
  }

  test("audio-hash store: build, probe at the stored radius, idempotent append, lossless compaction") {
    import spark.implicits._
    val base = Multimodal.wavBytes(8000, 1, 16, audioPcm16(audioAmp))
    val quiet = Multimodal.wavBytes(8000, 1, 16, audioPcm16(s => audioAmp(s) * 0.8))
    val other = Multimodal.wavBytes(8000, 1, 16, audioPcm16(s => audioAmp(64 - s)))
    val o1 = "opaque corpus payload".getBytes("UTF-8")
    val dir = java.nio.file.Files.createTempDirectory("graft-audiostore").toString
    Multimodal.buildAudioHashStore(
      Seq((1L, base, "audio/wav"), (2L, o1, "text/plain"))
        .toDF("doc_id", "payload", "media_type"), dir)
    // probe: the re-leveled recording pairs with its source (hamming 0),
    // an exact opaque copy pairs at 0, a different recording and a fresh
    // opaque stay silent
    val batch = Seq((11L, quiet, "audio/wav"), (12L, o1, "text/plain"),
      (13L, other, "audio/wav"), (14L, "fresh opaque".getBytes("UTF-8"), "text/plain"))
      .toDF("doc_id", "payload", "media_type")
    val hits = Multimodal.dedupAgainstAudioStore(spark, dir, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(hits == Set((11L, 1L, 0), (12L, 2L, 0)), s"got $hits")
    // append the survivors twice under the same batch id: last-writer-wins
    // rewrite, not duplication
    val survivors = batch.filter($"doc_id".isin(13L, 14L))
    Multimodal.appendToAudioHashStore(spark, dir, survivors, batchId = Some(0L))
    Multimodal.appendToAudioHashStore(spark, dir, survivors, batchId = Some(0L))
    val live = Multimodal.audioStoreHashes(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(live == Set(1L, 2L, 13L, 14L), s"live ids: $live")
    // a re-crawl of the other recording now collides with its fingerprint
    val recrawl = Multimodal.dedupAgainstAudioStore(spark, dir,
        Seq((21L, other, "audio/wav")).toDF("doc_id", "payload", "media_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(recrawl == Set((21L, 13L, 0)), s"got $recrawl")
    Multimodal.compactAudioHashStore(spark, dir)
    val compacted = Multimodal.audioStoreHashes(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(compacted == live, s"compacted ids: $compacted")
  }

  test("videoNearDups pairs by REAL multi-frame GIF overlap: supersets contain, half-overlap below threshold, opaque exact dups pair") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import spark.implicits._
    def frame(cells: (Int, Int) => Int): BufferedImage = {
      val img = new BufferedImage(8, 8, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 8; x <- 0 until 8)
        img.getRaster.setSample(x, y, 0, cells(x, y))
      img
    }
    def gif(frames: Seq[BufferedImage]): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
      writer.endWriteSequence(); ios.close(); writer.dispose()
      bos.toByteArray
    }
    // four distinct binary frames (distinct aHashes by construction)
    val f1 = frame((x, _) => if (x < 4) 0 else 255)
    val f2 = frame((_, y) => if (y < 4) 0 else 255)
    val f3 = frame((x, y) => if ((x + y) % 2 == 0) 0 else 255)
    val f4 = frame((x, y) => if (x < 2 || y < 2) 0 else 255)
    val f5 = frame((x, _) => if (x % 2 == 0) 0 else 255)
    val f6 = frame((_, y) => if (y % 2 == 0) 0 else 255)
    val f7 = frame((x, _) => if (x < 6) 0 else 255)
    val f8 = frame((_, y) => if (y < 6) 0 else 255)
    val a = gif(Seq(f1, f2, f3, f4))           // 4 frames
    val b = gif(Seq(f1, f2, f3, f4, f5))       // superset: contains all of A
    val c = gif(Seq(f1, f2, f5, f6))           // shares 2 of A's 4
    val dOther = gif(Seq(f7, f8))              // frames nobody else has
    val o = "opaque video payload".getBytes("UTF-8")
    val media = Seq(
      (1L, a, "image/gif"), (2L, b, "image/gif"), (3L, c, "image/gif"),
      (4L, dOther, "image/gif"),
      (5L, o, "video/fake"), (6L, o, "video/fake"),
      (7L, "distinct opaque".getBytes("UTF-8"), "video/fake")
    ).toDF("doc_id", "payload", "media_type")
    val fh = Multimodal.videoFrameHashes(spark, media).collect()
    assert(fh.count(_.doc_id == 1L) == 4 && fh.filter(_.doc_id == 1L).forall(_.is_video))
    assert(fh.count(_.doc_id == 2L) == 5)
    assert(!fh.filter(_.doc_id == 5L).head.is_video)
    // at 0.8: the superset contains A (overlap 1.0 on min side); the
    // half-overlap C stays silent; exact opaque dups pair in full
    val strict = Multimodal.videoNearDups(spark, media, minOverlap = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val oFrames = fh.count(_.doc_id == 5L).toLong
    assert(strict == Set((1L, 2L, 4L, 1.0), (5L, 6L, oFrames, 1.0)), s"got $strict")
    // at 0.4 the partial overlaps surface with exact fractions:
    // A∩C = {f1,f2} of min(4,4) → 0.5; B∩C = {f1,f2,f5} of min(5,4) → 0.75
    val loose = Multimodal.videoNearDups(spark, media, minOverlap = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(loose.contains((1L, 3L, 2L, 0.5)) && loose.contains((2L, 3L, 3L, 0.75)),
      s"got $loose")
    assert(!loose.exists(p => p._1 == 4L || p._2 == 4L),
      s"disjoint video paired: $loose")
  }

  test("video frame store: build, containment probe (a trim collides), idempotent append, lossless compaction") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import spark.implicits._
    def frame(cells: (Int, Int) => Int): BufferedImage = {
      val img = new BufferedImage(8, 8, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 8; x <- 0 until 8)
        img.getRaster.setSample(x, y, 0, cells(x, y))
      img
    }
    def gif(frames: Seq[BufferedImage]): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
      writer.endWriteSequence(); ios.close(); writer.dispose()
      bos.toByteArray
    }
    val f1 = frame((x, _) => if (x < 4) 0 else 255)
    val f2 = frame((_, y) => if (y < 4) 0 else 255)
    val f3 = frame((x, y) => if ((x + y) % 2 == 0) 0 else 255)
    val f4 = frame((x, y) => if (x < 2 || y < 2) 0 else 255)
    val f5 = frame((x, _) => if (x % 2 == 0) 0 else 255)
    val f6 = frame((_, y) => if (y % 2 == 0) 0 else 255)
    val full = gif(Seq(f1, f2, f3, f4))
    val trim = gif(Seq(f1, f2))         // a clip of `full`
    val other = gif(Seq(f5, f6))
    val o1 = "opaque corpus payload".getBytes("UTF-8")
    val dir = java.nio.file.Files.createTempDirectory("graft-videostore").toString
    Multimodal.buildVideoFrameStore(
      Seq((1L, full, "image/gif"), (2L, o1, "video/fake"))
        .toDF("doc_id", "payload", "media_type"), dir)
    // probe: the TRIM of the stored video collides (containment 1.0 on
    // the min side — a symmetric Jaccard would score it 0.5 and miss),
    // an exact opaque copy collides, different footage stays silent
    val batch = Seq((11L, trim, "image/gif"), (12L, o1, "video/fake"),
      (13L, other, "image/gif"), (14L, "fresh opaque".getBytes("UTF-8"), "video/fake"))
      .toDF("doc_id", "payload", "media_type")
    val hits = Multimodal.dedupAgainstVideoStore(spark, dir, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val oFrames = (1 + (o1.length % 30) + 1) / 2
    assert(hits == Set((11L, 1L, 2L, 1.0), (12L, 2L, oFrames.toLong, 1.0)),
      s"got $hits")
    // double-append under one batch id: last-writer-wins, not duplication
    val survivors = batch.filter($"doc_id".isin(13L, 14L))
    Multimodal.appendToVideoFrameStore(spark, dir, survivors, batchId = Some(0L))
    Multimodal.appendToVideoFrameStore(spark, dir, survivors, batchId = Some(0L))
    val live = Multimodal.videoStoreFrames(spark, dir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(live == Set(1L, 2L, 13L, 14L), s"live ids: $live")
    // a re-crawl of the appended footage now collides
    val recrawl = Multimodal.dedupAgainstVideoStore(spark, dir,
        Seq((21L, other, "image/gif")).toDF("doc_id", "payload", "media_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(recrawl == Set((21L, 13L, 2L, 1.0)), s"got $recrawl")
    Multimodal.compactVideoFrameStore(spark, dir)
    val compacted = Multimodal.videoStoreFrames(spark, dir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(compacted == live, s"compacted ids: $compacted")
  }

  test("embeddingPcaModel recovers the dominant axis; deflation yields the orthogonal second component; projection matches") {
    import spark.implicits._
    // diagonal-covariance fixture: dim0 variance 1, dim1 0.25,
    // dim2 0.0625, dim3 dead — eigenpairs known in closed form
    val emb = Seq(
      (1L, Array(2f, 0f, 0f, 0f)), (2L, Array(-2f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(0f, -1f, 0f, 0f)),
      (5L, Array(0f, 0f, 0.5f, 0f)), (6L, Array(0f, 0f, -0.5f, 0f)),
      (7L, Array(0f, 0f, 0f, 0f)), (8L, Array(0f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val model = Similarity.embeddingPcaModel(emb, k = 2, iters = 8).collect()
    val byComp = model.groupBy(_.getInt(0))
    val w0 = byComp(0).map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(math.abs(w0(0)) > 0.999, s"top component should align with dim0: $w0")
    val ev0 = byComp(0).head.getDouble(3)
    assert(math.abs(ev0 - 1.0) < 0.01, s"top eigenvalue should be ~1.0: $ev0")
    // var_share = 1 / (1 + 0.25 + 0.0625)
    val vs0 = byComp(0).head.getDouble(4)
    assert(math.abs(vs0 - 0.761905) < 0.01, s"var_share: $vs0")
    val w1 = byComp(1).map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(math.abs(w1(1)) > 0.99, s"second component should align with dim1: $w1")
    val dot = (0 until 4).map(i => w0(i) * w1(i)).sum
    assert(math.abs(dot) < 0.01, s"components not orthogonal: dot=$dot")
    // projection: mean is 0, so pc1 = x0·w0(0) exactly (up to convergence)
    val proj = Similarity.embeddingPcaProject(emb, k = 2, iters = 8).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val s0 = math.signum(w0(0))
    assert(math.abs(proj(1L)._1 - s0 * 2.0) < 0.01, s"pc1(vec 1): ${proj(1L)}")
    assert(math.abs(proj(2L)._1 + s0 * 2.0) < 0.01, s"pc1(vec 2): ${proj(2L)}")
    val s1 = math.signum(w1(1))
    assert(math.abs(proj(3L)._2 - s1 * 1.0) < 0.01, s"pc2(vec 3): ${proj(3L)}")
  }

  test("persisted PCA index serves the self-fit output bit-for-bit (model, projection, whitening)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pca-idx").toString
    Similarity.buildPcaIndex(emb, dir, k = 2, iters = 5)
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    // the text_lr_persisted contract: the persisted values ARE the
    // grid-rounded fit values, round-tripped losslessly through parquet
    assert(key(Similarity.pcaModelDfFromIndex(spark, dir).collect()) ==
      key(Similarity.embeddingPcaModel(emb).collect()))
    assert(key(Similarity.pcaProjectFromIndex(spark, dir, emb).collect()) ==
      key(Similarity.embeddingPcaProject(emb).collect()))
    assert(key(Similarity.whitenFromIndex(spark, dir, emb).collect()) ==
      key(Similarity.embeddingWhiten(emb).collect()))
    // a rebuild publishes a new version (mu and model together), sweeps
    // the old one, and serves the same outputs
    val root1 = graft.ext.IndexStore.resolve(spark, dir)
    val before = key(Similarity.pcaProjectFromIndex(spark, dir, emb).collect())
    Similarity.buildPcaIndex(emb, dir, k = 2, iters = 5)
    val root2 = graft.ext.IndexStore.resolve(spark, dir)
    def ver(r: String) = r.split("/v_").last.toLong
    assert(ver(root2) == ver(root1) + 1, s"$root1 -> $root2")
    assert(!new java.io.File(root1).exists(), s"stale $root1 not swept")
    assert(key(Similarity.pcaProjectFromIndex(spark, dir, emb).collect()) == before)
    assert(key(Similarity.pcaModelDfFromIndex(spark, dir).collect()) ==
      key(Similarity.embeddingPcaModel(emb).collect()))
  }

  test("embeddingPagerank conserves mass and concentrates it on the kNN hub") {
    import spark.implicits._
    // hub-spoke: 6 spokes = base + orthogonal jitters, so every spoke's
    // NEAREST neighbor is the hub (|eps_i - eps_j|^2 > |eps_i|^2) while
    // the hub's top-4 covers only 4 of the 6 spokes — the k-truncation
    // asymmetry PageRank exists to measure (in-deg 6, out-deg 4)
    val base = Array.tabulate(64)(d => math.sin(d + 1).toFloat)
    def spoke(i: Int) = base.zipWithIndex.map { case (v, d) =>
      if (d == i) v + 0.05f else v }
    val fixture = ((1L, base) +: (2L to 7L).map(i => (i, spoke(i.toInt))))
      .toDF("vec_id", "embedding")
    val ranks = Similarity.embeddingPagerank(fixture).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.size == 7)
    // teleport + dangling redistribution conserve total mass
    assert(math.abs(ranks.values.sum - 1.0) < 1e-5, s"mass ${ranks.values.sum}")
    // every spoke keeps an edge to the hub; the hub cannot reciprocate
    // them all — its stationary mass must dominate every spoke's
    val spokeMax = (2L to 7L).map(ranks).max
    assert(ranks(1L) > spokeMax, s"hub ${ranks(1L)} vs spokes $spokeMax")
  }

  test("clusterBalancedSample caps every cluster at the quota, ranks by centroid distance") {
    val out = Similarity.clusterBalancedSample(emb, nCells = 4, iters = 2, quota = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
    val byCell = out.groupBy(_._2)
    assert(byCell.nonEmpty && out.map(_._1).distinct.length == out.length)
    byCell.foreach { case (cell, rows) =>
      assert(rows.length <= 10, s"cell $cell over quota: ${rows.length}")
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length),
        s"cell $cell ranks not contiguous")
      val d2ByRank = rows.sortBy(_._4).map(_._3)
      assert(d2ByRank.zip(d2ByRank.tail).forall { case (a, b) => a <= b },
        s"cell $cell distance not monotone in rank")
    }
  }

  test("perplexityBuckets: per-language terciles are balanced and ordered") {
    import org.apache.spark.sql.functions.col
    import graft.ext.TextAnalysis
    val b = TextAnalysis.perplexityBuckets(docs).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getString(3)))
    b.groupBy(_._1).foreach { case (lang, rows) =>
      val byBucket = rows.groupBy(_._3).view.mapValues(_.size).toMap
      val sizes = Seq("head", "middle", "tail").map(byBucket.getOrElse(_, 0))
      assert(sizes.max - sizes.min <= 2,
        s"$lang terciles unbalanced: $sizes")
      val headMax = rows.filter(_._3 == "head").map(_._2).maxOption
      val midMin = rows.filter(_._3 == "middle").map(_._2).minOption
      val midMax = rows.filter(_._3 == "middle").map(_._2).maxOption
      val tailMin = rows.filter(_._3 == "tail").map(_._2).minOption
      for (h <- headMax; m <- midMin) assert(h <= m, s"$lang head>$m")
      for (m <- midMax; t <- tailMin) assert(m <= t, s"$lang middle>$t")
    }
    assert(b.nonEmpty)
  }

  test("contaminationFraction flags by normalized overlap, not absolute count") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val probe = Seq((100L, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10")).toDF("doc_id", "text")
    val corpus = Seq(
      // exact copy: every shingle shared -> frac 1.0
      (1L, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"),
      // shares 3 of its 48 shingles (brushes the probe) -> below 0.1
      (2L, ("x" + (1 to 46).map(i => s" w$i").mkString) + " p1 p2 p3 p4 p5"),
      (3L, "entirely unrelated content with nothing shared at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationFraction(corpus, probe, 3, 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSet == Set(1L), s"got $out")
    val (_, shared, total, frac) = out.head
    assert(shared == 8 && total == 8 && frac == 1.0)
  }

  test("cutDupSpans keeps the globally-first occurrence and cuts every later copy") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val shared = (1 to 15).map(i => s"s$i").mkString(" ")
    val docsDf = Seq(
      (1L, s"intro one two three $shared tail1 tail2"),
      (2L, s"$shared completely different ending here"),
      (3L, ("r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 " * 2) + "unique suffix"),
      (4L, "nothing duplicated in this document at all beyond short words")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.cutDupSpans(docsDf, k = 10).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    // doc 1 owns every shared window (smallest doc_id) — survives verbatim
    assert(got(1L) == (s"intro one two three $shared tail1 tail2", 0L))
    // doc 2's copy of the shared run is cut
    assert(got(2L) == ("completely different ending here", 15L))
    // doc 3's second back-to-back repeat is cut, first kept
    assert(got(3L) == ("r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 unique suffix", 10L))
    // untouched doc reconstructs exactly
    assert(got(4L) ==
      ("nothing duplicated in this document at all beyond short words", 0L))
  }

  test("persisted minhash index: incremental dedup equals the full pair scan restricted to cross-split pairs") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-mh-idx").toString
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    Dedup.buildMinhashIndex(corpus, dir)
    val got = Dedup.dedupAgainstMinhashIndex(spark, dir, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    // ground truth: the full-corpus candidate scan, keeping only pairs that
    // cross the index/batch split and re-orienting them as (new, indexed)
    val expected = Dedup.minhashCandidatePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .collect {
        case (a, b, j) if a % 5 == 0 && b % 5 != 0 => (a, b, j)
        case (a, b, j) if a % 5 != 0 && b % 5 == 0 => (b, a, j)
      }.toSet
    spark.catalog.clearCache()
    assert(expected.nonEmpty, "planted dups should cross the mod-5 split")
    assert(got == expected,
      s"missed=${expected.diff(got)} extra=${got.diff(expected)}")
  }

  test("persisted winnowing index: cross-set containment equals the full pair scan restricted to the split") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-win-idx").toString
    Dedup.buildWinnowingIndex(docs.filter(col("doc_id") % 5 =!= 0), dir)
    val got = Dedup.containmentAgainstIndex(spark, dir,
        docs.filter(col("doc_id") % 5 === 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    spark.catalog.clearCache()
    // ground truth: the one-corpus operator restricted to cross-split
    // pairs, re-oriented (incoming, indexed) — the df gate sees the same
    // combined population either way, so values must match exactly
    val expected = Dedup.containmentPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .collect {
        case (a, b, sh, c) if a % 5 == 0 && b % 5 != 0 => (a, b, sh, c)
        case (a, b, sh, c) if a % 5 != 0 && b % 5 == 0 => (b, a, sh, c)
      }.toSet
    spark.catalog.clearCache()
    assert(expected.nonEmpty, "planted containment pairs should cross the mod-5 split")
    assert(got == expected,
      s"missed=${expected.diff(got)} extra=${got.diff(expected)}")
  }

  test("winnowing index lifecycle: maintained df table tracks latest-wins exactly; compaction lossless") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft-win-life").toString
    Dedup.buildWinnowingIndex(docs.filter(col("doc_id") % 5 =!= 0), dir)
    // the maintenance invariant: sum of the per-batch df partials ==
    // the doc frequency recomputed from the latest-wins fps view
    def dfInvariant(): Unit = {
      val maintained = Dedup.winnowingIndexDf(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val recomputed = Dedup.winnowingIndexFps(spark, dir)
        .groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(maintained == recomputed,
        s"extra=${maintained.toSet.diff(recomputed.toSet).take(5)} " +
          s"missing=${recomputed.toSet.diff(maintained.toSet).take(5)}")
    }
    dfInvariant()
    // replay-idempotent append of a NEW doc (exact copy of indexed doc 1)
    val copy = docs.filter(col("doc_id") === 1L).withColumn("doc_id", lit(900001L))
    Dedup.appendToWinnowingIndex(spark, dir, copy, batchId = Some(1L))
    Dedup.appendToWinnowingIndex(spark, dir, copy, batchId = Some(1L))
    dfInvariant()
    // re-fingerprint an INDEXED doc with different text in a later batch:
    // the displacement rows must subtract its old fps from the df sums
    val replaced = docs.filter(col("doc_id") === 2L).withColumn("doc_id", lit(1L))
    Dedup.appendToWinnowingIndex(spark, dir, replaced, batchId = Some(2L))
    dfInvariant()
    // serve result is a pure function of the live view + df table, so
    // compaction (fold to one batch, recompute df) must not change it
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    def serve() = Dedup.containmentAgainstIndex(spark, dir, incoming)
      .collect().map(_.toSeq).toSet
    val before = serve()
    Dedup.compactWinnowingIndex(spark, dir)
    dfInvariant()
    assert(serve() == before, "compaction changed serve verdicts")
    spark.catalog.clearCache()
  }

  test("minhash index lifecycle: replay-idempotent append, last-writer-wins, lossless compaction") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft-mh-life").toString
    Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 5 =!= 0), dir)
    // append an exact text copy of indexed doc 1 under a new id — twice
    // with the same batch id, simulating an at-least-once redelivery
    val copy = docs.filter(col("doc_id") === 1L).withColumn("doc_id", lit(900001L))
    Dedup.appendToMinhashIndex(spark, dir, copy, batchId = Some(1L))
    Dedup.appendToMinhashIndex(spark, dir, copy, batchId = Some(1L))
    val live = Dedup.minhashIndexSignatures(spark, dir)
    assert(live.filter(col("doc_id") === 900001L).count() == 1,
      "replayed append must not duplicate the signature")
    // a probe carrying the same text must collide with BOTH the original
    // and the appended copy at est_jaccard 1.0
    val probe = docs.filter(col("doc_id") === 1L).withColumn("doc_id", lit(900005L))
    val hits = Dedup.dedupAgainstMinhashIndex(spark, dir, probe)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(hits.keySet.contains(1L) && hits.keySet.contains(900001L), s"hits=$hits")
    assert(hits(1L) == 1.0 && hits(900001L) == 1.0)
    // last-writer-wins: re-fingerprint doc 1 with doc 2's text in a later
    // batch; the live view must serve exactly one signature per doc and
    // doc 1's must now equal doc 2's
    val replaced = docs.filter(col("doc_id") === 2L).withColumn("doc_id", lit(1L))
    Dedup.appendToMinhashIndex(spark, dir, replaced, batchId = Some(2L))
    val after = Dedup.minhashIndexSignatures(spark, dir)
    assert(after.groupBy("doc_id").count().filter(col("count") > 1).count() == 0)
    val sig1 = after.filter(col("doc_id") === 1L).drop("doc_id").collect()(0)
    val sig2 = after.filter(col("doc_id") === 2L).drop("doc_id").collect()(0)
    assert(sig1 == sig2, "doc 1's live signature should be its batch-2 rewrite")
    // compaction folds every batch into a fresh version's base; the served
    // result is unchanged and the old version remains untouched on disk
    val preCompact = Dedup.dedupAgainstMinhashIndex(spark, dir, probe)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    Dedup.compactMinhashIndex(spark, dir)
    val root = graft.ext.IndexStore.resolve(spark, dir)
    val batches = new java.io.File(s"$root/signatures").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(batches == Set("batch=-1"), s"compaction should fold to one base: $batches")
    val postCompact = Dedup.dedupAgainstMinhashIndex(spark, dir, probe)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(postCompact == preCompact,
      s"compaction changed results: pre=$preCompact post=$postCompact")
  }

  test("url canonicalization: case, fragment, tracking params, slash, passthrough") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // scheme+host lowercase, path case preserved, fragment dropped
      ("HTTP://ExAmple.Com/Path#frag", "http://example.com/Path"),
      // tracking-only query disappears entirely (with its '?')
      ("https://a.com/p?utm_source=x", "https://a.com/p"),
      // tracking stripped from the middle and end, real param kept
      ("https://a.com/p?id=1&ref=tw&gclid=99", "https://a.com/p?id=1"),
      ("https://a.com/p?fbclid=9&x=2", "https://a.com/p?x=2"),
      // trailing slash collapses, including the bare root
      ("https://a.com/p/", "https://a.com/p"),
      ("https://a.com/", "https://a.com"),
      // port survives canonicalization (distinct origin), case fixed
      ("HTTPS://WWW.A.com:8080/x", "https://www.a.com:8080/x"),
      // a 'reference=' param is NOT the tracking param 'ref='
      ("https://a.com/p?reference=7", "https://a.com/p?reference=7"),
      // non-URL: recognizable passthrough, never null
      ("not a url", "not a url"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.ext.UrlCuration.canonicalizeUrl(col("url")).as("c"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
    // idempotence: canonical of canonical is canonical
    val twice = cases.map(_._2).toDF("url")
      .select(graft.ext.UrlCuration.canonicalizeUrl(col("url")).as("c"))
      .as[String].collect().toSeq
    assert(twice == cases.map(_._2), s"not idempotent: $twice")
    val domains = Seq("https://WWW.A.com:8080/x", "http://cdn.b.org/y", "junk")
      .toDF("url")
      .select(graft.ext.UrlCuration.domainOf(col("url")).as("d"))
      .as[String].collect().toSeq
    assert(domains == Seq("a.com", "cdn.b.org", ""), s"got $domains")
  }

  test("domain caps: under-cap domains keep all; over-cap trims ~cap, deterministically, monotone in corpus growth") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def corpus(nBig: Int) =
      ((0 until 3).map(i => (1000L + i, "small.com", "en")) ++
        (0 until nBig).map(i => (2000L + i, "big.com", "en")))
        .toDF("doc_id", "domain", "lang")
    val kept200 = graft.ext.UrlCuration.domainCaps(corpus(200), cap = 10)
      .select("doc_id").as[Long].collect().toSet
    // every under-cap doc survives (thr saturates at 10000)
    assert((1000L until 1003L).forall(kept200.contains))
    // the over-cap domain lands near the cap (hash expectation, 10/200
    // buckets kept): exact count is deterministic for these ids
    val bigKept = kept200.count(_ >= 2000L)
    assert(bigKept >= 2 && bigKept <= 30, s"bigKept=$bigKept")
    // deterministic: the same call returns the same set
    val again = graft.ext.UrlCuration.domainCaps(corpus(200), cap = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept200)
    // final-at-arrival monotonicity: as the domain grows, its threshold
    // only shrinks — survivors of the larger corpus are a subset of the
    // smaller corpus's survivors (plus the untouched small domain)
    val kept100 = graft.ext.UrlCuration.domainCaps(corpus(100), cap = 10)
      .select("doc_id").as[Long].collect().toSet
    val bigIn100 = (2000L until 2100L).toSet
    assert(kept200.intersect(bigIn100).subsetOf(kept100),
      "growing the domain must never resurrect a dropped doc")
  }

  test("blocklistFilter: apex entries block subdomains, host entries block only that host, no TLD or substring bleed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "example.com"), (2L, "cdn.example.com"), (3L, "a.b.example.com"),
      (4L, "notexample.com"), (5L, "cdn.other.com"), (6L, "other.com"),
      (7L, "localhost"), (8L, "blocked-host")
    ).toDF("doc_id", "domain")
    val blocked = Seq("example.com", "cdn.other.com", "blocked-host")
      .toDF("domain")
    val kept = graft.ext.UrlCuration.blocklistFilter(docs, blocked)
      .select("doc_id").as[Long].collect().toSet
    // example.com takes itself and every subdomain; cdn.other.com takes
    // only that host (other.com survives); blocked-host exact-matches a
    // single-label domain; notexample.com must NOT match by substring
    assert(kept == Set(4L, 6L, 7L), s"kept: $kept")
  }

  test("quality calibration: equal per-source selection pressure despite disjoint score ranges") {
    import spark.implicits._
    // source A: stopword-rich (positive scores, increasing with i);
    // source B: punctuation noise (negative scores) — every A outscores every B
    val docs = ((1 to 10).map(i => (i.toLong, ("the " * i) + "word", "A")) ++
      (1 to 10).map(i => (10L + i, "zzz " + ("@" * (3 * i)), "B")))
      .toDF("doc_id", "text", "source")
    val got = graft.ext.TextAnalysis.qualityCalibrated(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3), r.getDouble(4),
        r.getBoolean(5)))
    val (a, b) = got.partition(_._2 == "A")
    // per-source gate keeps the same COUNT from each source (equal pressure):
    // percent_rank >= 0.7 over 10 distinct scores -> ranks 8,9,10
    assert(a.count(_._5) == 3 && b.count(_._5) == 3)
    // globally, every A doc outranks every B doc — the absolute-threshold
    // framing would have kept only As
    assert(a.map(_._4).min > b.map(_._4).max)
    // percentiles are within [0,1] with the extremes present per source
    Seq(a, b).foreach { side =>
      assert(side.map(_._3).min == 0.0 && side.map(_._3).max == 1.0)
    }
  }

  test("Otsu threshold separates a bimodal quality distribution at the valley") {
    import spark.implicits._
    // two spikes: stopword-pure docs (score ~1, top bin) vs punctuation
    // noise (score ~-1, bottom bin); every cut between them separates
    // perfectly with equal variance -> tiebreak picks the lowest cut
    val docs = ((1 to 10).map(i => (i.toLong, "the the the the")) ++
      (1 to 10).map(i => (10L + i, "zz " + ("@" * 20)))).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.otsuThreshold(docs).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(got.count(_._6) == 1, s"exactly one best cut: ${got.toSeq}")
    val best = got.find(_._6).get
    // the chosen cut puts the full noise cluster below, prose above
    assert(best._3 == 10L && best._4 == 10L, s"best: $best")
    // with both spikes at the extreme bins, every interior cut ties ->
    // the deterministic tiebreak lands on cut 1
    assert(best._1 == 1, s"best: $best")
    // threshold lies strictly between the two observed score clusters
    assert(best._2 > -1.0 && best._2 < 0.8, s"thr: ${best._2}")
  }

  test("BPE trainer: hand-computed merges incl. the self-pair run (aaaa -> 'aa aa', not 'aa a a')") {
    import spark.implicits._
    // word counts: aaaa:2, aa:1, bc:2, abc:1
    val docs = Seq((0L, "aaaa aaaa aa bc bc abc")).toDF("doc_id", "text")
    val merges = graft.ext.TextAnalysis.bpeMerges(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // r1: (a,a) = 3·2 + 1 = 7 beats (b,c) = 3; left-to-right on the
    // 4-run merges offsets 0-1 and 2-3 -> "aa aa"
    // r2: (b,c) = 3 beats (aa,aa) = 2; r3: (aa,aa) = 2
    assert(merges.toSeq == Seq(
      (1, "a", "a", "aa", 7L),
      (2, "b", "c", "bc", 3L),
      (3, "aa", "aa", "aaaa", 2L)), s"merges: ${merges.toSeq}")
    val segs = graft.ext.TextAnalysis.bpeSegments(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(segs.toSeq == Seq(
      ("aaaa", 2L, "aaaa"),
      ("abc", 1L, "a bc"),
      ("aa", 1L, "aa"),
      ("bc", 2L, "bc")), s"segments: ${segs.toSeq}")
  }

  test("tokenizer round trip: decode∘encode ≡ id for BPE and unigram; the report quantifies normalization loss") {
    import spark.implicits._
    val docs = Seq(
      (0L, "en", "the quick brown fox! 42 JUMPS over the lazy dog."),
      (1L, "de", "aaaa aaaa aa bc bc abc"),
      (2L, "en", "unfolding refolding folds")).toDF("doc_id", "lang", "text")
    val rt = graft.ext.TextAnalysis.bpeRoundTrip(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rt.keySet == Set("en", "de"))
    // segmentation decode is LOSSLESS: every word and every doc
    // round-trips exactly (the QA gate this query exists to keep green)
    rt.values.foreach { r =>
      assert(r.getAs[Double]("word_fidelity") == 1.0, s"row $r")
      assert(r.getAs[Double]("doc_fidelity") == 1.0, s"row $r")
      assert(r.getAs[Long]("n_words") == r.getAs[Long]("n_words_roundtrip"))
      assert(r.getAs[Long]("n_docs") == r.getAs[Long]("n_docs_exact"))
    }
    // normalization loss is REPORTED, not hidden: punctuation, digits and
    // case in the en docs put coverage below 1; the all-lowercase de doc
    // loses exactly its 5 separator spaces: 17 word chars / 22 chars
    assert(rt("en").getAs[Double]("norm_coverage") < 1.0)
    assert(rt("de").getAs[Double]("norm_coverage") ==
      BigDecimal(17.0 / 22).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

    // unigram family: concatenating each word's Viterbi pieces reproduces
    // the word for the whole vocabulary (detokenize is the shared inverse)
    import org.apache.spark.sql.functions.col
    val segs = graft.ext.TextAnalysis.unigramSegments(docs)
    assert(segs.count() > 0)
    assert(segs.filter(
      graft.ext.TextAnalysis.detokenize(col("seg")) =!= col("word")).count() == 0L)
  }

  test("MMR re-rank skips the near-duplicate a plain top-k would take, then admits it once diversity is served") {
    import spark.implicits._
    // q = x-axis; v1 and v2 are the SAME direction (sim 1.0, rel 3/sqrt(10)
    // each — tiebreak pick: lower vec_id); v3 is slightly less relevant but
    // diverse; v4 is orthogonal filler
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.8f, 0.6f, 0.0f)),
      (2L, Array(0.9f, 0.3f, 0.0f)),
      (3L, Array(0.85f, 0.0f, 0.35f)),
      (4L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.mmrRerank(emb, queryEvery = 100, poolK = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
    assert(got.forall(_._1 == 0L))
    // plain dense top-2 would be {1, 2} (the duplicate pair); MMR: 1, then
    // the diverse 3, and only then the exhausted-novelty duplicate 2
    assert(got.map(t => (t._2, t._3)).toSeq == Seq((1, 1L), (2, 3L), (3, 2L)),
      s"got picks: ${got.toSeq}")
    // cross-check pick-2: diversity must beat the duplicate on the MMR score
    val rel = Map(1L -> 3.0 / math.sqrt(10), 2L -> 3.0 / math.sqrt(10))
    assert(0.7 * 0.9246 - 0.3 * 0.877 > 0.7 * rel(2L) - 0.3 * 1.0,
      "fixture must actually favor the diverse pick at lambda=0.7")
  }

  test("chi2 independence: zero under independence, dense grid includes unobserved cells, known 2x2 value") {
    import spark.implicits._
    // perfectly independent 2x2: counts proportional to margins
    val indep = (Seq.fill(40)(("a", "en")) ++ Seq.fill(10)(("a", "de")) ++
      Seq.fill(8)(("b", "en")) ++ Seq.fill(2)(("b", "de")))
      .zipWithIndex.map { case ((s, l), i) => (i.toLong, s, l) }
      .toDF("doc_id", "source", "lang")
    val g1 = graft.operators.DataQuality.chi2Independence(indep).collect()
    assert(g1.length == 4 && g1.forall(_.getAs[Double]("chi2_total") == 0.0))
    assert(g1.forall(_.getAs[Long]("dof") == 1L))

    // dependent 2x2 with a hand-computed statistic; lang "fr" only under
    // source "a" -> the (b, fr) cell must appear with n = 0
    val dep = (Seq.fill(30)(("a", "en")) ++ Seq.fill(10)(("a", "fr")) ++
      Seq.fill(10)(("b", "en")))
      .zipWithIndex.map { case ((s, l), i) => (i.toLong, s, l) }
      .toDF("doc_id", "source", "lang")
    val g2 = graft.operators.DataQuality.chi2Independence(dep).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(g2.keySet == Set(("a", "en"), ("a", "fr"), ("b", "en"), ("b", "fr")))
    assert(g2(("b", "fr")).getAs[Long]("n") == 0L)
    // N=50, margins: a=40, b=10, en=40, fr=10
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = Map(("a", "en") -> (30.0, 32.0), ("a", "fr") -> (10.0, 8.0),
      ("b", "en") -> (10.0, 8.0), ("b", "fr") -> (0.0, 2.0))
    val chi2 = r4(exp.values.map { case (n, e) => r6(math.pow(n - e, 2) / e) }.sum)
    assert(g2.values.forall(_.getAs[Double]("chi2_total") == chi2), s"want $chi2")
    exp.foreach { case (k, (n, e)) =>
      assert(g2(k).getAs[Double]("expected") == r4(e))
      assert(g2(k).getAs[Double]("resid") == r4((n - e) / math.sqrt(e)))
    }
  }

  test("weighted sample: exact vs driver replay of the E-S keys; heavier docs overrepresented") {
    import spark.implicits._
    val docs = (0L until 400L).map(i =>
      (i, if (i < 200) 10L else 1000L)).toDF("doc_id", "n_chars")
    val got = graft.ext.TextAnalysis.weightedSample(docs, k = 40)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    // driver-side replay: same md5-prefix hash, same u, same key, same order
    def r10(x: Double) = BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    def h64(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val ref = (0L until 400L).map { i =>
      val w = if (i < 200) 10L else 1000L
      val u = (h64(s"wsample:$i") % 1000000L + 0.5) / 1000000.0
      (i, w, r10(math.log(u) / w))
    }.sortBy { case (id, _, k) => (-k, id) }.take(40)
      .zipWithIndex.map { case ((id, w, k), r) => (r + 1, id, w, k) }
    assert(got.toSeq == ref.toSeq,
      s"first diff: ${got.toSeq.zip(ref.toSeq).find(p => p._1 != p._2)}")
    // 100x weight at 1:1 population -> the sample should be dominated by
    // the heavy class (expected heavy share ~99%)
    assert(got.count(_._2 >= 200L) >= 35, s"heavy count: ${got.count(_._2 >= 200L)}")
  }

  test("vocab drift: group-exclusive tokens rank first with symmetric z, balanced tokens score zero") {
    import spark.implicits._
    // alpha only in even docs (group A), beta only in odd docs, common in both
    val docs = (0L to 9L).map { i =>
      val t = if (i % 2 == 0) "alpha common common" else "beta common common"
      (i, t)
    }.toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.vocabDrift(docs, topK = 10, minSupport = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.map(_._2).toSeq == Seq("alpha", "beta", "common"))
    val Seq(alpha, beta, common) = got.toSeq
    assert(alpha._3 == 5L && alpha._4 == 0L && beta._3 == 0L && beta._4 == 5L)
    // expected from the add-one log-odds closed form: na=nb=15, V=3
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dAlpha = math.log(6.0 / 12.0) - math.log(1.0 / 17.0)
    val zAlpha = dAlpha / math.sqrt(1.0 / 6.0 + 1.0)
    assert(alpha._5 == r4(dAlpha) && alpha._6 == r4(zAlpha))
    // symmetry: beta is alpha's mirror; balanced token carries zero signal
    assert(beta._5 == -alpha._5 && beta._6 == -alpha._6)
    assert(common._5 == 0.0 && common._6 == 0.0)
  }

  test("unigram tokenizer: valid splits, telescoped scores, and GLOBAL optimality beating greedy") {
    import spark.implicits._
    // 'xaby'/'xcdy' repeats make ab and cd heavy; 'abcd' appears once, so
    // its best split is [ab, cd] — a greedy longest-prefix would eat a
    // 3-char piece first and be stuck with a rare tail
    val docs = (Seq.fill(50)("xaby xcdy") ++ Seq("abcd the the the the"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val vocab = graft.ext.TextAnalysis.unigramVocab(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    // coverage: every single char of the corpus is in the vocab
    assert("xabycdthe".forall(c => vocab.contains(c.toString)))
    val segs = graft.ext.TextAnalysis.unigramSegments(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getString(2), r.getInt(3), r.getDouble(4)))).toMap
    segs.foreach { case (word, (seg, nPieces, score)) =>
      val pieces = seg.split(" ").toSeq
      assert(pieces.mkString("") == word, s"$word: invalid split '$seg'")
      assert(pieces.size == nPieces)
      assert(pieces.forall(vocab.contains), s"$word: piece outside vocab in '$seg'")
      // DP telescopes to the left-to-right sum of piece log-probs
      val expect = BigDecimal(pieces.foldLeft(0.0)((a, p) => a + vocab(p)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(score == expect, s"$word: score $score != $expect")
    }
    // the global optimum: heavy bigram pieces beat any greedy 3-char start
    assert(segs("abcd")._1 == "ab cd", s"got '${segs("abcd")._1}'")
    // a frequent short word segments as itself
    assert(segs("the")._1 == "the")
    // one hard-EM turn: still valid splits, and OBSERVABLE drift — round
    // 1 segments the repeated words as whole pieces, so the recount
    // concentrates mass there; 'ab'/'cd' keep only their add-one floor
    // and 'abcd' flips to its own single (rare) piece: ln(1/T) beats two
    // floor-weight log-probs. 'the' (used whole in round 1) is stable.
    val em = graft.ext.TextAnalysis.unigramEmRound(docs).collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getBoolean(5)))).toMap
    em.foreach { case (word, (seg, _)) =>
      assert(seg.split(" ").mkString("") == word, s"EM $word: '$seg'") }
    assert(em("abcd") == (("abcd", true)), s"EM drift: ${em("abcd")}")
    assert(em("the") == (("the", false)))
  }

  test("unigram bill: the self-fit encode equals build-then-serve on the same corpus") {
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-uni-bill").toString
    graft.ext.TextAnalysis.buildUnigramVocab(docs, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fit = rows(graft.ext.TextAnalysis.unigramEncodeCounts(docs))
    // every in-corpus word is covered by the vocabulary's alphabet, so the
    // serve's domain filter drops nothing and the bills agree row for row
    assert(fit.nonEmpty)
    assert(rows(graft.ext.TextAnalysis.unigramEncodeFromVocab(spark, dir, docs)) == fit)
  }

  test("communities: planted cliques converge to their min-id label; sizes consistent") {
    import spark.implicits._
    val rnd = new java.util.Random(13)
    // two mutually-orthogonal cliques of identical vectors + spread noise
    val cliqueA = (0L until 5L).map(i => (i, Array.fill(64)(0.7f)))
    val cliqueB = (10L until 15L).map(i =>
      (i, Array.tabulate(64)(j => if (j % 2 == 0) 0.5f else -0.5f)))
    val rest = (20L until 30L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val e = (cliqueA ++ cliqueB ++ rest).toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.embeddingCommunities(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // synchronous min-tiebreak LPA on a clique of self-labels converges
    // to the minimum member id within 2 rounds (hand-traced)
    (0L until 5L).foreach(i => assert(out(i)._1 == 0L, s"A member $i: ${out(i)}"))
    (10L until 15L).foreach(i => assert(out(i)._1 == 10L, s"B member $i: ${out(i)}"))
    // community_size agrees with the label multiset
    val sizes = out.values.groupBy(_._1).map { case (l, v) => l -> v.size }
    out.values.foreach { case (l, sz) => assert(sz == sizes(l)) }
    assert(out(0L)._2 >= 5 && out(10L)._2 >= 5)
  }

  test("PR-AUC: hand math on the tied frame; separable corpus reaches 1") {
    import spark.implicits._
    val scored = Seq(
      (0.9, 1), (0.8, 1), (0.7, 1), (0.5, 1),
      (0.5, 0), (0.3, 0), (0.2, 0), (0.1, 0)).toDF("s", "y")
    val r = graft.ext.ModelEval.prAuc(scored).collect()(0)
    assert(r.getLong(0) == 4 && r.getLong(1) == 4 && r.getLong(2) == 7)
    // descending steps: 0.9/0.8/0.7 each add (1/4)*1 = 0.25; the tied
    // 0.5 block adds (1/4)*(4/5) = 0.2; pure-negative scores add 0
    assert(r.getDouble(3) == 0.95, s"AP ${r.getDouble(3)}")
    assert(r.getDouble(4) == 0.5)
    val sep = Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)).toDF("s", "y")
    assert(graft.ext.ModelEval.prAuc(sep).collect()(0).getDouble(3) == 1.0)
  }

  test("AUC bootstrap CI: point matches binaryAuc; interval brackets the mean; separable pins to 1") {
    import spark.implicits._
    val rnd = new java.util.Random(31)
    // 20 noisy positives / 20 noisy negatives on the 1e-4 grid: enough
    // mass that every Poisson replica keeps both classes (P(miss) ~ e^-20)
    val rows = (0L until 20L).map(i =>
      (i, math.rint((0.55 + rnd.nextDouble() * 0.4) * 1e4) / 1e4, 1)) ++
      (20L until 40L).map(i =>
        (i, math.rint((0.05 + rnd.nextDouble() * 0.5) * 1e4) / 1e4, 0))
    val scored = rows.toDF("id", "s", "y")
    val r = graft.ext.ModelEval.aucBootstrapCi(scored).collect()(0)
    val point = graft.ext.ModelEval.binaryAuc(
      scored.select(org.apache.spark.sql.functions.col("s"),
        org.apache.spark.sql.functions.col("y"))).collect()(0).getDouble(3)
    assert(r.getDouble(0) == point)
    assert(r.getDouble(2) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(3),
      s"ci [${r.getDouble(2)}, ${r.getDouble(3)}] must bracket mean ${r.getDouble(1)}")
    assert(r.getLong(4) == 32)
    // a separable corpus has AUC 1 under EVERY resample -> degenerate CI
    val sep = ((0L until 20L).map(i => (i, 0.9, 1)) ++
      (20L until 40L).map(i => (i, 0.1, 0))).toDF("id", "s", "y")
    val s2 = graft.ext.ModelEval.aucBootstrapCi(sep).collect()(0)
    assert(s2.getDouble(0) == 1.0 && s2.getDouble(2) == 1.0 && s2.getDouble(3) == 1.0)
  }

  test("KS: max CDF gap and smallest attaining threshold by hand") {
    import spark.implicits._
    val scored = Seq(
      (0.9, 1), (0.8, 1), (0.7, 1), (0.5, 1),
      (0.5, 0), (0.3, 0), (0.2, 0), (0.1, 0)).toDF("s", "y")
    val r = graft.ext.ModelEval.ksStatistic(scored).collect()(0)
    // CDF gaps ascending: .25 .5 .75 | .75 at 0.5 | .5 .25 0 — max 0.75
    // first attained at 0.3 (the smallest-threshold tiebreak)
    assert(r.getDouble(0) == 0.75, s"ks ${r.getDouble(0)}")
    assert(r.getDouble(1) == 0.3, s"at_thr ${r.getDouble(1)}")
    assert(r.getLong(2) == 4 && r.getLong(3) == 4)
    // separable frame: KS exactly 1 at the top negative score
    val sep = Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)).toDF("s", "y")
    val s = graft.ext.ModelEval.ksStatistic(sep).collect()(0)
    assert(s.getDouble(0) == 1.0 && s.getDouble(1) == 0.2)
  }

  test("ratioR/avgQR: exact HALF_UP on planted ties; long_div exact past 2^53") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // the live sf0.1 tie: 565/100000 = .00565 exactly -> HALF_UP .0057
    // (a double-rounded quotient split the engines here)
    val t = Seq((565L, 100000L), (5L, 1000L), (1L, 3L))
      .toDF("n", "d")
      .select(graft.functions.Exact.ratioR(col("n"), col("d"), 4).as("r4"),
        graft.functions.Exact.ratioR(col("n"), col("d"), 2).as("r2"))
      .collect()
    assert(t(0).getDouble(0) == 0.0057 && t(1).getDouble(0) == 0.005)
    assert(t(1).getDouble(1) == 0.01) // .005 at r=2 rounds HALF_UP to .01
    assert(t(2).getDouble(0) == 0.3333)
    // integer division stays exact past the double mantissa (the Column
    // `/` on longs would round 9e15+3 through 53 bits and miss)
    val big = Seq((9000000000000003L, 3L)).toDF("a", "b")
      .select(graft.functions.VectorFunctions
        .longDiv(col("a"), col("b")).as("q")).collect()(0).getLong(0)
    assert(big == 3000000000000001L, s"got $big")
    // avgQR: four 4-dp values whose exact mean .50495 sits ON the 4-dp
    // tie — exact HALF_UP gives .5050 (a double-rounded mean could give
    // .5049 depending on the 1-ulp side it lands)
    val m = Seq(0.5, 0.5, 0.51, 0.5098).toDF("v")
      .agg(graft.functions.Exact.avgQR(col("v"), 4, 4).as("m"))
      .collect()(0).getDouble(0)
    assert(m == 0.505, s"mean $m")
  }

  test("compact exact sums: sumQC/sumQRC/avgQL ≡ the Decimal(38) forms; sumQLR exact HALF_UP on the planted grid tie") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.Exact
    // money-grid values, SIGNED, incl. a 2-dp tie-maker: the compact path
    // (pure-double quantize + compact-decimal accumulate) must equal the
    // BigDecimal-backed sumQ family bit-for-bit on the grid domain
    val v = Seq(6.55, 0.01, -2.34, 9999.99, 123.455, -0.005, 87.125)
    val df = v.map(Tuple1(_)).toDF("x")
    val got = df.agg(
      Exact.sumQC(col("x"), 3).as("c"),
      Exact.sumQ(col("x"), 3).as("q"),
      Exact.sumQRC(col("x"), 3, 2).as("rc"),
      Exact.sumQR(col("x"), 3, 2).as("r"),
      Exact.avgQL(col("x"), 3, 4).as("al"),
      Exact.avgQR(col("x"), 3, 4).as("ar")).collect()(0)
    assert(got.getDouble(0) == got.getDouble(1), s"sumQC ${got.getDouble(0)} vs sumQ ${got.getDouble(1)}")
    assert(got.getDouble(2) == got.getDouble(3), s"sumQRC vs sumQR: $got")
    assert(got.getDouble(4) == got.getDouble(5), s"avgQL vs avgQR: $got")
    // exact sum = 10214.785 -> the .785 lands on the 2-dp HALF_UP tie: 10214.79
    assert(got.getDouble(2) == 10214.79, s"tie round: ${got.getDouble(2)}")

    // sumQLR: 6-dp grid terms summing to an EXACT .xxxx50 (the ~1%-of-
    // cells BM25 tie) — integer HALF_UP re-round must give .1235, where
    // round(double, 4) is at the mercy of the double's 1-ulp side
    val tie = Seq(0.12340, 0.000050).map(Tuple1(_)).toDF("t")
      .agg(Exact.sumQLR(col("t"), 6, 4).as("s")).collect()(0).getDouble(0)
    assert(tie == 0.1235, s"sumQLR tie: $tie")
  }

  test("collocations: a planted sticky phrase tops the PMI ranking") {
    import spark.implicits._
    val rnd = new java.util.Random(17)
    val fillers = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def noise(n: Int) = Seq.fill(n)(fillers(rnd.nextInt(fillers.length))).mkString(" ")
    // "new york" always adjacent and exclusive; fillers pair randomly
    val docs = (1L to 10L).map(i =>
      (i, s"${noise(8)} new york ${noise(8)}", "en", "s1", 10))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ext.TextAnalysis.collocations(docs, minCount = 5, topK = 5)
      .collect().map(r => (r.getString(1), r.getString(0), r.getDouble(5)))
    // (w2, w1, pmi) — the planted pair ranks first
    assert(out.head._2 == "new" && out.head._1 == "york", out.take(3).toSeq)
    // PMI of an exclusive always-adjacent pair exceeds any filler pair
    assert(out.tail.forall(_._3 <= out.head._3))
  }

  test("zipf fit: an exact power-law corpus lands near slope -1") {
    import spark.implicits._
    // token w_r appears floor(600/r) times, r = 1..30 — a textbook
    // Zipf rank-frequency table
    val text = (1 to 30).flatMap(r => Seq.fill(600 / r)(s"w$r")).mkString(" ")
    val docs = Seq((1L, text, "en", "s1", text.length))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ext.TextAnalysis.zipfFit(docs, topN = 30).collect()(0)
    assert(out.getLong(0) == 30)
    val slope = out.getDouble(1)
    assert(slope > -1.15 && slope < -0.85, s"slope $slope")
  }

  test("sentences: splits at terminal punctuation, keeps indices, drops empties") {
    import spark.implicits._
    val d = Seq(
      (1L, "First one. Second!  Third?\nFourth has no end", "en", "s1", 10),
      (2L, "no punctuation at all", "en", "s1", 10),
      (3L, "Trailing dot. ", "en", "s1", 10))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ext.TextAnalysis.sentences(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(out((1L, 0L)) == "First one.")
    assert(out((1L, 1L)) == "Second!")
    assert(out((1L, 2L)) == "Third?")
    assert(out((1L, 3L)) == "Fourth has no end")
    assert(out((2L, 0L)) == "no punctuation at all")
    // mid-sentence '.' without following whitespace does NOT split, and
    // the trailing empty part after a final '. ' is dropped
    assert(out.keys.count(_._1 == 3L) == 1 && out((3L, 0L)) == "Trailing dot.")
  }

  test("video shot boundaries: a real GIF hard cut flags; static frames don't") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import spark.implicits._
    // patterned frames (solid colors are aHash-degenerate): shot A is
    // white-left/black-right, shot B the inversion — the aHash bits flip
    // wholesale across the cut and not at all within a shot
    def halves(leftWhite: Boolean): BufferedImage = {
      val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try {
        g.setColor(if (leftWhite) java.awt.Color.WHITE else java.awt.Color.BLACK)
        g.fillRect(0, 0, 8, 16)
        g.setColor(if (leftWhite) java.awt.Color.BLACK else java.awt.Color.WHITE)
        g.fillRect(8, 0, 8, 16)
      } finally g.dispose()
      img
    }
    val frames = Seq(halves(true), halves(true), halves(false), halves(false))
    val gifBytes = {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(f => writer.writeToSequence(
        new javax.imageio.IIOImage(f, null, null), null))
      writer.endWriteSequence()
      ios.close(); writer.dispose()
      bos.toByteArray
    }
    val media = Seq((7L, gifBytes, "image/gif")).toDF("doc_id", "payload", "media_type")
    val out = Multimodal.videoShotBoundaries(spark, media).collect()
      .map(r => r.getLong(1) -> ((Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getBoolean(3), r.getLong(4)))).toMap
    assert(out.size == 4)
    assert(out(0L) == ((None, false, 0L)))            // first frame: no prior
    assert(out(1L)._1.contains(0L) && !out(1L)._2)    // within-shot: 0 bits
    assert(out(2L)._1.exists(_ >= 20L) && out(2L)._2) // the hard cut
    assert(out(2L)._3 == 1L && out(3L)._3 == 1L)      // shot ids advance once
    assert(!out(3L)._2)
  }

  test("JL projection: linear invariants (identical in, identical out; negation flips)") {
    import spark.implicits._
    val rnd = new java.util.Random(5)
    val v = Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    val e = Seq((1L, v), (2L, v), (3L, v.map(x => -x))).toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.jlProject(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 48)
    (0L until 16L).foreach { j =>
      // projection is a deterministic function of the vector alone
      assert(out((1L, j)) == out((2L, j)))
      // and linear: -x projects to -y (round-6 of an exact negation)
      assert(out((3L, j)) == -out((1L, j)) ||
        (out((1L, j)) == 0.0 && out((3L, j)) == 0.0), s"j=$j")
    }
  }

  test("JL shortlist top-k: planted clones surface at cos 1; high overlap with brute force") {
    import spark.implicits._
    val rnd = new java.util.Random(23)
    val q = Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    val clones = Seq(100L, 101L, 102L).map(i => (i, q.clone()))
    val rest = (10L until 60L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val e = ((0L, q) +: clones ++: rest).toDF("vec_id", "embedding")
    val jl = graft.ext.Similarity.jlShortlistTopK(e, Seq(0L), k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // identical vectors survive ANY projection: the three clones hold
    // ranks 1-3 at exact cosine 1.0
    assert(jl.take(3).map(_._1).toSet == Set(100L, 101L, 102L), jl.take(5).toSeq)
    assert(jl.take(3).forall(_._2 == 1.0))
    val bf = graft.ext.Similarity.bruteForceTopK(e, Seq(0L), 10)
      .collect().map(_.getLong(1)).toSet
    val overlap = jl.map(_._1).count(bf)
    assert(overlap >= 6, s"JL recall@10 too low: $overlap/10 (fixed seed — deterministic)")
  }

  test("JL index: persisted serve row-identical to the in-memory two-stage path") {
    import spark.implicits._
    val rnd = new java.util.Random(41)
    val e = (0L until 40L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-jlidx").toString
    graft.ext.Similarity.buildJlIndex(e, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val mem = rows(graft.ext.Similarity.jlShortlistTopK(e, Seq(0L, 1L), 5))
    val idx = rows(graft.ext.Similarity.jlTopKFromIndex(spark, dir, Seq(0L, 1L), 5))
    assert(mem == idx, s"persisted serve drifted:\nmem=$mem\nidx=$idx")
    // append path: a new vector lands and becomes servable
    graft.ext.Similarity.appendToJlIndex(spark, dir,
      Seq((100L, e.where(org.apache.spark.sql.functions.col("vec_id") === 0L)
          .head.getSeq[Float](1).toArray))
        .toDF("vec_id", "embedding"))
    val after = rows(graft.ext.Similarity.jlTopKFromIndex(spark, dir, Seq(0L), 5))
    assert(after.exists(r => r._2 == 100L && r._3 == 1.0),
      s"appended clone must serve at cosine 1: $after")
  }

  test("langid confusion: planted corpus lands on the diagonal with recall 1") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat and the dog of it", "en", "s1", 10),
      (2L, "the thing and more of it", "en", "s1", 10),
      (3L, "der hund und die katze", "de", "s1", 10))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ext.TextAnalysis.langidConfusion(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3), r.getDouble(4)))).toMap
    assert(out(("en", "en")) == ((2L, true, 1.0)))
    assert(out(("de", "de")) == ((1L, true, 1.0)))
    assert(out.size == 2)
  }

  test("Kneser-Ney perplexity: discounted probs sum below 1 per context, soup scores worse, buckets track the add-0.5 form") {
    import spark.implicits._
    // a tiny corpus with natural repetition + one symbol-soup doc: both
    // LMs must put the soup in the worst bucket, and KN must preserve
    // the add-0.5 form's broad quality ordering on the real corpus
    val fixture = Seq(
      (1L, "the cat sat on the mat and the cat ran"),
      (2L, "the dog sat on the mat and the dog ran"),
      (3L, "the cat sat on the rug and the dog sat"),
      (4L, "zq xv qj wk vx jq kw xq vj qx wv kx")).toDF("doc_id", "text")
    val kn = TextAnalysis.knPerplexity(fixture).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val add = TextAnalysis.bigramPerplexity(fixture).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(kn(4L) > kn(1L) && kn(4L) > kn(2L) && kn(4L) > kn(3L), kn.toString)
    assert(add(4L) == add.values.max)
    assert(kn(4L) == kn.values.max)
    // corpus bucket comparison (r11 ask #7's done-bar): quartile-bucket
    // docs by ppl under BOTH smoothings; the orderings must broadly
    // agree (exact ties aside, the two are different estimators of the
    // same quantity) — >= 60% of docs land in the same quartile
    val d = docs
    val knC = TextAnalysis.knPerplexity(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(3))
    val addC = TextAnalysis.bigramPerplexity(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    def quartile(ranked: Seq[Long]): Map[Long, Int] = {
      val n = ranked.length
      ranked.zipWithIndex.map { case (id, i) => id -> (4 * i / n) }.toMap
    }
    val qKn = quartile(knC.sortBy(_._2).map(_._1).toSeq)
    val qAdd = quartile(knC.map(_._1).map(id => id -> addC(id))
      .sortBy(_._2).map(_._1).toSeq)
    val agree = qKn.count { case (id, q) => qAdd(id) == q }
    assert(agree.toDouble / qKn.size >= 0.6,
      s"quartile agreement ${agree.toDouble / qKn.size} (${qKn.size} docs)")
  }

  test("persisted KN LM: in-corpus serve equals the fit-on-the-fly row; held-out back-off is finite and ordered") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat sat on the mat and the cat ran"),
      (2L, "the dog sat on the mat and the dog ran"),
      (3L, "the cat sat on the rug and the dog sat")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-kn-lm").toString
    TextAnalysis.buildKnLm(corpus, dir)
    // in-corpus: bit-identical to the in-memory fit (the oracle-share
    // contract of text_perplexity_kn_lm)
    val served = TextAnalysis.knPerplexityFromLm(spark, dir, corpus)
      .collect().map(_.toSeq).toSeq
    val fit = TextAnalysis.knPerplexity(corpus).collect().map(_.toSeq).toSeq
    assert(served == fit)
    // held-out: (a) seen bigram, (b) unseen bigram in seen context,
    // (c) seen w1 + unseen w2, (d) fully unseen context — all finite,
    // and surprisal must rise monotonically through that ladder for a
    // fixed context mass
    val held = Seq(
      (10L, "the cat sat"),        // all bigrams seen
      (11L, "the rug ran"),        // 'the rug' seen? 'rug ran' unseen in seen ctx
      (12L, "the zzz the"),        // unseen w2 under the richest context
      (13L, "qqq zzz qqq")).toDF("doc_id", "text") // nothing seen
    val h = TextAnalysis.knPerplexityFromLm(spark, dir, held)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(h.size == 4)
    h.values.foreach(v => assert(!v.isNaN && !v.isInfinite, h.toString))
    // seen text scores better than unseen-w2 text under the same context
    assert(h(10L) < h(12L), h.toString)
    // fully-unseen-context text is the worst of the ladder
    assert(h(13L) > h(10L), h.toString)
  }

  test("incremental KN LM: append is serve-invisible, replay-idempotent, and compaction equals a from-scratch rebuild bit-for-bit") {
    import spark.implicits._
    val snapA = Seq(
      (1L, "the cat sat on the mat and the cat ran"),
      (2L, "the dog sat on the mat and the dog ran")).toDF("doc_id", "text")
    // snapshot B includes a ONE-TOKEN doc: vocab must grow without a
    // bigram — the case that forces v to be a persisted table, not a
    // c2 derivation
    val snapB = Seq(
      (3L, "the cat sat on the rug and the dog sat"),
      (4L, "zebra")).toDF("doc_id", "text")
    val probe = Seq((20L, "the cat sat"), (21L, "the rug ran"))
      .toDF("doc_id", "text")
    val inc = java.nio.file.Files.createTempDirectory("graft-kn-inc").toString
    TextAnalysis.buildKnLm(snapA, inc)
    def serve(dir: String) = TextAnalysis
      .knPerplexityFromLm(spark, dir, probe).collect().map(_.toSeq).toSeq
    val frozen = serve(inc)
    // appends land as delta partitions the FROZEN serve never reads —
    // the CCNet topology: readers keep the reference LM until a
    // compaction publishes the refreshed version
    TextAnalysis.appendToKnLm(spark, inc, snapB, batchId = Some(0L))
    TextAnalysis.appendToKnLm(spark, inc, snapB, batchId = Some(0L)) // replay: batch-owned overwrite
    // partial-failure healing: simulate a crash BETWEEN the two delta
    // writes (vocab landed, c2 — the commit point — did not) by deleting
    // the c2 side; the auto-id retry must re-allocate the SAME id (ids
    // derive from c2_delta) and overwrite the orphan, never double-count
    val incRoot0 = graft.ext.IndexStore.resolve(spark, inc)
    val fs0 = new org.apache.hadoop.fs.Path(inc).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs0.delete(new org.apache.hadoop.fs.Path(s"$incRoot0/c2_delta/batch=0"), true)
    TextAnalysis.appendToKnLm(spark, inc, snapB) // auto id -> 0 again
    assert(fs0.exists(new org.apache.hadoop.fs.Path(s"$incRoot0/c2_delta/batch=0")))
    assert(!fs0.exists(new org.apache.hadoop.fs.Path(s"$incRoot0/c2_delta/batch=1")),
      "retry after a mid-append crash must reuse the uncommitted id")
    assert(serve(inc) == frozen, "append tail must be serve-invisible")
    TextAnalysis.compactKnLm(spark, inc)
    // folded store == from-scratch rebuild over the union corpus, table
    // by table (counts are exact integers; order-free comparison)
    val scratch = java.nio.file.Files.createTempDirectory("graft-kn-scr").toString
    TextAnalysis.buildKnLm(snapA.unionByName(snapB), scratch)
    val incRoot = graft.ext.IndexStore.resolve(spark, inc)
    val scrRoot = graft.ext.IndexStore.resolve(spark, scratch)
    assert(incRoot.endsWith("v_1"), incRoot) // compaction advanced the version
    for (t <- Seq("c2", "ctx", "cont", "vocab", "meta")) {
      def rows(r: String) = spark.read.parquet(s"$r/$t")
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
      assert(rows(incRoot) == rows(scrRoot), s"table $t diverged")
    }
    // and the serve over the compacted store equals the rebuilt store's
    assert(serve(inc) == serve(scratch))
    // a delta-free compaction is a pure version fold: identical tables
    TextAnalysis.compactKnLm(spark, inc)
    val r2 = graft.ext.IndexStore.resolve(spark, inc)
    assert(r2.endsWith("v_2"), r2)
    assert(serve(inc) == serve(scratch))
  }

  test("incremental KN LM: an orphan vocab_delta (crash before the c2 commit, no retry) is excluded from compaction (r13 advisor)") {
    import spark.implicits._
    val snapA = Seq(
      (1L, "the cat sat on the mat and the cat ran"),
      (2L, "the dog sat on the mat and the dog ran")).toDF("doc_id", "text")
    val snapB = Seq((3L, "the cat sat on the rug")).toDF("doc_id", "text")
    val snapC = Seq((4L, "zebra quagga")).toDF("doc_id", "text")
    val inc = java.nio.file.Files.createTempDirectory("graft-kn-orph").toString
    TextAnalysis.buildKnLm(snapA, inc)
    TextAnalysis.appendToKnLm(spark, inc, snapB, batchId = Some(0L)) // committed
    TextAnalysis.appendToKnLm(spark, inc, snapC, batchId = Some(1L))
    // crash between batch 1's two writes: vocab_delta landed, c2_delta
    // (the commit point) did not — and NO retry happens before the
    // compaction. The orphan's tokens must not inflate v.
    val root0 = graft.ext.IndexStore.resolve(spark, inc)
    val fs = new org.apache.hadoop.fs.Path(inc).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root0/c2_delta/batch=1"), true)
    TextAnalysis.compactKnLm(spark, inc)
    // folded store == rebuild over the COMMITTED corpus only (A ∪ B)
    val scratch = java.nio.file.Files.createTempDirectory("graft-kn-orph-scr").toString
    TextAnalysis.buildKnLm(snapA.unionByName(snapB), scratch)
    val incRoot = graft.ext.IndexStore.resolve(spark, inc)
    val scrRoot = graft.ext.IndexStore.resolve(spark, scratch)
    for (t <- Seq("c2", "ctx", "cont", "vocab", "meta")) {
      def rows(r: String) = spark.read.parquet(s"$r/$t")
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
      assert(rows(incRoot) == rows(scrRoot), s"table $t diverged")
    }
  }

  test("incremental BM25 index: append is serve-invisible, replay-idempotent, and compaction equals a from-scratch rebuild bit-for-bit") {
    import spark.implicits._
    def mkDocs(ids: Range) = ids.map { i =>
      (i.toLong, s"w${i % 7} w${i % 3} common filler${i % 5} tail$i")
    }.toDF("doc_id", "text")
    val snapA = mkDocs(0 until 40)
    val snapB = mkDocs(40 until 60)
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-inc").toString
    TextAnalysis.buildBm25Index(snapA, dir, mChampions = 8)
    def serve(d: String) = TextAnalysis
      .bm25TopKFromIndex(spark, d, queryEvery = 10, queryTerms = 3, topK = 3)
      .collect().map(_.toSeq).toSeq
    val frozen = serve(dir)
    // appends land as a delta tail the frozen serve never reads; the
    // SINGLE tf_delta write is the commit point (no orphan-table hazard
    // — unlike the KN store, there is exactly one delta table), and a
    // replayed delivery overwrites its own batch partition
    TextAnalysis.appendToBm25Index(spark, dir, snapB, batchId = Some(0L))
    TextAnalysis.appendToBm25Index(spark, dir, snapB, batchId = Some(0L)) // replay
    assert(serve(dir) == frozen, "append tail must be serve-invisible")
    TextAnalysis.compactBm25Index(spark, dir)
    // folded store == from-scratch rebuild over the union corpus, all six
    // tables (champion prefixes included: the TopKAggregator tie-break is
    // (-impact, doc_id), fully deterministic, and the folded tf/stats are
    // bit-identical inputs)
    val scratch = java.nio.file.Files.createTempDirectory("graft-bm25-scr").toString
    TextAnalysis.buildBm25Index(snapA.unionByName(snapB), scratch, mChampions = 8)
    val incRoot = graft.ext.IndexStore.resolve(spark, dir)
    val scrRoot = graft.ext.IndexStore.resolve(spark, scratch)
    assert(incRoot.endsWith("v_1"), incRoot) // compaction advanced the version
    for (t <- Seq("tf", "df", "stats", "tf_top", "champ_bounds", "champ_params")) {
      def rows(r: String) = spark.read.parquet(s"$r/$t")
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
      assert(rows(incRoot) == rows(scrRoot), s"table $t diverged")
    }
    assert(serve(dir) == serve(scratch))
    def champServe(d: String) = TextAnalysis
      .bm25TopKFromChampions(spark, d, queryEvery = 10, queryTerms = 3, topK = 3)
      .collect().map(_.toSeq).toSeq
    assert(champServe(dir) == champServe(scratch))
    // a delta-free compaction is a pure version fold: identical serve
    TextAnalysis.compactBm25Index(spark, dir)
    assert(graft.ext.IndexStore.resolve(spark, dir).endsWith("v_2"))
    assert(serve(dir) == serve(scratch))
  }

  test("incremental BM25 index: certified-serve coverage survives a compacted store, and the certified serve stays exact post-compact") {
    import spark.implicits._
    // the production spread derivation (SparkEntry.withSpread): block
    // tags with df 16/32/64/128 and block-unique ga term frequency —
    // the corpus shape whose champion certificate actually fires
    def block(ids: Range) = SparkEntry.withSpread(
      ids.map(i => (i.toLong, s"alpha beta gamma delta tail${i % 9}"))
        .toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-cov").toString
    TextAnalysis.buildBm25Index(block(0 until 512), dir)
    def coverage(d: String): Double = {
      val c = TextAnalysis.bm25ChampionCertificate(spark, d,
        queryEvery = 16, queryTerms = 4, topK = 5).collect()
      c.count(_.getBoolean(4)).toDouble / c.length
    }
    val before = coverage(dir)
    assert(before > 0.0, s"spread corpus must certify pre-compact ($before)")
    // a compaction shifts N, df and avgdl — idf and impact order move —
    // so coverage is re-measured against the refreshed certificate
    TextAnalysis.appendToBm25Index(spark, dir, block(512 until 1024))
    TextAnalysis.compactBm25Index(spark, dir)
    val after = coverage(dir)
    assert(after > 0.0, s"coverage must survive the compaction ($after)")
    // exactness is idf-refresh-proof: certified == exact on the new store
    def rows(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(_.toSeq).toSeq
    val exact = rows(TextAnalysis.bm25TopKFromIndex(spark, dir,
      queryEvery = 16, queryTerms = 4, topK = 5))
    val cert = rows(TextAnalysis.bm25TopKCertified(spark, dir,
      queryEvery = 16, queryTerms = 4, topK = 5))
    assert(cert == exact)
  }

  test("base builds fail loud on duplicate keys; PCA stats fail loud on ragged widths (r11 advisor)") {
    import spark.implicits._
    // duplicate vec_id: the base/recent serve split would keep both rows
    // forever (batch=-1 passes through without a per-key window)
    val dup = Seq((1L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 4.0f)),
      (2L, Array(5.0f, 6.0f))).toDF("vec_id", "embedding")
    val d1 = java.nio.file.Files.createTempDirectory("graft-dupkey").toString
    val e1 = intercept[IllegalArgumentException] {
      Similarity.buildInt8Index(dup, d1)
    }
    assert(e1.getMessage.contains("duplicate vec_id"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndex(dup, d1, nCells = 2, iters = 1)
    }
    assert(e2.getMessage.contains("duplicate vec_id"))
    val dupDocs = Seq((1L, "a b c"), (1L, "d e f")).toDF("doc_id", "text")
    val e3 = intercept[IllegalArgumentException] {
      Dedup.buildMinhashIndex(dupDocs, d1)
    }
    assert(e3.getMessage.contains("duplicate doc_id"))
    // ragged widths: silently truncating (old behavior pinned d to the
    // first row) would corrupt the moments; must surface as an error —
    // BOTH within a partition (executor require) and across internally-
    // uniform partitions of different widths (driver marker-row check,
    // r12 reviewer catch: the per-partition guard alone merged two
    // single-width partitions silently)
    val ragged = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding").repartition(1)
    val e4 = intercept[org.apache.spark.SparkException] {
      Similarity.pcaSufficientStats(ragged).collect()
    }
    assert(e4.getMessage.contains("ragged embedding width") ||
      Option(e4.getCause).exists(_.getMessage.contains("ragged embedding width")))
    // parallelize(_, 1): shuffle-free single-partition sides — a
    // repartition(1) union lets AQE coalesce both widths into ONE task,
    // where the in-task guard fires instead of the cross-partition one
    val w2 = spark.sparkContext
      .parallelize(Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f))), 1)
      .toDF("vec_id", "embedding")
    val w3 = spark.sparkContext
      .parallelize(Seq((3L, Array(1.0f, 2.0f, 3.0f)), (4L, Array(4.0f, 5.0f, 6.0f))), 1)
      .toDF("vec_id", "embedding")
    val e5 = intercept[IllegalArgumentException] {
      Similarity.pcaFit(w2.unionByName(w3), k = 1, iters = 1)
    }
    assert(e5.getMessage.contains("ragged embedding widths across partitions"),
      e5.getMessage)
    // and a unique-keyed build still succeeds (guard is not over-eager)
    Similarity.buildInt8Index(
      Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)))
        .toDF("vec_id", "embedding"), d1)
  }

  test("k-anonymity audit: singleton class flags, full class passes, risk exact") {
    import spark.implicits._
    val docs = (
      (1L to 5L).map(i => (i, "txt", "en", "s1", 100 + i.toInt)) :+
      ((9L, "txt", "de", "s2", 250))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.DataQuality.kAnonymityAudit(docs, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), r.getBoolean(4), r.getDouble(5)))).toMap
    assert(out(("en", "s1", 0L)) == ((5L, false, 0.2)))
    assert(out(("de", "s2", 1L)) == ((1L, true, 1.0)))
  }

  test("r15: array-bigram feature derivation ≡ window-lead reference, edge cases included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // edge cases the rewrite must preserve: empty text, whitespace-only,
    // single token, runs of separators (the filtered-token contract:
    // bigrams pair consecutive NON-empty tokens), repeats, unicode
    val d = Seq(
      (0L, ""), (1L, "   "), (2L, "solo"), (3L, "a  b\tc\nd"),
      (4L, "the the the"), (5L, "héllo wörld héllo wörld"),
      (6L, " leading and trailing "), (7L, "x y")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.hashedNgramFeatures(d, 64)
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the pre-r15 derivation, verbatim: posexplode + filter + lead window
    val tok = d.select(col("doc_id"),
        posexplode(split(lower(col("text")), "\\s+")))
      .withColumnRenamed("col", "token").filter(col("token") =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val ref = tok.select(col("doc_id"), col("token").as("f"))
      .union(tok.withColumn("nxt", lead(col("token"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("token"), col("nxt")).as("f")))
      .select(col("doc_id"),
        pmod(TextAnalysis.portableHash64(col("f")), lit(64L)).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == ref)
  }

  test("r15: joint PQ fit ≡ per-subspace kmeansFit (codebooks and codes bit-identical)") {
    import org.apache.spark.sql.functions._
    val (m, ks, iters, dim) = (4, 8, 2, 64)
    val subDim = dim / m
    val (books, assigned) = Similarity.pqFitJoint(emb, m, ks, iters, dim)
    val gotCodes = assigned.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    for (s <- 0 until m) {
      val sub = emb.select(col("vec_id"),
        slice(col("embedding"), s * subDim + 1, subDim).as("embedding"))
      val (refCents, refAssigned) = Similarity.kmeansFit(sub, ks, iters)
      // codebooks: same cells, bit-identical centroid doubles
      assert(books(s).map(_._1) == refCents.map(_._1), s"subspace $s cells")
      books(s).zip(refCents).foreach { case ((_, a), (_, b)) =>
        assert(a.toSeq == b.toSeq, s"subspace $s centroid drift")
      }
      val ref = refAssigned.collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(ref.forall { case (v, c) => gotCodes((v, s)) == c },
        s"subspace $s code drift")
    }
  }

  test("r15: label-propagation argmax via max(struct) ≡ row_number window form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // votes with n-ties (labels 3 vs 7 both n=2 for p=1: smaller label
    // wins in both forms) and a singleton
    val votes = Seq((1L, 3L, 2L), (1L, 7L, 2L), (1L, 5L, 1L),
      (2L, 9L, 4L), (2L, 1L, 4L), (3L, 6L, 1L)).toDF("p", "label", "n")
    val viaAgg = votes.groupBy(col("p"))
      .agg(max(struct(col("n"), (-col("label")).as("neg"))).as("m"))
      .select(col("p"), (-col("m.neg")).as("label"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaWindow = votes.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("p")).orderBy(col("n").desc, col("label"))))
      .filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg == viaWindow)
    assert(viaAgg == Map(1L -> 3L, 2L -> 1L, 3L -> 6L))
  }

  test("exhaustive settings reduce every ANN server to brute force") {
    import org.apache.spark.sql.DataFrame
    // probing every cell, every bucket, or a corpus-sized shortlist
    // leaves only the shared exact score and rank tail: each server must
    // then return brute force's rows exactly
    val qids = Seq(0L, 1L, 2L)
    val n = emb.count().toInt
    val labels = emb.select("label").distinct().count().toInt
    def rows(df: DataFrame): Set[(Long, Long, Double, Int)] =
      df.select("query_id", "vec_id", "cos", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val brute = rows(Similarity.bruteForceTopK(emb, qids, 10))
    val tmp = java.nio.file.Files.createTempDirectory("graft-exhaustive").toString
    Similarity.buildIvfIndex(emb, s"$tmp/ivf", nCells = 8)
    Similarity.buildPqIndex(emb, s"$tmp/pq")
    Similarity.buildJlIndex(emb, s"$tmp/jl")
    spark.catalog.clearCache()
    val servers: Seq[(String, () => DataFrame)] = Seq(
      "ivfTopK" -> (() => Similarity.ivfTopK(emb, qids, 10, nProbe = labels)),
      "ivfTopKKmeans" -> (() =>
        Similarity.ivfTopKKmeans(emb, qids, 10, nProbe = 8, nCells = 8)),
      "ivfTopKFromIndex" -> (() =>
        Similarity.ivfTopKFromIndex(spark, s"$tmp/ivf", qids, 10, nProbe = 8)),
      "jlShortlistTopK" -> (() => Similarity.jlShortlistTopK(emb, qids, 10, shortlist = n)),
      "jlTopKFromIndex" -> (() =>
        Similarity.jlTopKFromIndex(spark, s"$tmp/jl", qids, 10, shortlist = n)),
      "pqTopK" -> (() => Similarity.pqTopK(emb, qids, 10, shortlist = n)),
      "pqTopKFromIndex" -> (() =>
        Similarity.pqTopKFromIndex(spark, s"$tmp/pq", qids, 10, shortlist = n)),
      "ivfpqTopK" -> (() =>
        Similarity.ivfpqTopK(emb, qids, 10, nCells = 8, nProbe = 8, shortlist = n)),
      "lshTopK" -> (() => Similarity.lshTopK(emb, qids, 10, numPlanes = 4, nProbes = 16)))
    servers.foreach { case (name, serve) =>
      val got = rows(serve())
      spark.catalog.clearCache()
      assert(got == brute,
        s"$name: missed=${brute.diff(got).take(5)} extra=${got.diff(brute).take(5)}")
    }
  }
}
