package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data preparation pipeline — the composition a
  * user of this library actually ships, wired from the individually
  * oracle-gated stages:
  *
  *   1. quality gate — [[TextAnalysis.gopherFilter]] semantics (length,
  *      stopword density, repetition), with the repetition metric fed from
  *      a shingle scan SHARED with stage 2;
  *   2. near-dup removal — [[Dedup.nearDupPipeline]] candidates (LSH
  *      banding → exact Jaccard verify) over the same shared scan; every
  *      pair keeps its smaller doc_id (transitively: any doc that appears
  *      as a dropped side goes);
  *   3. language rebalancing — [[TextAnalysis.stratifiedSample]];
  *   4. train split — [[TextAnalysis.deterministicSplit]];
  *   5. sequence packing — [[TextAnalysis.packSequences]].
  *
  * Every stage keeps its individual scale shape (per-row maps, banded
  * candidate joins, two-phase prefix sum), so the composition inherits
  * them; the whole thing is one lazy plan until the sink.
  *
  * Output: (doc_id, n_tokens, seq_id, seq_offset) for the train split.
  *
  * Cache lifecycle: the pipeline caches its shared shingle stream, the
  * gate set, the clean set, the dropped-id set, and the train split for the duration of
  * the (lazy) result's evaluation; after materializing (write/collect),
  * long-lived sessions should release them (`spark.catalog.clearCache()`
  * or unpersist by plan). The harness mains do this between queries.
  *
  * First-run latency (measured with the `pipecold`/`pipewarm` modes of
  * `graft.Prof` as of commit af7eb30, local[32]): a fresh session pays
  * ~17 s for its first run at sf0.1 vs ~6 s steady — and the SAME ~17 s
  * for a first run at sf0.001, on 1/100th the data. The warm-up is
  * therefore ≥95 % data-independent code cost
  * (Janino whole-stage-codegen compilation, C2 JIT, Catalyst
  * analysis/optimization of the composed plan — all cached per session,
  * keyed by generated source). At production scale this is noise
  * (seconds of compile vs hours of 100 TB I/O); for latency-sensitive
  * repeated serving, [[preWarm]] is the SUPPORTED entry: run it once
  * during idle time (or pass `warmFirst = true` to [[trainingSet]]) and
  * the first full-scale run lands at ~1.2× steady state instead of ~3×
  * (measured with `graft.Prof pipeprewarm` as of commit af7eb30, sf0.1
  * local[32]: pre-warm 12.3 s on the 2% hash sample, then 7.1 s first
  * full run vs 6.0 s steady —
  * the plan-shape-preserving filter warms the RIGHT generated classes,
  * where the earlier limit-based experiment still paid 1.47×).
  */
object TrainingPipeline {

  /** Pre-warm a session for [[trainingSet]]: run the composed plan on a
    * small deterministic hash-sample of `docs` through a no-op sink, so
    * the session's codegen/JIT/analysis caches are hot before the
    * full-scale pass. Pass the SAME parameters you will pass to the real
    * run — thresholds are embedded as literals in the generated code, so
    * a pre-warm with different parameters compiles the WRONG sources.
    *
    * The sample is a pushed-down HASH FILTER (`xxhash64(doc_id) % mod`),
    * deliberately not a `limit`: Local/GlobalLimit operators would change
    * the whole-stage-codegen fusion and warm generated classes the full
    * plan never runs, while a scan-level filter keeps the physical plan
    * shape identical to the full run on ~1/`sampleMod` of the rows.
    *
    * Releases every cached plan it created before returning (the sample
    * run's cached intermediates must not shadow the full run's); call it
    * BEFORE registering session caches you want to keep.
    */
  def preWarm(docs: DataFrame,
      minTokens: Long = 30, minStopwordRatio: Double = 0.01,
      maxRepRatio: Double = 0.6, dupThreshold: Double = 0.8,
      sampleFractions: Map[String, Double] = Map("en" -> 0.5),
      trainPct: Int = 80, valPct: Int = 10,
      maxTokens: Long = 512, sampleMod: Int = 50): Unit = {
    val spark = docs.sparkSession
    val sample = docs.filter(
      pmod(xxhash64(col("doc_id")), lit(sampleMod.toLong)) === 0L)
    trainingSet(sample, minTokens, minStopwordRatio, maxRepRatio,
        dupThreshold, sampleFractions, trainPct, valPct, maxTokens)
      .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** The pipeline's intermediate frames, exposed for [[stageReport]]
    * (doc-count/token observability) without forking the stage wiring.
    */
  private[graft] case class PipelineStages(clean: DataFrame,
      surviving: DataFrame, sampled: DataFrame, train: DataFrame)

  def trainingSet(docs: DataFrame,
      minTokens: Long = 30, minStopwordRatio: Double = 0.01,
      maxRepRatio: Double = 0.6, dupThreshold: Double = 0.8,
      sampleFractions: Map[String, Double] = Map("en" -> 0.5),
      trainPct: Int = 80, valPct: Int = 10,
      maxTokens: Long = 512, warmFirst: Boolean = false): DataFrame = {
    if (warmFirst) preWarm(docs, minTokens, minStopwordRatio, maxRepRatio,
      dupThreshold, sampleFractions, trainPct, valPct, maxTokens)
    val st = buildStages(docs, minTokens, minStopwordRatio, maxRepRatio,
      dupThreshold, sampleFractions, trainPct, valPct)
    // the train frame carries the quality gate's n_tokens (r16), so the
    // packer reuses it instead of re-tokenizing the split's full text;
    // cacheInput = false — st.train is already cached, and the packer's
    // own input cache on top of it measured as a pure cold-run planning
    // regression (see packSequencesSized's scaladoc)
    TextAnalysis.packSequencesSized(
      st.train.select(col("doc_id"), col("n_tokens")), maxTokens,
      cacheInput = false)
  }

  private def buildStages(docs: DataFrame,
      minTokens: Long, minStopwordRatio: Double,
      maxRepRatio: Double, dupThreshold: Double,
      sampleFractions: Map[String, Double],
      trainPct: Int, valPct: Int): PipelineStages =
    buildStages(docs, minTokens, minStopwordRatio, maxRepRatio,
      dupThreshold, sampleFractions, trainPct, valPct,
      cacheDropped = false)

  /** Per-stage retention report — the curation-funnel observability a
    * pipeline run ships alongside its output (how many docs/tokens each
    * stage cut is the first question every data-recipe review asks).
    * Five 1-row aggregates over the SAME cached stage frames
    * [[trainingSet]] builds (shared [[buildStages]] wiring — the report
    * can never disagree with the pipeline), unioned with a broadcast
    * input total into `retained` fractions.
    */
  def stageReport(docs: DataFrame,
      minTokens: Long = 30, minStopwordRatio: Double = 0.01,
      maxRepRatio: Double = 0.6, dupThreshold: Double = 0.8,
      sampleFractions: Map[String, Double] = Map("en" -> 0.5),
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val st = buildStages(docs, minTokens, minStopwordRatio, maxRepRatio,
      dupThreshold, sampleFractions, trainPct, valPct, cacheDropped = true)
    // every stage frame downstream of the gate carries the gate's
    // n_tokens column (r16): its value IS tokenCount(text) for the row,
    // so the four stage stats are sums over a cached long column instead
    // of four more regexp passes over the (progressively smaller) full
    // text — only the input row still tokenizes, once
    def stat(order: Int, name: String, df: DataFrame,
        nt: org.apache.spark.sql.Column): DataFrame =
      df.select(nt.as("nt"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("nt")), lit(0L)).as("n_tokens"))
        .select(lit(order).as("stage_order"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    val gateNt = col("n_tokens")
    val stages = stat(0, "input", docs, TextAnalysis.tokenCount(col("text")))
      .unionAll(stat(1, "quality_gate", st.clean, gateNt))
      .unionAll(stat(2, "near_dedup", st.surviving, gateNt))
      .unionAll(stat(3, "rebalance", st.sampled, gateNt))
      .unionAll(stat(4, "train_split", st.train, gateNt))
    val inCnt = docs.agg(count(lit(1)).as("n_input"))
    stages.crossJoin(broadcast(inCnt))
      .select(col("stage_order"), col("stage"), col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("n_input"), 4).as("retained"))
      .orderBy(col("stage_order"))
  }

  private def buildStages(docs: DataFrame,
      minTokens: Long, minStopwordRatio: Double,
      maxRepRatio: Double, dupThreshold: Double,
      sampleFractions: Map[String, Double],
      trainPct: Int, valPct: Int, cacheDropped: Boolean): PipelineStages = {
    // ONE hashed tokenize+shingle scan feeds BOTH the quality gate's
    // repetition metric and the dedup stage's signatures/verifier — the
    // two heaviest stages no longer scan the corpus independently
    val shAll = Dedup.shinglesMultiset(docs)
      .select(col("doc_id"), xxhash64(col("sh")).as("sh")).cache()
    val rep = TextAnalysis.repetitionScoresFromHashed(shAll)
      .select(col("doc_id"), col("rep_ratio"))
    // cached: the gate set (bounded: one (id, n_tokens) row per surviving
    // doc) has two consumers (the clean-doc join and the shingle
    // restriction); n_tokens rides along (r16) so the report stats and
    // the packer never re-tokenize text downstream of the gate
    val gate = TextAnalysis.qualityScores(docs)
      .select(col("doc_id"), col("n_tokens"), col("stopword_ratio"))
      .join(rep, Seq("doc_id"))
      .filter(col("n_tokens") >= minTokens &&
        col("stopword_ratio") >= minStopwordRatio &&
        col("rep_ratio") <= maxRepRatio)
      .select(col("doc_id"), col("n_tokens"))
      .cache()
    // cached: three downstream consumers (dedup candidate restriction, the
    // rebalance join, packing) would each re-run the scan + gate otherwise.
    // Inner join ≡ the old left_semi row-for-row (gate is one row per
    // doc_id by construction), now also attaching the gate's n_tokens.
    val clean = docs.join(gate, Seq("doc_id")).cache()
    val shClean = shAll.join(gate, Seq("doc_id"), "left_semi")
    // cacheDropped (r16): the dropped-id set is EDGE-sized (one column,
    // only docs an LSH-verified pair condemned) but sits on top of the
    // whole banding + verify chain — stageReport's near_dedup /
    // rebalance / train_split stats are separate union branches that
    // share no uncached subtree, so without this cache each one re-ran
    // the dedup join pipeline (3× at sf0.1). trainingSet materializes
    // the chain exactly once (the train cache fill), so there the cache
    // is pure overhead — measured +~1.2 s at sf0.1 — and stays OFF.
    val droppedRaw = Dedup.nearDupPipelineFromHashedShingles(shClean, dupThreshold)
      .select(col("b").as("doc_id")).distinct()
    val dropped = if (cacheDropped) droppedRaw.cache() else droppedRaw
    val surviving = clean.join(dropped, Seq("doc_id"), "left_anti")
    val sampled = TextAnalysis.stratifiedSample(surviving, "lang", sampleFractions)
    // cached: packSequences opens with a max(doc_id) ACTION for its
    // bucketing span, then reads its input again for the real output —
    // uncached, the dedup/rebalance/split stages would execute TWICE
    val train = TextAnalysis.deterministicSplit(sampled, trainPct = trainPct, valPct = valPct)
      .filter(col("split") === "train")
      .drop("split")
      .cache()
    PipelineStages(clean, surviving, sampled, train)
  }
}
