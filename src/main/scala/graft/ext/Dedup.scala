package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star
  * extension surface; BASELINE.json). Operates on the `documents` table
  * (`doc_id, text, lang, source, n_chars`).
  *
  * Four tiers, in increasing tolerance to edits:
  *   1. [[exact]] — hash-groupBy on a text fingerprint.
  *   2. [[ngramJaccardPairs]] — exact word-shingle Jaccard via shingle join.
  *   3. [[minhashSignatures]]/[[minhashCandidatePairs]] — MinHash + LSH
  *      banding (shingle → minhash → band → bucket-join), the standard
  *      100 TB near-dup path: cost is O(docs × bands), never O(docs²).
  *   4. [[simhash64]]/[[simhashCandidatePairs]] — 64-bit SimHash with
  *      byte-band candidate generation + Hamming verification.
  *
  * Everything is built from codegen'd built-ins (`xxhash64`, `explode`,
  * higher-order array functions) — no UDFs, no RDDs.
  */
object Dedup {

  /** Exact dedup: one representative (min doc_id) per distinct text, with
    * multiplicity. At scale: shuffle keys are md5 fingerprints; payload
    * columns are pruned before the exchange.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** Exact-dedup filter form: the surviving rows themselves (what a
    * pipeline actually feeds downstream).
    */
  def exactSurvivors(docs: DataFrame): DataFrame = {
    // group on the 16-byte fingerprint, never the raw text: the exchange
    // carries digests, not whole documents (same collision tolerance as
    // [[exact]])
    val keep = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** Quality-aware survivor selection over the NEAR-dup clusters: where
    * [[exactSurvivors]] keeps the first copy of byte-identical text,
    * this keeps each near-dup cluster's HIGHEST-quality member (the
    * corpus quality score, ties to the larger doc_id via struct-max) —
    * the production stance when near-dups differ in boilerplate or
    * truncation: keep-first keeps whichever crawl landed first;
    * keep-best keeps the cleanest. Emits one row per cluster with the
    * kept doc and its score; the kept corpus is these survivors plus
    * every unclustered doc.
    *
    * Scale shape: the cluster map is the LSH-pruned [[dupClusters]]
    * output (edge-sized, not corpus-sized), the score is a per-row map
    * joined doc_id-keyed, and the argmax is one cluster-keyed struct-max
    * aggregation — nothing here rescans text beyond the one scoring
    * pass.
    */
  def bestSurvivors(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val clusters = dupClusters(nearDupPipeline(docs, threshold))
    val scored = docs.select(col("doc_id"),
      graft.ext.TextAnalysis.qualityScore.as("score"))
    clusters.join(scored, Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score"), col("doc_id"))).as("best"))
      .select(col("cluster"), col("n_members"),
        col("best.doc_id").as("keep_doc"), col("best.score").as("keep_score"))
      .orderBy(col("cluster"))
  }

  /** Distinct word n-gram shingles per document: (doc_id, sh).
    * Lowercased, whitespace-tokenized, consecutive n-token windows.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shinglesMultiset(docs, n).distinct()

  /** (doc_id, sh) with multiplicity — one row per shingle occurrence.
    *
    * Deliberately NOT the `transform(sequence(...), element_at(toks, ...))`
    * higher-order formulation: lambda bodies are interpreted and
    * CollapseProject inlines the tokenization alias into every element
    * access, so each doc re-ran the regex split ~3×(len−2) times (measured
    * 12+ s at sf0.1 for 260k shingles). posexplode + window `lead` stays
    * in whole-stage codegen: split once per row, one hash shuffle on
    * doc_id for the window.
    *
    * r15 re-measured the IMPROVED array form too — tokens materialized
    * once per row as a named attribute (SPARK-36718 keeps the split
    * un-inlined), n-gram built by a `transform` lambda over that
    * attribute, removing the window's token-row exchange outright. It
    * is STILL slower: interpreted per-element lambda evaluation
    * (3 `element_at` + `concat_ws` per shingle, outside whole-stage
    * codegen) costs more than the exchange it saves — 10 of 12
    * interleaved solo A/B pairs regressed (e.g. text_split_leakage
    * 2.6→3.1 s, dedup_prefix_jaccard 2.6→3.3 s at sf0.1), so the window
    * form stays. Contrast [[TextAnalysis.hashedNgramFeatures]], where
    * the same array rewrite WINS: its consumers re-scan the feature
    * frame per GD round, so the removed exchange amortizes across
    * iterations and the lambda is 2-element.
    */
  private[graft] def shinglesMultiset(docs: DataFrame, n: Int = 3): DataFrame = {
    val tok = docs
      .select(col("doc_id"), posexplode(split(lower(col("text")), "\\s+")))
      .withColumnRenamed("col", "token")
      .filter(col("token") =!= "")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val parts = col("token") +: (1 until n).map(j => lead(col("token"), j).over(w))
    tok
      .withColumn("_last", lead(col("token"), n - 1).over(w))
      .withColumn("sh", concat_ws(" ", parts: _*))
      .filter(col("_last").isNotNull)
      .select(col("doc_id"), col("sh"))
  }

  /** Exact n-gram Jaccard near-dup pairs: |A∩B| via shingle equi-join,
    * |A∪B| = |A|+|B|−|A∩B|. Only docs sharing ≥1 shingle ever meet, so the
    * join is sparse; at 100 TB you run [[minhashCandidatePairs]] first and
    * feed ONLY candidates through this as the verifier.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.8, n: Int = 3): DataFrame = {
    // join on the 64-bit shingle hash, not the shingle string: the shuffle
    // moves 8-byte keys instead of ~25-byte text, and equality is a long
    // compare (collision odds over 2^64 are negligible vs 4-decimal jaccard)
    val sh = shingles(docs, n)
      .select(col("doc_id"), xxhash64(col("sh")).as("sh")).cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("doc_id").as("a"), col("sh"))
    val b = sh.select(col("doc_id").as("b"), col("sh"))
    val common = a.join(b, Seq("sh")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    common
      .join(counts.select(col("doc_id").as("a"), col("n_sh").as("n_a")), Seq("a"))
      .join(counts.select(col("doc_id").as("b"), col("n_sh").as("n_b")), Seq("b"))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("common"), col("n_a"), col("n_b"), col("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** Candidate pairs under PREFIX FILTERING (the SSJoin / All-Pairs
    * lineage: Chaudhuri et al. ICDE'06 §4, Bayardo et al. WWW'07 §3):
    * instead of meeting on EVERY shared shingle (Σ df² candidate work,
    * [[ngramJaccardPairs]]'s generation cost), each document exposes only
    * its prefix — the `|S| − ⌈t·|S|⌉ + 1` globally-RAREST shingles under
    * the fixed (df asc, hash asc) total order — and pairs meet only on
    * shared prefix shingles. Completeness (prefix-filter lemma): J ≥ t
    * forces `|A∩B| ≥ ⌈t·max(|A|,|B|)⌉`, and two sets overlapping in ≥ α
    * elements must collide within their `|S| − α + 1` prefixes under any
    * common total order — our per-doc prefixes are supersets of those, so
    * no qualifying pair is missed. The length filter (`min/max ≥ t`,
    * itself implied by J ≥ t) prunes mismatched-size survivors.
    *
    * Float hygiene, both conservative-by-construction: the required
    * overlap uses `ceil(t·|S| − 1e-9)` so binary-representation noise in
    * `t·|S|` can only LENGTHEN the prefix (extra candidates, never a
    * miss), and the length filter compares `round(min/max, 4) ≥ t` — an
    * upper bound on the final gate's `round(J, 4)` since rounding is
    * monotone and `J ≤ min/max` pointwise.
    */
  private[graft] def prefixJaccardCandidates(sh: DataFrame,
      threshold: Double): DataFrame = {
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // global document frequency — the rarity order every doc ranks by
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val ranked = sh.join(dfreq, Seq("sh"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
    val pref = ranked.join(counts, Seq("doc_id"))
      .filter(col("pos") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("sh"), col("pos"), col("n_sh"))
    pref.select(col("doc_id").as("a"), col("sh"),
        col("pos").as("pos_a"), col("n_sh").as("n_a"))
      .join(pref.select(col("doc_id").as("b"), col("sh"),
        col("pos").as("pos_b"), col("n_sh").as("n_b")), Seq("sh"))
      .filter(col("a") < col("b"))
      // length filter: J >= t forces min/max >= t
      .filter(round(least(col("n_a"), col("n_b")).cast("double") /
        greatest(col("n_a"), col("n_b")), 4) >= threshold)
      // POSITIONAL filter (PPJoin, Xiao et al. WWW'08 §3.1): a shared
      // element at ranks (pos_a, pos_b) bounds the whole intersection —
      // every common element sorts at-or-after it in the shared global
      // order, so |A∩B| ≤ 1 + min(n_a − pos_a, n_b − pos_b); J ≥ t needs
      // |A∩B| ≥ t(n_a+n_b)/(1+t). Keeping a pair when ANY of its shared
      // prefix entries passes is a relaxation of PPJoin's accumulated
      // form, so completeness holds; for a qualifying pair the
      // smallest-df common element is in both prefixes and passes by the
      // bound above. This is the filter that tames TEMPLATED corpora —
      // mutated near-copies sharing many sub-threshold shingles generate
      // their candidates only through late-prefix collisions, exactly
      // the entries this prunes.
      .filter((lit(1) + least(col("n_a") - col("pos_a"),
          col("n_b") - col("pos_b"))).cast("double") >=
        lit(threshold / (1.0 + threshold)) * (col("n_a") + col("n_b")) - lit(1e-9))
      .select(col("a"), col("b")).distinct()
  }

  /** Exact n-gram Jaccard pairs via prefix filtering — SAME OUTPUT as
    * [[ngramJaccardPairs]] by the completeness lemma (the oracle row
    * reuses that query's SQL verbatim), different candidate economics:
    * generation joins only prefix shingles (the rarest few per doc), so
    * the quadratic blow-up concentrates where it is provably needed. The
    * verify stage recomputes the exact intersection over candidates'
    * FULL shingle sets and applies the identical round-4 gate.
    *
    * Scale shape: df is one shingle-keyed aggregation; the rarity rank
    * is a per-doc window (doc-sized partitions); candidate generation is
    * an equi-join on prefix shingles whose per-key fan-out is prefix-df²
    * — at a crawl-scale corpus this is the difference between joining on
    * "the" (df ~ every doc) and joining on each doc's rarest trigrams.
    * Verification touches only candidate pairs (semi-join shaped, two
    * doc_id-keyed joins). At 100 TB this is the EXACT-join complement to
    * [[minhashCandidatePairs]]: same sparse-join discipline, zero recall
    * loss, for thresholds high enough that prefixes stay short.
    */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double = 0.8,
      n: Int = 3): DataFrame = {
    val sh = shingles(docs, n)
      .select(col("doc_id"), xxhash64(col("sh")).as("sh")).cache()
    val cand = prefixJaccardCandidates(sh, threshold)
    try {
    // verify on PACKED sets, not a pair×shingle join-aggregate: each doc's
    // distinct shingle hashes collapse once into one sorted array, and
    // every candidate pair costs ONE row carrying two ~n·8-byte arrays
    // through `array_intersect` (codegen'd). The join-aggregate form
    // shuffles |cand|·n̄ rows — measured 227 s vs this at sf1 on a
    // templated corpus where candidates number in the millions; the
    // array form moves ~1/n̄ the rows for the same exact answer
    // (arrays hold DISTINCT hashes, so intersect size = |A∩B| exactly).
    val sets = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("sh"))).as("shs"),
        count(lit(1)).as("n_sh"))
    cand
      .join(sets.select(col("doc_id").as("a"), col("shs").as("shs_a"),
        col("n_sh").as("n_a")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("shs").as("shs_b"),
        col("n_sh").as("n_b")), Seq("b"))
      .withColumn("common",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("common"), col("n_a"), col("n_b"), col("jaccard"))
      .orderBy(col("a"), col("b"))
      // materialize, then release the cached shingle frame — the lrModel
      // try/finally discipline; long-lived drivers must not accumulate it
      .localCheckpoint()
    } finally sh.unpersist()
  }

  /** Prime modulus (2^31 − 1) for the portable min-wise family: operands
    * stay < 2^31, so every product fits in a 64-bit signed int in BOTH
    * engines (DuckDB raises on BIGINT overflow — no wraparound there).
    */
  private[graft] val MinhashP = 2147483647L

  /** Fixed-seed affine coefficients (a_i ∈ [1, P−1], b_i ∈ [0, P−1]) for
    * `h_i(x) = (a_i·h(x) + b_i) mod P` — the classic universal-hashing way
    * to derive k MinHash views from ONE base hash.
    */
  private[graft] def minhashCoeffs(numHashes: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(numHashes)(
      (1L + rnd.nextInt((MinhashP - 1).toInt).toLong,
        rnd.nextInt(MinhashP.toInt).toLong))
  }

  /** MinHash signatures: k independent hash views of the shingle set,
    * `sig_i = min over shingles of (a_i·h(sh) + b_i) mod P` with h the
    * portable md5-prefix hash — ONE digest per shingle occurrence plus k
    * multiply-mods (cheaper than k independent string hashes), and
    * bit-identical in the DuckDB oracle. One explode + one groupBy —
    * linear in total shingle count.
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 32, n: Int = 3): DataFrame = {
    // no distinct(): min over a multiset equals min over the set, so the
    // dedup shuffle shingles() would add is pure waste here
    val sh = shinglesMultiset(docs, n)
      .select(col("doc_id"),
        (TextAnalysis.portableHash64(col("sh")) % MinhashP).as("h"))
    val aggs = minhashCoeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % MinhashP).as(s"mh_$i") }
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Crawl-feed cartography: estimated VOCABULARY Jaccard between every
    * pair of sources, via source-level MinHash over word sets (the same
    * portable min-wise family as [[minhashSignatures]], different
    * granularity: the set is "words this feed uses", not "shingles this
    * doc contains"). Two feeds with est_jaccard ≈ 1 are the same crawl
    * arriving twice under different labels — the mixture-governance
    * check run before weighting sources independently.
    *
    * Scale shape: the corpus reduces through ONE map-side-combined
    * groupBy to a `|sources| × k` signature table (min over a multiset
    * equals min over the set, so no distinct shuffle); the pair matrix
    * is a broadcast self-cross of that bounded table — thousands of
    * sources means ~10⁶ cheap integer-compare rows, nowhere near corpus
    * cost. Past ~10⁴ sources, reuse [[minhashBands]] on these signatures
    * to prune the matrix to near-duplicate feeds only.
    */
  def sourceSimilarity(docs: DataFrame, groupCol: String = "source",
      numHashes: Int = 32): DataFrame = {
    val hashed = docs
      .select(col(groupCol).as("g"),
        explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .select(col("g"),
        (graft.ext.TextAnalysis.portableHash64(col("word")) % MinhashP).as("h"))
    val aggs = minhashCoeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % MinhashP).as(s"mh_$i") }
    val sig = hashed.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
    val sigA = sig.select(col("g").as("a") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"a_mh_$i")): _*)
    val sigB = sig.select(col("g").as("b") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"b_mh_$i")): _*)
    val matches = (0 until numHashes).map(i =>
      when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    sigA.crossJoin(broadcast(sigB))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(matches.cast("double") / numHashes, 4).as("est_jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** LSH banding: split the signature into `bands` groups of `rowsPerBand`
    * and key each group with one hash. Docs colliding on ANY band key are
    * candidates. P(candidate | J) = 1 − (1 − J^r)^b — with r=4, b=8 a
    * J=0.9 pair is caught w.p. ~0.999 while J=0.1 pairs essentially never
    * collide, which is what bounds the pair-join at scale.
    */
  def minhashBands(signatures: DataFrame, bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val bandKeys = (0 until bands).map { bIdx =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh_${bIdx * rowsPerBand + r}"))
      struct(lit(bIdx).as("band"), xxhash64(cols: _*).as("key")).as(s"bk_$bIdx")
    }
    signatures
      .select(col("doc_id"), array(bandKeys: _*).as("bks"))
      .select(col("doc_id"), explode(col("bks")).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate pairs from band-bucket collisions + estimated Jaccard
    * (fraction of matching signature components). Output is verified
    * against exact Jaccard in tests; production feeds candidates to
    * [[ngramJaccardPairs]]-style verification.
    */
  def minhashCandidatePairs(
      docs: DataFrame, numHashes: Int = 32, bands: Int = 8, rowsPerBand: Int = 4,
      estThreshold: Double = 0.5): DataFrame = {
    val sig = minhashSignatures(docs, numHashes).cache()
    val bandDf = minhashBands(sig, bands, rowsPerBand)
    val cand = bandDf.select(col("doc_id").as("a"), col("band"), col("key"))
      .join(bandDf.select(col("doc_id").as("b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val sigA = sig.select(col("doc_id").as("a") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"a_mh_$i")): _*)
    val sigB = sig.select(col("doc_id").as("b") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"b_mh_$i")): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sigA, Seq("a")).join(sigB, Seq("b"))
      .withColumn("est_jaccard", round(matches.cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= estThreshold)
      .select(col("a"), col("b"), col("est_jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** The production near-dup pipeline: LSH banding proposes candidate
    * pairs (O(docs × bands)), exact shingle-Jaccard verifies ONLY those
    * candidates. Equivalent to the full quadratic [[ngramJaccardPairs]]
    * whenever banding recall is 1 at the threshold (holds for planted
    * near-dups at J≥0.9; banding parameters control the guarantee).
    *
    * Cache lifecycle: the shared shingle stream is cached for the
    * duration of the (lazy) result's evaluation and the result may be
    * large, so it is NOT eagerly materialized here — after materializing
    * (write/collect), long-lived sessions should release the caches
    * (`spark.catalog.clearCache()` or unpersist by plan).
    */
  def nearDupPipeline(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
      numHashes: Int = 32, bands: Int = 8, rowsPerBand: Int = 4,
      cacheRegistry: Option[scala.collection.mutable.Buffer[DataFrame]] = None): DataFrame = {
    // ONE tokenize+shingle scan feeds both stages: minhash signatures take
    // min over the hashed multiset (min is distinct-invariant), the
    // verifier takes the distinct set of the same hashed stream
    val shAll = shinglesMultiset(docs, n)
      .select(col("doc_id"), xxhash64(col("sh")).as("sh")).cache()
    cacheRegistry.foreach(_ += shAll)
    nearDupPipelineFromHashedShingles(shAll, threshold, numHashes, bands, rowsPerBand,
      cacheRegistry)
  }

  /** [[nearDupPipeline]] body over a PRE-COMPUTED hashed shingle multiset
    * (doc_id, sh: 64-bit hash, one row per occurrence) — lets a composed
    * pipeline (e.g. [[TrainingPipeline]]) share one tokenize+shingle scan
    * between the quality gate's repetition metric and this dedup stage
    * instead of scanning the corpus twice.
    *
    * `cacheRegistry`, when supplied, collects every cache this pipeline
    * creates so a caller that must bound memory (e.g. a long-running
    * streaming job) can unpersist them BY PLAN after materializing —
    * without resorting to a session-wide `clearCache` that would nuke
    * co-resident workloads' caches.
    */
  private[graft] def nearDupPipelineFromHashedShingles(shAll: DataFrame,
      threshold: Double = 0.8, numHashes: Int = 32, bands: Int = 8,
      rowsPerBand: Int = 4,
      cacheRegistry: Option[scala.collection.mutable.Buffer[DataFrame]] = None): DataFrame = {
    // k MinHash views as affine transforms of the ONE existing 64-bit
    // shingle hash (mod P) — a multiply-mod per view instead of a fresh
    // xxhash64 over the key bytes; the universal-hash family from
    // [[minhashSignatures]]. NOTE the exact verifier only filters
    // LSH-PROPOSED candidates — it cannot restore a pair banding never
    // proposes, so end-to-end correctness rests on banding recall staying
    // 1.0 at the threshold. That property is what the dedup_pipeline
    // oracle (full quadratic ground truth, tri-scale) actually gates;
    // anyone changing the hash family or band geometry must re-check it.
    val aggs = minhashCoeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * pmod(col("sh"), lit(MinhashP)) + lit(b)) % MinhashP).as(s"mh_$i") }
    val sig = shAll.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val bandDf = minhashBands(sig, bands, rowsPerBand)
    val cand = bandDf.select(col("doc_id").as("a"), col("band"), col("key"))
      .join(bandDf.select(col("doc_id").as("b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    // semi-restrict the shingle stream to docs appearing in any candidate:
    // verification touches only the LSH-selected fraction
    val docsInCand = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    // exact verify via per-doc shingle SETS + array_intersect, not a
    // shingle-level self-join: the old form shuffled every shingle
    // occurrence of every candidate doc through a join on `sh` plus a
    // pair-level groupBy (5 exchanges); this form shuffles ONE array row
    // per candidate doc (collect_set dedups in the same aggregation) and
    // computes |A∩B| per proposed pair with a codegen'd array intersect —
    // strictly fewer exchanges and strictly less exchanged data. Arrays
    // are bounded by per-doc shingle counts (a doc's length), never by
    // corpus size, so the row width stays sane at 100 TB. Measured sf0.1:
    // the dedup stage drops ~1.5 s and the identical Jaccard values keep
    // the full-quadratic DuckDB oracle green.
    val shSets = shAll
      .join(docsInCand, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("sh")).as("shs"))
      .cache()
    cacheRegistry.foreach(_ += shSets)
    cand
      .join(shSets.select(col("doc_id").as("a"), col("shs").as("shs_a")), Seq("a"))
      .join(shSets.select(col("doc_id").as("b"), col("shs").as("shs_b")), Seq("b"))
      .withColumn("common", size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (size(col("shs_a")).cast("long") + size(col("shs_b")).cast("long") - col("common")), 4))
      // at threshold 0.0 the old inner shingle-join structurally dropped
      // zero-overlap candidate pairs, so the array form needs an explicit
      // common > 0 there — but ONLY there: any positive threshold already
      // rejects jaccard = 0, and the extra conjunct is not free (pushdown
      // inlines `common` = size(array_intersect(...)) into every
      // conjunct, and FilterExec codegen has no cross-conjunct
      // subexpression elimination, so surviving pairs would pay a third
      // array_intersect evaluation — measured ~9% on the composed
      // pipeline at sf0.1)
      .filter(if (threshold > 0) col("jaccard") >= threshold
        else col("common") > 0 && col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** 64-bit SimHash per document: sign of the per-bit sum of token-hash
    * contributions (+1/−1), token-frequency weighted. explode + one
    * 64-column aggregation; linear, shuffle on doc_id only.
    *
    * `hash` defaults to the portable md5-prefix hash (60 informative bits;
    * bits 60–63 are constant-zero) so the operator sits inside the DuckDB
    * oracle gate; pass `xxhash64(_)` for a full-width, faster production
    * hash when cross-engine parity doesn't matter.
    */
  def simhash64(docs: DataFrame,
      hash: Column => Column = TextAnalysis.portableHash64): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .withColumn("h", hash(col("token")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$j")
    }
    val sim = (0 until 64).map { j =>
      when(col(s"b_$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-dup candidates: 4 bands × 16 bits — by pigeonhole, two
    * docs within Hamming distance 3 differ in at most 3 of the 4 bands, so
    * they MUST collide on at least one 16-bit band key (exact for d ≤ 3).
    * Candidates are then verified with `bit_count(xor)`.
    *
    * Band width is the scale lever: 16-bit keys give 65,536 buckets per
    * band, so candidate generation is ~Σ bucket² ≈ n²/65,536 under a
    * uniform hash — vs n²/256 for the 8-bit byte-banding this replaces,
    * which was a genuine 100× scale-killer (VERDICT r1). Wider bands (fewer
    * of them) trade guaranteed-distance down: b bands of 64/b bits are
    * exact for d ≤ b−1.
    */
  def simhashCandidatePairs(docs: DataFrame, maxHamming: Int = 3,
      hash: Column => Column = TextAnalysis.portableHash64): DataFrame = {
    val sim = simhash64(docs, hash).cache()
    val banded = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(bIdx =>
        struct(lit(bIdx).as("band"),
          shiftright(col("simhash"), bIdx * 16).bitwiseAND(0xFFFF).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
    val cand = banded.select(col("doc_id").as("a"), col("simhash").as("sim_a"), col("band"), col("key"))
      .join(banded.select(col("doc_id").as("b"), col("simhash").as("sim_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("sim_a"), col("sim_b")).distinct()
    cand
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy(col("a"), col("b"))
  }

  /** SEMANTIC decontamination: corpus embeddings too close (cosine ≥
    * `threshold`) to any held-out benchmark embedding — the
    * embedding-level complement to the lexical tier below
    * ([[contamination]] / [[contaminationFraction]] / Bloom): paraphrased
    * or translated benchmark leakage shares no n-grams but sits next to
    * the benchmark in embedding space (the "semantic contamination"
    * check in modern training-data audits). One row per contaminated
    * corpus vector: hit count, closest benchmark id and its cosine
    * (struct-max — deterministic under ties).
    *
    * Scale shape: both sides bucket under the SAME `numTables`
    * sign-random-projection tables ([[graft.ext.Similarity.lshBuckets]],
    * seeds 42+t — a per-row map in the scan stage); the benchmark side is
    * eval-set-sized by nature, so its bucketed projection BROADCASTS and
    * the per-table candidate join is a map-side hash probe of the corpus
    * scan — the corpus is never shuffled, let alone paired with itself.
    * Cosine verification touches only bucket collisions. Recall is the
    * standard LSH trade (more tables → more recall); near-exact copies
    * (cos ≈ 1) collide in every table by construction — the case
    * decontamination exists for.
    */
  def semanticContamination(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.3, numPlanes: Int = 4, dim: Int = 64,
      numTables: Int = 4): DataFrame = {
    val buckets = (0 until numTables).map { t =>
      Similarity.lshBuckets(benchmark, numPlanes, dim, 42L + t)
        .select(lit(t).as("t"), col("vec_id").as("bench_id"), col("bucket"))
    }.reduce(_ unionByName _)
    semContamProbe(corpus, buckets,
      benchmark.select(col("vec_id").as("bench_id"), col("embedding")),
      threshold, numPlanes, dim, numTables)
  }

  /** The probe core shared by the in-memory, persisted-store, and
    * streaming paths: bucket the corpus under the same tables, collide
    * with the (broadcast) benchmark bucket table, cosine-verify against
    * the (broadcast) benchmark vectors, struct-max per corpus vec. One
    * definition — the three paths cannot fork.
    */
  private[graft] def semContamProbe(corpus: DataFrame, benchBuckets: DataFrame,
      benchVectors: DataFrame, threshold: Double, numPlanes: Int, dim: Int,
      numTables: Int): DataFrame = {
    val cand = (0 until numTables).map { t =>
      Similarity.lshBuckets(corpus, numPlanes, dim, 42L + t)
        .select(col("vec_id").as("a"), col("bucket"))
        .join(broadcast(benchBuckets.filter(col("t") === t)
          .select(col("bench_id"), col("bucket"))), Seq("bucket"))
        .select(col("a"), col("bench_id"))
    }.reduce(_ union _).distinct()
    val ver = cand
      .join(corpus.select(col("vec_id").as("a"), col("embedding").as("emb_a")),
        Seq("a"))
      .join(broadcast(benchVectors.select(col("bench_id"),
        col("embedding").as("emb_b"))), Seq("bench_id"))
      .select(col("a"), col("bench_id"),
        round(Similarity.cosine(col("emb_a"), col("emb_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
    ver.groupBy(col("a"))
      .agg(count(lit(1)).as("n_hits"),
        max(struct(col("cos"), col("bench_id"))).as("m"))
      .select(col("a").as("vec_id"), col("n_hits"),
        col("m.bench_id").as("best_bench"), col("m.cos").as("best_cos"))
      .orderBy(col("vec_id"))
  }

  /** The persisted benchmark store ([[IndexStore]] layout). */
  private val semContamStore = new IndexStore("buckets", "vectors", "meta")

  /** Persist the benchmark's decontamination index (build once, probe
    * every crawl) as one [[IndexStore]] version holding the pre-bucketed
    * `(t, bench_id, bucket)` table, the benchmark `vectors` for the
    * verify stage, and a 1-row `meta`. Benchmarks are eval-set-sized, so
    * both tables stay broadcastable forever; the expensive thing a store
    * saves is not compute but GOVERNANCE — every crawl probes the SAME
    * frozen benchmark version, and a benchmark refresh is an auditable
    * version flip, not a silent re-derivation.
    */
  def buildSemContamStore(benchmark: DataFrame, dir: String,
      numPlanes: Int = 4, dim: Int = 64, numTables: Int = 4): Unit = {
    val spark = benchmark.sparkSession
    semContamStore.publish(spark, dir) { v =>
      v.write("buckets", (0 until numTables).map { t =>
        Similarity.lshBuckets(benchmark, numPlanes, dim, 42L + t)
          .select(lit(t).as("t"), col("vec_id").as("bench_id"), col("bucket"))
      }.reduce(_ unionByName _))
      v.write("vectors", benchmark.select(col("vec_id").as("bench_id"), col("embedding")))
      v.write("meta", spark.range(1).select(lit(numPlanes).cast("int").as("num_planes"),
        lit(dim).cast("int").as("dim"), lit(numTables).cast("int").as("num_tables")))
    }
  }

  /** Probe a corpus against the PERSISTED benchmark store — identical
    * output to [[semanticContamination]] with the same benchmark (shared
    * [[semContamProbe]]; bucket ids and float vectors round-trip parquet
    * exactly), so the registered twin reuses that oracle verbatim.
    */
  def semanticContaminationFromStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      corpus: DataFrame, threshold: Double = 0.3): DataFrame =
    semanticContaminationFromStore(IndexStore.open(spark, dir), corpus, threshold)

  /** [[semanticContaminationFromStore]] against an opened (pinned) root. */
  private[graft] def semanticContaminationFromStore(root: IndexStore.Root,
      corpus: DataFrame, threshold: Double): DataFrame = {
    // bounded driver action: meta is one row by construction
    val meta = root.read("meta").first()
    semContamProbe(corpus, root.read("buckets"), root.read("vectors"), threshold,
      meta.getInt(0), meta.getInt(1), meta.getInt(2))
  }

  /** Benchmark-contamination check: corpus documents sharing at least
    * `minShared` DISTINCT word n-gram shingles with a probe set (eval
    * benchmarks, held-out test data) — the decontamination step training
    * pipelines run before releasing data. Semi-join on the shingle: only
    * docs overlapping the probe set survive to the count, so cost is
    * O(corpus shingles) + the (small) probe side; no pair explosion.
    */
  def contamination(docs: DataFrame, probeDocs: DataFrame,
      n: Int = 3, minShared: Long = 5): DataFrame = {
    val corpusSh = shingles(docs, n)
    val probeSh = shingles(probeDocs, n).select(col("sh")).distinct()
    corpusSh.join(probeSh, Seq("sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
      .orderBy(col("doc_id"))
  }

  /** Fractional n-gram–overlap contamination (the GPT-3/PaLM family:
    * "flag a document when more than X% of its n-grams appear in an eval
    * benchmark"): unlike the absolute [[contamination]] count, the shared
    * count is NORMALIZED by the document's own distinct-shingle total, so
    * long documents aren't flagged for incidentally brushing a benchmark
    * and short ones can't hide under an absolute floor.
    *
    * Same scale shape as [[contamination]] — one corpus shingle scan
    * feeding BOTH the per-doc total and the probe semi-join (shared
    * subtree, one doc_id aggregation each), the probe side small by
    * definition. Output: (doc_id, shared_shingles, total_shingles,
    * overlap_frac) for every doc at or above `minFrac`.
    */
  def contaminationFraction(docs: DataFrame, probeDocs: DataFrame,
      n: Int = 3, minFrac: Double = 0.1): DataFrame = {
    val corpusSh = shingles(docs, n)
    val probeSh = shingles(probeDocs, n).select(col("sh")).distinct()
    val totals = corpusSh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("total_shingles"))
    val shared = corpusSh.join(probeSh, Seq("sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared_shingles"))
    shared.join(totals, Seq("doc_id"))
      .withColumn("overlap_frac", round(
        col("shared_shingles").cast("double") / col("total_shingles"), 4))
      .filter(col("overlap_frac") >= minFrac)
      .select(col("doc_id"), col("shared_shingles"), col("total_shingles"),
        col("overlap_frac"))
      .orderBy(col("doc_id"))
  }

  /** Decontamination with a Bloom-filter prefilter — same EXACT result as
    * [[contamination]], different 100 TB cost envelope. The plain form
    * broadcasts the probe shingles as an exact hash table; once the
    * benchmark suite reaches tens of millions of shingles that table is
    * gigabytes per executor and the broadcast stops fitting. A Bloom
    * filter at the same capacity is ~10 bits/key, so the corpus-side scan
    * keeps a ZERO-shuffle membership probe (a codegen'd
    * [[graft.functions.BloomMightContain]] literal riding the task
    * binary), and only the ≈(true matches + fpp) survivors travel to the
    * exact semi-join that kills false positives — including xxhash64
    * collisions, since the verify joins on the shingle STRING.
    *
    * The probe shingle set is materialized ONCE (`localCheckpoint` —
    * bounded: the probe side is small by definition) and reused by all
    * three consumers (size count, filter build, verify join); the 100 TB
    * side is scanned once with no exchange before the survivor join.
    */
  def contaminationBloom(docs: DataFrame, probeDocs: DataFrame,
      n: Int = 3, minShared: Long = 5, fpp: Double = 0.001): DataFrame = {
    val corpusSh = shingles(docs, n)
    val probeSh = shingles(probeDocs, n).select(col("sh")).distinct()
      .localCheckpoint(true)
    val nProbe = math.max(probeSh.count(), 1L)
    val bloom = probeSh.select(xxhash64(col("sh")).as("h"))
      .stat.bloomFilter("h", nProbe, fpp)
    val bloomBytes = lit(graft.functions.BloomFunctions.serialize(bloom))
    val candidates = corpusSh.filter(
      graft.functions.BloomFunctions.mightContainLong(xxhash64(col("sh")), bloomBytes))
    candidates.join(probeSh, Seq("sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
      .orderBy(col("doc_id"))
  }

  /** Containment dedup candidates: pairs of documents whose WINNOWING
    * fingerprint sets overlap by at least `threshold` of the SMALLER
    * side's fingerprints. Complements shingle Jaccard, which union-
    * normalizes and therefore misses a short document embedded verbatim
    * in a much longer one (the quote/boilerplate-inclusion case every
    * training corpus has) — containment normalizes by `least(n_a, n_b)`,
    * so a fully-contained doc scores ~1 regardless of the size gap.
    * Winnowing guarantees any shared substring of length ≥ w+k−1
    * contributes a shared fingerprint, so candidate generation is a
    * sparse fingerprint equi-join — docs sharing no substring never meet.
    *
    * Two levers keep the fingerprint join SPARSE at scale (without them a
    * small shared vocabulary makes short common substrings collide
    * everywhere and the pair join goes quasi-quadratic):
    *   - long grams (k=12, w=8 → only shared substrings of ≥ 19 chars
    *     produce shared fingerprints — phrase-level, not word-level);
    *   - a document-frequency cap: fingerprints appearing in more than
    *     `maxDf` docs are boilerplate, carry no containment evidence, and
    *     are dropped BEFORE pairing — bounding per-key join fanout at
    *     maxDf² regardless of corpus size. Containment is normalized on
    *     the post-cap fingerprint counts, so the ratio stays consistent.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
      k: Int = 12, w: Int = 8, maxDf: Int = 32): DataFrame = {
    val fp = TextAnalysis.winnowingFingerprints(docs, k, w).cache()
    val dfreq = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val rare = fp.join(dfreq.filter(col("df") <= maxDf), Seq("fp"))
      .select(col("doc_id"), col("fp")).cache()
    val counts = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val shared = rare.select(col("doc_id").as("a"), col("fp"))
      .join(rare.select(col("doc_id").as("b"), col("fp")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    // materialize the (bounded: threshold-filtered pair list) result and
    // drop the fingerprint caches — repeated library calls must not
    // accumulate cached fingerprint sets (same discipline as
    // embeddingCandidatePairs / lshTopK)
    val out = shared
      .join(counts.select(col("doc_id").as("a"), col("n_fp").as("n_a")), Seq("a"))
      .join(counts.select(col("doc_id").as("b"), col("n_fp").as("n_b")), Seq("b"))
      .withColumn("containment",
        round(col("shared").cast("double") / least(col("n_a"), col("n_b")), 4))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), col("shared"), col("containment"))
      .orderBy(col("a"), col("b"))
      .localCheckpoint(true)
    fp.unpersist(); rare.unpersist()
    out
  }

  /** The persisted winnowing store ([[IndexStore]] layout): `fps` and its
    * `df` partials by batch, and the (k, w) `params`.
    */
  private val winnowingStore = new IndexStore("fps", "df", "params")

  /** Persist the winnowing fingerprint store — the containment family's
    * fit half: `(doc_id, fp)` with the (k, w) parameters travelling WITH
    * the index, so the serve path can never
    * fingerprint an incoming batch under different winnowing settings
    * than the store was built with.
    */
  def buildWinnowingIndex(docs: DataFrame, dir: String,
      k: Int = 12, w: Int = 8): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // base is one-logical-doc-per-doc_id (r11 advisor; see
    // IndexStore.requireUniqueKeys for why the serve split needs this)
    IndexStore.requireUniqueKeys(docs, "doc_id", "buildWinnowingIndex")
    winnowingStore.publish(spark, dir) { v =>
      v.base("fps", TextAnalysis.winnowingFingerprints(docs, k, w))
      // the maintained (fp, df) side table (r10's self-documented gap: the
      // serve-time rare-fp gate re-aggregated the WHOLE store per incoming
      // batch, the one crawl-store serve that wasn't O(batch)). Computed by
      // reading BACK the just-written fps (a cheap columnar re-read — never
      // a corpus-sized in-memory materialization) so build stays one
      // fingerprint pass at 100 TB.
      v.base("df", dfPartial(v.batches("fps")))
      v.write("params", Seq((k, w)).toDF("k", "w"))
    }
  }

  /** Per-fp doc counts of one batch's fingerprint rows (winnowing fps are
    * distinct per doc, so count(*) IS the doc frequency).
    */
  private def dfPartial(fps: DataFrame): DataFrame =
    fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))

  /** Cross-set containment of an INCOMING batch against the persisted
    * winnowing store ([[buildWinnowingIndex]]) — the continuous-crawl
    * serving shape of [[containmentPairs]]: only the incoming batch is
    * fingerprinted (corpus text is never re-read); pairs are
    * (incoming a, indexed b). The rare-fingerprint gate (`df ≤ maxDf`)
    * is computed over the COMBINED population, so verdicts equal the
    * one-corpus operator's on the same split — which is exactly what the
    * oracle replays.
    *
    * Scale shape: identical to [[containmentPairs]] — fingerprint-keyed
    * joins with the maxDf² fanout cap; the store side is a column-pruned
    * parquet scan of 8-byte hashes. The rare-fp gate reads the MAINTAINED
    * `(fp, df)` side table (merged on append/compact, the
    * [[appendToMinhashIndex]] maintenance discipline) summed with the
    * batch's own counts — a distinct-fp-sized scan, never a store-wide
    * re-aggregation of the fps tree (the r10 shape this replaced).
    */
  /** Fingerprint `newDocs` with the store's own stored (k, w) and append
    * them as one batch ([[IndexStore.append]]), replay-idempotent under a
    * stable caller `batchId`; the df partial below lives in the same
    * batch, so both writes replay together.
    *
    * df maintenance: the batch's partial is its own per-fp doc counts
    * MINUS the rows it displaces from the latest-wins view (docs
    * re-appended over an earlier batch) — so Σ partials over visible
    * batches always equals the latest-wins doc frequency exactly.
    * Displacement is computed against batches `< id` ONLY, which makes a
    * replayed append byte-deterministic; the ordering contract this
    * relies on (appends/replays only ever target the newest batch id) is
    * exactly structured streaming's foreachBatch guarantee. The
    * displacement pass scans prior fps semi-joined to the batch's doc
    * ids (empty in the normal all-new-docs crawl case) — an append-time
    * cost, never a serve-time one.
    */
  def appendToWinnowingIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newDocs: DataFrame, batchId: Option[Long] = None): Unit =
    winnowingStore.append(spark, dir, batchId) { (root, id) =>
      val p = root.read("params").collect()(0)
      root.land("fps", TextAnalysis.winnowingFingerprints(newDocs,
        p.getAs[Int]("k"), p.getAs[Int]("w")), id)
      val fps = root.batch("fps", id)
      val displaced = root.below(Some(id)).live("fps", "doc_id")
        .join(fps.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
        .groupBy(col("fp")).agg((-count(lit(1))).as("df"))
      root.land("df", dfPartial(fps).unionByName(displaced)
        .groupBy(col("fp")).agg(sum(col("df")).as("df"))
        .filter(col("df") =!= 0L), id)
    }

  /** Live fingerprint view of a persisted winnowing store: a doc's
    * fingerprint SET spans many rows, so last-writer-wins serves exactly
    * the rows of each doc's newest batch ([[IndexStore.Root.live]]) — a
    * re-fingerprinted doc serves its new set, never a union.
    */
  def winnowingIndexFps(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    IndexStore.open(spark, dir).live("fps", "doc_id")

  /** The maintained store-side doc frequency per fingerprint: Σ of the
    * per-batch df partials over visible batches (see
    * [[appendToWinnowingIndex]] for why the sum equals the latest-wins
    * df exactly).
    */
  private[graft] def winnowingIndexDf(spark: org.apache.spark.sql.SparkSession,
      dir: String, excludeBatch: Option[Long] = None): DataFrame =
    winnowingDf(IndexStore.open(spark, dir, excludeBatch))

  private def winnowingDf(root: IndexStore.Root): DataFrame =
    root.batches("df").groupBy(col("fp")).agg(sum(col("df")).as("df"))
      .filter(col("df") =!= 0L)

  /** Fold the append tail into a fresh version ([[IndexStore.compact]]) —
    * fps last-writer-wins into the base batch, the df table recomputed
    * from the folded fps (self-healing: any drift in the additive
    * partials is reset by construction), params carried over; serving
    * before/after is byte-identical. `keepBelow` leaves the batch a
    * failed delivery half-appended out of the fold
    * ([[graft.streaming.StreamingCorpus.containmentIndexIngest]]
    * compacts at the START of batch N with `keepBelow = N`): melted into
    * the base, excludeBatch could no longer hide it and the replay would
    * screen against itself.
    */
  def compactWinnowingIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, keepBelow: Option[Long] = None): Unit =
    winnowingStore.compact(spark, dir, keepBelow) { (old, v) =>
      v.base("fps", old.live("fps", "doc_id"))
      v.base("df", dfPartial(v.batches("fps")))
      v.write("params", old.read("params"))
    }

  def containmentAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, incoming: DataFrame, threshold: Double = 0.8,
      maxDf: Int = 32, excludeBatch: Option[Long] = None): DataFrame = {
    // excludeBatch hides a replayed append of THIS batch from the fps AND
    // df tables, so a batch never screens against itself (the df
    // accounting stays exact because replays only target the newest id)
    val root = IndexStore.open(spark, dir, excludeBatch)
    val p = root.read("params").collect()(0)
    val (k, w) = (p.getAs[Int]("k"), p.getAs[Int]("w"))
    val idxFps = root.live("fps", "doc_id")
      .select(col("doc_id"), col("fp"), lit(false).as("inc"))
    val incFps = TextAnalysis.winnowingFingerprints(incoming, k, w)
      .select(col("doc_id"), col("fp"), lit(true).as("inc"))
    // the rare-fp gate: maintained store-side df (distinct-fp-sized side
    // table) + the batch's own counts — the combined-population doc
    // frequency without re-aggregating the store's fps tree
    val incDf = incFps.groupBy(col("fp")).agg(count(lit(1)).as("df_inc"))
    val gate = winnowingDf(root)
      .withColumnRenamed("df", "df_store")
      .join(incDf, Seq("fp"), "full_outer")
      .filter(coalesce(col("df_store"), lit(0L)) +
        coalesce(col("df_inc"), lit(0L)) <= maxDf)
      .select(col("fp"))
    val all = idxFps.unionByName(incFps)
    val rare = all.join(gate, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("fp"), col("inc")).cache()
    try {
      val counts = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      val shared = rare.filter(col("inc")).select(col("doc_id").as("a"), col("fp"))
        .join(rare.filter(!col("inc")).select(col("doc_id").as("b"), col("fp")),
          Seq("fp"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
      shared
        .join(counts.select(col("doc_id").as("a"), col("n_fp").as("n_a")), Seq("a"))
        .join(counts.select(col("doc_id").as("b"), col("n_fp").as("n_b")), Seq("b"))
        .withColumn("containment",
          round(col("shared").cast("double") / least(col("n_a"), col("n_b")), 4))
        .filter(col("containment") >= threshold)
        .select(col("a"), col("b"), col("shared"), col("containment"))
        .orderBy(col("a"), col("b"))
        .localCheckpoint(true)
    } finally { rare.unpersist(); () }
  }

  /** Transitive near-dup clustering: connected components over a dup-pair
    * graph, as iterative min-label propagation. A near-dup RELATION is not
    * transitive (A≈B, B≈C need not mean A≈C), but dedup must still keep
    * exactly ONE representative per connected chain — the production rule
    * that pairwise "drop the larger id" approximates. Each doc gets the
    * smallest doc_id reachable through the pair graph (`cluster`).
    *
    * Each round is edge-list-sized work (never the corpus): a one-hop
    * neighbor-min propagation PLUS a pointer-jumping shortcut
    * (`cluster := cluster's cluster` — labels are always node ids, so the
    * lookup is a self-join), which halves effective path lengths each
    * round and makes convergence O(log diameter) instead of O(diameter)
    * (CC-in-MapReduce à la Rastogi et al.). `localCheckpoint` truncates
    * the growing lineage so the driver-side loop stays plan-bounded. Only
    * docs that appear in some pair come back; every other doc is
    * trivially its own cluster.
    *
    * COLD-START cost (distributed branch): the first execution in a JVM
    * runs ~2.5-3× the steady state (measured sf0.1: 13.9 s warm-up vs
    * 4.7 s steady; the r5 full bench saw 48 s on a polluted 92-query
    * population). The loop generates a FRESH multi-stage plan per round
    * (the accumulator name and checkpoint lineage differ each round), so
    * rep 1 pays whole-stage codegen for every round's join pipeline plus
    * the first parquet page-cache fill of the upstream pair scan; later
    * executions hit the codegen cache because the per-round generated
    * source is structurally identical across runs. This is first-run JIT
    * economics, not a plan defect — the bench's untimed warm-up rep keeps
    * it out of the reported min/median, and a long-lived production
    * session pays it once.
    *
    * SIZE-ADAPTIVE: the dup-pair edge list is orders of magnitude smaller
    * than the corpus (it exists because LSH already pruned it), so up to
    * `maxDriverEdges` pairs the components are solved in one pass of
    * driver-side union-find instead of paying per-round job latency —
    * identical output, rounds reported as 0. Honest driver cost at the
    * default 1M-edge bound: the collected Row array plus a primitive
    * LongMap parent table is roughly 100-150 MB transient — a bounded
    * collect on the same order as a large broadcast side, NOT the 16
    * bytes/edge the payload alone suggests. The iterative path takes
    * over beyond the bound.
    */
  def dupClusters(pairs: DataFrame): DataFrame = dupClustersWithRounds(pairs)._1

  /** [[dupClusters]] plus the number of rounds it took — exposed so the
    * spec can pin the O(log d) convergence, not just the fixpoint
    * (`maxDriverEdges = 0` forces the distributed path).
    */
  private[graft] def dupClustersWithRounds(pairs: DataFrame,
      maxDriverEdges: Long = 1000000L): (DataFrame, Int) = {
    // materialize the pair list ONCE before symmetrizing: the union's two
    // branches would otherwise each re-execute the (expensive) upstream
    // pair pipeline
    val p = pairs.select(col("a"), col("b")).localCheckpoint(true)
    // one cheap action on the checkpointed 2-col frame; the count picks
    // the driver fast path AND sizes the distributed branch's joins
    val nPairs = p.count()
    // strict `maxDriverEdges > 0` guard: 0 is the documented way to FORCE
    // the distributed branch (the oracle gate relies on it), and an empty
    // pair set would otherwise satisfy `count <= 0` and sneak back onto
    // the driver fast path
    if (maxDriverEdges > 0 && nPairs <= maxDriverEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // union-find with path compression; unions always point the LARGER
      // root at the smaller, so every root is its component's minimum id
      // — the same fixpoint the propagation converges to. LongMap keeps
      // the parent table primitive (no per-entry boxing).
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      p.as[(Long, Long)].collect().foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // distribute the result instead of embedding a million-row
      // LocalRelation literal in every downstream plan
      val out = parent.keys.toArray.sorted.map(x => (x, find(x)))
      return (spark.createDataset(
        spark.sparkContext.parallelize(out.toIndexedSeq)).toDF("doc_id", "cluster")
        .orderBy(col("doc_id")), 0)
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
      .distinct().localCheckpoint(true)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    // size-adaptive join strategy for the rounds: labels/neighbor-min/
    // parent tables are all node-sized (≤ 2×pairs rows of two longs), so
    // below the bound they BROADCAST — each round then runs ONE shuffle
    // (the neighbor-min groupBy) instead of five, and round cost is
    // dominated by exactly the job latency the double pointer jump
    // already minimizes. The checkpointed frames carry no stats, so AQE
    // cannot make this call itself; the measured pair count can. Beyond
    // the bound (≈64 MB of broadcast at 2M pairs) every join falls back
    // to the shuffled form unchanged — the 100 TB posture.
    val bcRounds = nPairs <= 2000000L
    def maybeBc(df: DataFrame): DataFrame = if (bcRounds) broadcast(df) else df
    while (changed > 0) {
      rounds += 1
      val neighborMin = edges
        .join(maybeBc(labels.select(col("doc_id").as("dst"), col("cluster").as("n_cluster"))),
          Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("n_cluster")).as("min_n"))
        .select(col("src").as("doc_id"), col("min_n"))
      val hopped = labels
        .join(maybeBc(neighborMin), Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("min_n"), col("cluster"))).as("cluster"))
      // pointer jump ×2: follow my label to ITS label, twice (every label
      // is a node id, monotonically non-increasing, so the parent lookup
      // always resolves and only improves). One jump halves path depth;
      // two per round quarter it — rounds ≈ log₄(d) instead of log₂(d),
      // which matters because round cost here is JOB LATENCY (the
      // per-round data is edge-list-sized), not data volume. Both jumps
      // run inside the same job; only the round's final labels
      // materialize.
      val parents = maybeBc(
        hopped.select(col("doc_id").as("p_id"), col("cluster").as("parent")))
      val j1 = hopped
        .join(parents, hopped("cluster") === parents("p_id"), "left")
        .select(hopped("doc_id"), hopped("old"),
          least(hopped("cluster"), coalesce(col("parent"), hopped("cluster"))).as("cluster"))
      val parents2 = maybeBc(
        j1.select(col("doc_id").as("p_id"), col("cluster").as("parent")))
      // ONE action per round: the convergence signal rides the checkpoint
      // materialization as an accumulator tallied while each row is
      // written, instead of a second join+count job over the result.
      // Retries/speculation can only OVER-count rows that really changed,
      // and a converged round adds zero from every attempt — the `> 0`
      // test is exact either way.
      val acc = spark.sparkContext.longAccumulator(s"graft.dupClusters.changed.r$rounds")
      val next = j1
        .join(parents2, j1("cluster") === parents2("p_id"), "left")
        .select(j1("doc_id"), j1("old"),
          least(j1("cluster"), coalesce(col("parent"), j1("cluster"))).as("cluster"))
        .as[(Long, Long, Long)]
        .map { case (id, old, cl) => if (cl != old) acc.add(1L); (id, cl) }
        .toDF("doc_id", "cluster")
        .localCheckpoint(true)
      changed = acc.value
      labels = next
    }
    (labels.orderBy(col("doc_id")), rounds)
  }

  /** Candidate near-dup pairs in embedding space via multi-table
    * random-hyperplane LSH — the production (100 TB) path: vectors are
    * bucketed per table ([[Similarity.lshBuckets]], a pure per-row map),
    * pairs are generated ONLY within a bucket, unioned across tables and
    * deduped, then cosine-verified. Cost is O(Σ bucket²) per table instead
    * of O(n²); recall compounds across tables as 1−(1−p)^L, and near-
    * identical vectors (every plane projection keeps its sign) collide in
    * EVERY table, so true near-dups are never lost to one unlucky plane.
    *
    * The candidate set carries only (a, b) id pairs — 16 bytes/row through
    * the distinct — and the verify stage joins the embedding payload back
    * by id, exactly like [[nearDupPipeline]] re-joins shingles for its
    * candidates.
    */
  /** The LAZY candidate-id-pair plan (union of per-table in-bucket joins)
    * — separated so PlanSpec can assert the stage that matters is
    * cartesian-free BEFORE [[embeddingCandidatePairs]] checkpoint-
    * materializes it (a checkpoint replaces the executed subtree with an
    * RDD scan, hiding the join shape from any later plan inspection).
    * When `cache` is set each table's bucket projection is cached (it sits
    * on both sides of its self-join) and registered for the caller to
    * drop after materialization.
    */
  private[graft] def embeddingCandidatePlan(emb: DataFrame, numPlanes: Int,
      dim: Int, numTables: Int,
      tableCaches: Option[scala.collection.mutable.Buffer[DataFrame]] = None): DataFrame =
    (0 until numTables).map { t =>
      val projected = Similarity.lshBuckets(emb, numPlanes, dim, 42L + t)
        .select(col("vec_id"), col("bucket"))
      val bucketed = tableCaches.fold(projected) { reg =>
        val c = projected.cache(); reg += c; c
      }
      bucketed.select(col("vec_id").as("a"), col("bucket"))
        .join(bucketed.select(col("vec_id").as("b"), col("bucket")), Seq("bucket"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"))
    }.reduce(_ unionByName _).distinct()

  def embeddingCandidatePairs(emb: DataFrame, numPlanes: Int = 4, dim: Int = 64,
      numTables: Int = 2): DataFrame = {
    // cache the INPUT once (r16): this plan scans `emb` four times — one
    // bucket projection per table plus the two payload joins of the
    // verify stage — and callers routinely pass DERIVED embedding frames
    // whose per-row cost dwarfs the scan (crossModalMarginPairs' image
    // side evaluates 64 md5 hashes per vector; measured at sf0.1 the
    // uncached form re-ran that derivation 4x per run). Cache lifecycle
    // follows nearDupPipeline's documented convention: released by the
    // caller/harness after materialization (`spark.catalog.clearCache()`
    // or unpersist by plan).
    val embC = emb.cache()
    // cache each table's bucket projection (used on BOTH sides of its
    // self-join — uncached, the corpus would be scanned and bucket-hashed
    // twice per table), then materialize the id-pair candidates and drop
    // the caches: same discipline as lshTopK
    val tableCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val cand = embeddingCandidatePlan(embC, numPlanes, dim, numTables,
      Some(tableCaches)).localCheckpoint(true)
    tableCaches.foreach(_.unpersist())
    val embA = embC.select(col("vec_id").as("a"), col("embedding").as("emb_a"))
    val embB = embC.select(col("vec_id").as("b"), col("embedding").as("emb_b"))
    cand.join(embA, Seq("a")).join(embB, Seq("b"))
      .select(col("a"), col("b"),
        round(Similarity.cosine(col("emb_a"), col("emb_b")), 6).as("cos"))
  }

  /** Embedding near-dup filter: LSH-bucketed candidates at or above the
    * cosine threshold. [[embeddingTopPairs]] is the quadratic ground-truth
    * verifier this is tested against (planted-duplicate fixture in ExtSpec).
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.9,
      numPlanes: Int = 4, dim: Int = 64, numTables: Int = 2): DataFrame =
    embeddingCandidatePairs(emb, numPlanes, dim, numTables)
      .filter(col("cos") >= threshold)
      .orderBy(col("a"), col("b"))

  /** Cross-lingual BITEXT mining (the CCMatrix/LASER recipe, Schwenk et
    * al. 2021, arXiv:1911.04944): documents whose embeddings sit nearly
    * on top of each other but whose LANGUAGES differ are translation-pair
    * candidates — the operator that turns a multilingual crawl into
    * parallel training data for MT / cross-lingual alignment. Same
    * bucketed LSH candidate machinery as [[embeddingNearDups]] (this is
    * deliberate: mining IS near-dup search with the same-language pairs
    * inverted away), then a doc_id-keyed language join and the
    * cross-language + cosine gates. Production refinement: replace the
    * absolute cosine gate with the margin score (cos normalized by each
    * side's mean k-NN cos) — same plan shape with a per-id aggregate
    * joined in.
    *
    * Scale shape: candidates come LSH-bucketed (never corpus²), the
    * language frame joins on the candidate's own keys, and every gate is
    * a per-row filter — the language join adds two doc_id-keyed hash
    * joins over candidate-sized input.
    */
  def bitextPairs(emb: DataFrame, docs: DataFrame, threshold: Double = 0.4,
      numPlanes: Int = 4, dim: Int = 64, numTables: Int = 2): DataFrame = {
    val langs = docs.select(col("doc_id"), col("lang"))
    embeddingCandidatePairs(emb, numPlanes, dim, numTables)
      .filter(col("cos") >= threshold)
      .join(langs.select(col("doc_id").as("a"), col("lang").as("lang_a")), Seq("a"))
      .join(langs.select(col("doc_id").as("b"), col("lang").as("lang_b")), Seq("b"))
      .filter(col("lang_a") =!= col("lang_b"))
      .select(col("a"), col("b"), col("lang_a"), col("lang_b"), col("cos"))
      .orderBy(col("a"), col("b"))
  }

  /** Margin-scored bitext mining — the production refinement
    * [[bitextPairs]]' scaladoc promises (Artetxe & Schwenk 2019,
    * arXiv:1811.01136 §3.2, ratio margin): an absolute cosine gate
    * misfires because some regions of embedding space are globally
    * denser than others, so each pair's cosine is normalized by the mean
    * of BOTH endpoints' k-NN cosines over the same candidate graph —
    * `margin = cos(a,b) / ((μ_k(a) + μ_k(b)) / 2)`. A pair is a mining
    * hit when it stands OUT of its own neighborhoods (margin > 1), not
    * when it merely sits in a dense one.
    *
    * Determinism: pair cosines are already round-6; each μ_k rounds to 6
    * after averaging the top-k (rank window ordered cos DESC with the
    * neighbor id as tiebreak); the margin divides the two rounded values
    * and rounds to 4 — both engines difference identical grid points.
    *
    * Scale shape: everything beyond [[embeddingCandidatePairs]] is
    * candidate-graph-sized — one symmetrize union, one per-id rank
    * window (id-keyed partitions), one id-keyed aggregate, two id-keyed
    * joins. The corpus is touched only by the bucketed candidate stage.
    */
  def bitextMargin(emb: DataFrame, docs: DataFrame, k: Int = 8,
      marginGate: Double = 1.2, numPlanes: Int = 4, dim: Int = 64,
      numTables: Int = 2): DataFrame = {
    val scored = embeddingCandidatePairs(emb, numPlanes, dim, numTables)
      .localCheckpoint(true)
    val sym = scored.select(col("a").as("id"), col("b").as("nb"), col("cos"))
      .union(scored.select(col("b").as("id"), col("a").as("nb"), col("cos")))
    val ranked = sym.withColumn("rn", row_number().over(
      Window.partitionBy(col("id")).orderBy(col("cos").desc, col("nb"))))
    val mu = ranked.filter(col("rn") <= k)
      // floor-quantized HALF_UP (the Similarity q6 discipline): the top-k
      // mean of round-6 grid cosines lands on the 1e-6 half-tie for 1/8
      // of groups (sum on the grid, /8 exact), where Spark's
      // shortest-decimal round(double) and the oracle's binary round can
      // split; floor(x*1e6 + 0.5) evaluates identically in both engines
      .groupBy(col("id"))
      .agg((floor(avg(col("cos")) * 1e6 + 0.5) / 1e6).as("mu"))
    val langs = docs.select(col("doc_id"), col("lang"))
    scored
      .join(mu.select(col("id").as("a"), col("mu").as("mu_a")), Seq("a"))
      .join(mu.select(col("id").as("b"), col("mu").as("mu_b")), Seq("b"))
      // margin is a QUOTIENT of grid values — the r15-measured 4-decimal
      // half-tie class (sf0.001 emitted 1.2484 vs the oracle's 1.2485):
      // same floor-quantized HALF_UP as mu, replayed verbatim by DuckDB
      .withColumn("margin",
        floor(col("cos") / ((col("mu_a") + col("mu_b")) / 2.0) * 1e4 + 0.5) / 1e4)
      .join(langs.select(col("doc_id").as("a"), col("lang").as("lang_a")), Seq("a"))
      .join(langs.select(col("doc_id").as("b"), col("lang").as("lang_b")), Seq("b"))
      .filter(col("lang_a") =!= col("lang_b") && col("margin") >= marginGate &&
        col("cos") > 0)
      .select(col("a"), col("b"), col("lang_a"), col("lang_b"),
        col("cos"), col("margin"))
      .orderBy(col("a"), col("b"))
  }

  /** Cross-modal pair mining (caption ↔ image, the CLIP-style
    * training-pair construction): mine candidate pairs BETWEEN two
    * embedding spaces that share a joint encoder geometry — captions on
    * one side, image feature vectors on the other — with the
    * [[bitextMargin]] ratio-margin score (Artetxe & Schwenk 2019)
    * normalizing each pair's cosine by its endpoints' mean k-NN cosine
    * over the same candidate graph. This closes the multimodal story
    * from per-modality dedup to training-pair construction: the output
    * IS the (caption_id, image_id) alignment table a contrastive
    * trainer consumes.
    *
    * Mechanics: both sides enter ONE LSH bucketing (image ids shifted by
    * `offset` — caller guarantees both id spaces are < offset), so a
    * caption and an image land in the same candidate bucket exactly when
    * their vectors agree on the hyperplane signs; margins are computed
    * over the FULL candidate graph (intra- and cross-modal edges — the
    * density normalization needs the whole neighborhood), then only
    * cross-modal pairs pass the gate. Since candidates are emitted
    * `a < b` on the combined id space, cross pairs always read
    * (caption, image).
    *
    * Scale shape: identical to [[bitextMargin]] — the corpus is touched
    * only by the bucketed candidate stage; everything after is
    * candidate-graph-sized (one symmetrize union, one id-keyed rank
    * window, one id-keyed aggregate, two id-keyed joins).
    */
  def crossModalMarginPairs(capEmb: DataFrame, imgEmb: DataFrame,
      offset: Long = 1L << 40, k: Int = 8, marginGate: Double = 1.2,
      numPlanes: Int = 4, dim: Int = 64, numTables: Int = 2): DataFrame = {
    val u = capEmb.select(col("vec_id"), col("embedding"))
      .unionByName(imgEmb.select((col("vec_id") + offset).as("vec_id"),
        col("embedding")))
    val scored = embeddingCandidatePairs(u, numPlanes, dim, numTables)
      .localCheckpoint(true)
    val sym = scored.select(col("a").as("id"), col("b").as("nb"), col("cos"))
      .union(scored.select(col("b").as("id"), col("a").as("nb"), col("cos")))
    val ranked = sym.withColumn("rn", row_number().over(
      Window.partitionBy(col("id")).orderBy(col("cos").desc, col("nb"))))
    val mu = ranked.filter(col("rn") <= k)
      // floor-quantized HALF_UP (the Similarity q6 discipline): the top-k
      // mean of round-6 grid cosines lands on the 1e-6 half-tie for 1/8
      // of groups (sum on the grid, /8 exact), where Spark's
      // shortest-decimal round(double) and the oracle's binary round can
      // split; floor(x*1e6 + 0.5) evaluates identically in both engines
      .groupBy(col("id"))
      .agg((floor(avg(col("cos")) * 1e6 + 0.5) / 1e6).as("mu"))
    scored
      .join(mu.select(col("id").as("a"), col("mu").as("mu_a")), Seq("a"))
      .join(mu.select(col("id").as("b"), col("mu").as("mu_b")), Seq("b"))
      // margin is a QUOTIENT of grid values — the r15-measured 4-decimal
      // half-tie class (sf0.001 emitted 1.2484 vs the oracle's 1.2485):
      // same floor-quantized HALF_UP as mu, replayed verbatim by DuckDB
      .withColumn("margin",
        floor(col("cos") / ((col("mu_a") + col("mu_b")) / 2.0) * 1e4 + 0.5) / 1e4)
      .filter(col("a") < offset && col("b") >= offset &&
        col("margin") >= marginGate && col("cos") > 0)
      .select(col("a").as("caption_id"), (col("b") - offset).as("image_id"),
        col("cos"), col("margin"))
      .orderBy(col("caption_id"), col("image_id"))
  }

  /** Top-k most similar candidate pairs through the bucketed pipeline —
    * the registered bench/oracle form (testdata has no planted near-dups,
    * so a threshold query would be vacuous there).
    */
  def embeddingTopPairsBucketed(emb: DataFrame, k: Int = 20,
      numPlanes: Int = 4, dim: Int = 64, numTables: Int = 2): DataFrame =
    embeddingCandidatePairs(emb, numPlanes, dim, numTables)
      .orderBy(col("cos").desc, col("a"), col("b"))
      .limit(k)

  /** Embedding near-dup / top similar pairs by cosine — corpus×corpus
    * cross join: the exact QUADRATIC VERIFIER (bench-skipped via
    * [[graft.SparkEntry.verifierOnly]]). The production path is
    * [[embeddingTopPairsBucketed]]/[[embeddingNearDups]].
    */
  def embeddingTopPairs(emb: DataFrame, k: Int = 20): DataFrame = {
    val cos = Similarity.cosine(col("emb_a"), col("emb_b"))
    val a = emb.select(col("vec_id").as("a"), col("embedding").as("emb_a"))
    val b = emb.select(col("vec_id").as("b"), col("embedding").as("emb_b"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .select(col("a"), col("b"), round(cos, 6).as("cos"))
      .orderBy(col("cos").desc, col("a"), col("b"))
      .limit(k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup
    * scoped to k-means cells: cluster the embeddings once
    * ([[Similarity.kmeansFit]], the same deterministic Lloyd the IVF
    * index uses), then compute pairwise cosine only WITHIN a cell and
    * surface the top-`n` pairs (drop policy: callers keep the smaller
    * id, as in the near-dup pipeline). The clustering is what makes the
    * quadratic comparison tractable: pair work is Σ|cell|², not |corpus|²,
    * and `nCells` is the scale lever — at 100 TB you raise it until
    * cells fit a partition (the paper runs ~10k cells for LAION-scale),
    * with the fit cost linear either way. Candidate recall loss (true
    * near-dups split across a cell boundary) is the algorithm's accepted
    * approximation, bounded by how tight the clustering is.
    *
    * The DuckDB oracle replays the Lloyd fit with the proven
    * `sim_topk_ivf_kmeans` CTE chain and the within-cell pair scan
    * verbatim — the full approximate ALGORITHM is hash-gated, not just
    * the arithmetic.
    */
  // ======================================================================
  // Persisted MinHash fingerprint index — incremental dedup
  // ======================================================================

  /** The persisted MinHash index ([[IndexStore]] layout): `signatures` by
    * batch and the build `params`.
    */
  private val minhashStore = new IndexStore("signatures", "params")

  /** Build a persisted MinHash fingerprint index over `docs`: one
    * [[IndexStore]] version holding the 32-column signature table as its
    * base batch and the build hyperparameters. This is the production shape of
    * continuous crawl dedup: fingerprint the accepted corpus ONCE, then
    * dedup every incoming batch against the persisted fingerprints instead
    * of re-shingling 100 TB per batch.
    *
    * Storage is signatures only (32×8 B per doc — ~0.3 % of a 100 KB doc);
    * band keys are derived on read as k cheap xxhash64 calls over 4-int
    * structs, which costs arithmetic but keeps the persisted index 9×
    * smaller than materializing the exploded band table. At serving scale,
    * sort/bucket the signature files by doc_id so appends compact well.
    */
  def buildMinhashIndex(docs: DataFrame, dir: String, numHashes: Int = 32,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    IndexStore.requireUniqueKeys(docs, "doc_id", "buildMinhashIndex")
    minhashStore.publish(spark, dir) { v =>
      v.base("signatures", minhashSignatures(docs, numHashes, n))
      // params travel WITH the index: serve paths read them back instead of
      // trusting caller arguments, so a registration edit can never band a
      // signature table fitted with different k/n
      v.write("params", Seq((numHashes, n, bands, rowsPerBand))
        .toDF("num_hashes", "shingle_n", "bands", "rows_per_band"))
    }
  }

  private[graft] def readMinhashParams(root: IndexStore.Root): (Int, Int, Int, Int) = {
    val r = root.read("params").head()
    (r.getAs[Int]("num_hashes"), r.getAs[Int]("shingle_n"),
      r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band"))
  }

  /** Fingerprint `newDocs` with the index's own stored params and append
    * them as one batch ([[IndexStore.append]]): a replay under a stable
    * caller `batchId` (e.g. a streaming epoch) is idempotent.
    */
  def appendToMinhashIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      newDocs: DataFrame, batchId: Option[Long] = None): Unit =
    minhashStore.append(spark, dir, batchId) { (root, id) =>
      val (numHashes, n, _, _) = readMinhashParams(root)
      root.land("signatures", minhashSignatures(newDocs, numHashes, n), id)
    }

  /** Live signature view of a persisted MinHash index: a re-fingerprinted
    * doc's newest signature is the live one ([[IndexStore.Root.live]]).
    */
  def minhashIndexSignatures(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    IndexStore.open(spark, dir).live("signatures", "doc_id")

  /** Dedup an incoming batch against the persisted index WITHOUT touching
    * the indexed corpus text: fingerprint `newDocs` in flight, band both
    * signature sides, bucket-join on (band, key), and verify candidates by
    * signature agreement. Cost is O(new batch) fingerprinting plus an
    * equi-join against the index's derived band table — never a re-scan of
    * the corpus text, and never O(corpus × batch).
    *
    * Output: (new_id, dup_of, est_jaccard) — every indexed doc the incoming
    * doc collides with at est-Jaccard ≥ `estThreshold`. Callers drop or
    * quarantine the flagged new docs.
    */
  def dedupAgainstMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newDocs: DataFrame, estThreshold: Double = 0.5,
      excludeBatch: Option[Long] = None): DataFrame =
    // excludeBatch: a streaming replay must not match the batch against the
    // partial signatures its own failed delivery appended
    dedupAgainstMinhashIndex(IndexStore.open(spark, dir, excludeBatch), newDocs, estThreshold)

  /** [[dedupAgainstMinhashIndex]] against an opened root. */
  private[graft] def dedupAgainstMinhashIndex(root: IndexStore.Root,
      newDocs: DataFrame, estThreshold: Double): DataFrame = {
    val (numHashes, n, bands, rowsPerBand) = readMinhashParams(root)
    val idxSig = root.live("signatures", "doc_id")
    // cached: the batch-side signatures feed both the band join and the
    // verification join, and are batch-sized (32 longs/doc), not corpus-sized
    val newSig = minhashSignatures(newDocs, numHashes, n).cache()
    val idxBands = minhashBands(idxSig, bands, rowsPerBand)
      .select(col("doc_id").as("dup_of"), col("band"), col("key"))
    val newBands = minhashBands(newSig, bands, rowsPerBand)
      .select(col("doc_id").as("new_id"), col("band"), col("key"))
    val cand = newBands.join(idxBands, Seq("band", "key"))
      .select(col("new_id"), col("dup_of")).distinct()
    val sigN = newSig.select(col("doc_id").as("new_id") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"a_mh_$i")): _*)
    val sigI = idxSig.select(col("doc_id").as("dup_of") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"b_mh_$i")): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sigN, Seq("new_id")).join(sigI, Seq("dup_of"))
      .withColumn("est_jaccard", round(matches.cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= estThreshold)
      .select(col("new_id"), col("dup_of"), col("est_jaccard"))
      .orderBy(col("new_id"), col("dup_of"))
  }

  /** Fold all signature batches into a fresh version's base batch
    * ([[IndexStore.compact]]; `keepBelow` as in [[compactWinnowingIndex]]).
    * Run after enough appends that small-batch file counts dominate scan
    * setup.
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, keepBelow: Option[Long] = None): Unit =
    minhashStore.compact(spark, dir, keepBelow) { (old, v) =>
      v.base("signatures", old.live("signatures", "doc_id"))
      v.write("params", old.read("params"))
    }

  def semanticDedupPairs(emb: DataFrame, n: Int = 20,
      nCells: Int = 8, iters: Int = 3): DataFrame = {
    val (_, assign) = Similarity.kmeansFit(emb, nCells, iters)
    val withCell = emb.join(assign.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val a = withCell.select(col("cell"), col("vec_id").as("a"),
      col("embedding").as("emb_a"))
    val b = withCell.select(col("cell"), col("vec_id").as("b"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("cell")).filter(col("a") < col("b"))
      .select(col("cell"), col("a"), col("b"),
        round(Similarity.cosine(col("emb_a"), col("emb_b")), 6).as("cos"))
      .orderBy(col("cos").desc, col("a"), col("b"))
      .limit(n)
  }
}
