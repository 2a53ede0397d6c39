package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up: replicate an existing testdata scale factor N×
  * with CONSISTENT key remapping, so a caller (RetrievalSpec, a hand-run
  * scale check) can measure how a query's runtime actually scales with
  * data volume instead of arguing from plan shape alone (r7 ask #5 — a
  * super-linear outlier from bucket skew or driver accumulation is
  * exactly what plan reading misses).
  *
  * Remap discipline: in copy `c` (0 ≤ c < factor), every primary AND
  * foreign key `k` becomes `k * factor + c` — the SAME affine map on
  * both sides of every relationship, so each copy is a disjoint,
  * structurally identical universe: join fan-outs, group cardinalities
  * per key, and selectivities are all preserved while table row counts
  * and distinct-key counts scale by exactly `factor`. Fixed-size
  * dimensions (region, nation) are NOT scaled — at any real scale they
  * stay 5/25 rows, and scaling them would distort the broadcast-join
  * shape the probe queries are meant to exercise.
  *
  * Content perturbation — verbatim replication would be a dedup-family
  * lie: 10 byte-identical copies of every document make each LSH bucket
  * 10× deeper and the within-bucket pair count 100× (quadratic in the
  * planted duplication, not in the algorithm), so the smoke test would
  * flag the DATA, not the code. Instead:
  *   - `documents.text` in copy c > 0 is deterministically word-scrambled
  *     (words sorted by `xxhash64(word, position, c)`): the word multiset
  *     — and with it token counts, stopword ratios, language profile — is
  *     preserved, while word ORDER (hence shingles, MinHash signatures,
  *     winnowing fingerprints) decorrelates from the original, keeping
  *     near-dup density per-copy-local like the base corpus;
  *   - `embeddings.embedding` in copy c > 0 gets a deterministic ±0.05
  *     per-element offset keyed on (vec_id, index, c): geometry and norm
  *     stay close (top-k work unchanged) but copies stop being exact
  *     duplicates that would pile into single LSH/IVF cells.
  * Copy 0 is byte-identical to the source in content, with keys remapped
  * by the same rule as every other copy (`k * factor`), so the scaled
  * universe has no privileged copy. Everything is pure deterministic
  * column arithmetic — no RNG, no driver-side materialization; the whole
  * generation is `factor` unioned scans per table, written once.
  */
object ScaleUp {

  /** Key columns to remap per table; absent tables copy through. */
  private val remapKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq.empty,
    "nation" -> Seq.empty,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Deterministic word scramble for copy `c`: stable across runs, keyed
    * on (word, position, copy) so identical words at different positions
    * still separate. Preserves the word multiset; destroys shingle order.
    */
  private def scrambleText(c: Int): org.apache.spark.sql.Column =
    concat_ws(" ", expr(
      s"""transform(array_sort(transform(
         |  filter(split(text, '\\\\s+'), x -> x != ''),
         |  (w, i) -> named_struct('h', xxhash64(w, i, ${c}L), 'w', w))),
         |  s -> s.w)""".stripMargin))

  private def oneCopy(src: DataFrame, table: String, factor: Int, c: Int): DataFrame = {
    val keyed = remapKeys.getOrElse(table, Seq.empty).foldLeft(src) {
      (df, k) => df.withColumn(k, col(k) * factor + c)
    }
    table match {
      case "documents" if c > 0 =>
        // n_chars tracks the regenerated text so the table stays
        // internally consistent (single-space joins change char counts)
        keyed.withColumn("text", scrambleText(c))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" if c > 0 =>
        keyed.withColumn("embedding", expr(
          s"""transform(embedding, (x, i) -> cast(x +
             |  (cast(pmod(xxhash64(vec_id, i, ${c}L), 101L) as double) - 50.0d)
             |  / 1000.0d as float))""".stripMargin))
      case _ => keyed
    }
  }

  private def marker(outDir: String) =
    java.nio.file.Paths.get(outDir, "_SCALED_OK")

  /** Generate (or reuse) a `factor`× scale-up of `srcDir` under `outDir`.
    * Returns the generation wall-clock in seconds, 0.0 when the cached
    * output was reused. The marker records source + factor; a mismatch
    * on either forces a regeneration rather than serving a mismatched
    * corpus.
    */
  def ensure(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int = 10): Double = {
    require(factor >= 2, s"scale-up factor must be >= 2, got $factor")
    val sig = s"src=$srcDir;factor=$factor"
    val m = marker(outDir)
    if (java.nio.file.Files.exists(m) &&
        new String(java.nio.file.Files.readAllBytes(m), "UTF-8") == sig)
      return 0.0
    val t0 = System.nanoTime()
    // the events table may carry TIMESTAMP(NANOS) (see Queries.events):
    // without this flag the bare read below would reject it outright; the
    // nanos column round-trips as BIGINT and events() on the scaled dir
    // takes its LongType branch
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val src = Queries.table(spark, srcDir, t)
      val out =
        if (remapKeys.getOrElse(t, Seq.empty).isEmpty) src
        else (0 until factor).map(c => oneCopy(src, t, factor, c))
          .reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    java.nio.file.Files.write(m, sig.getBytes("UTF-8"))
    (System.nanoTime() - t0) / 1e9
  }
}
