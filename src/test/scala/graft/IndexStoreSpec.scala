package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, IndexStore, Multimodal, Similarity, TextAnalysis}
import graft.streaming.Landing

/** The persisted-index layout of [[IndexStore]]: the `CURRENT` pointer and
  * its version sweep, replay-idempotent batch appends, and `keepBelow`
  * compactions — on the module itself and on one store per family (IVF,
  * MinHash, image hash, BM25) — and its read side with [[Landing]]'s: the
  * live view by key, a hidden replayed batch, and a zone's newest batch.
  */
class IndexStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[2]", 2, "graft-indexstore")

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def entries(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  /** `CURRENT` names the newest version, and it is the only `v_*` left. */
  private def assertOneLiveVersion(dir: String, expected: String): Unit = {
    val current = new String(Files.readAllBytes(Paths.get(dir, "CURRENT")), "UTF-8").trim
    assert(current == expected)
    assert(entries(dir).filter(_.startsWith("v_")) == Set(expected), entries(dir))
    assert(IndexStore.resolve(spark, dir) == s"$dir/$expected")
  }

  private def batchDirs(tableDir: String): Set[String] =
    entries(tableDir).filter(_.startsWith("batch="))

  private def rows(from: Long, until: Long): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (i, s"r$i")).toDF("id", "v")
  }

  private def vectors(from: Long, until: Long): DataFrame = {
    import spark.implicits._
    (from until until).map { i =>
      (i, Array.tabulate(8)(d => (((i * 7 + d * 3) % 11) - 5).toFloat + d))
    }.toDF("vec_id", "embedding")
  }

  private def docs(from: Long, until: Long): DataFrame = {
    import spark.implicits._
    (from until until).map(i =>
      (i, (0 until 12).map(j => s"w${(i * 3 + j) % 40}").mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("publish: CURRENT names the newest version and no older v_* survives") {
    val dir = tmp("graft-store-publish")
    val store = new IndexStore("t", "side")
    // a pre-versioning flat copy of one of the store's tables, and a
    // directory that is not the store's
    rows(0, 2).write.parquet(s"$dir/t")
    rows(0, 2).write.parquet(s"$dir/other")
    (0 until 3).foreach { n =>
      val root = store.publish(spark, dir) { v =>
        v.base("t", rows(0, 3 + n))
        v.write("side", rows(0, 1))
      }
      assert(root == s"$dir/v_$n")
      assertOneLiveVersion(dir, s"v_$n")
      assert(spark.read.parquet(s"$root/t").count() == 3 + n)
    }
    assert(!entries(dir).contains("t"), "the flat legacy table must be swept")
    assert(entries(dir).contains("other"), "a directory outside the store survives")
    assert(IndexStore.published(spark, tmp("graft-store-none")).isEmpty)
  }

  test("append: a replayed batch id leaves the row count unchanged; no id takes the next") {
    val dir = tmp("graft-store-append")
    val store = new IndexStore("t")
    store.publish(spark, dir)(_.base("t", rows(0, 3)))
    def count = spark.read.parquet(s"${IndexStore.resolve(spark, dir)}/t").count()
    store.append(spark, dir, Some(5L))((r, id) => r.land("t", rows(10, 12), id))
    assert(count == 5)
    store.append(spark, dir, Some(5L))((r, id) => r.land("t", rows(10, 12), id))
    assert(count == 5, "a replay must overwrite its own batch")
    var auto = -2L
    store.append(spark, dir, None) { (r, id) => auto = id; r.land("t", rows(20, 21), id) }
    assert(auto == 6L)
    assert(count == 6)
    assert(batchDirs(s"$dir/v_0/t") == Set("batch=-1", "batch=5", "batch=6"))
  }

  test("append fails loud on a legacy pre-batch layout") {
    val dir = tmp("graft-store-legacy")
    rows(0, 2).write.parquet(s"$dir/t")
    val e = intercept[IllegalArgumentException] {
      new IndexStore("t").append(spark, dir, None)((r, id) => r.land("t", rows(5, 6), id))
    }
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  test("compact with keepBelow = Some(id) leaves batch id out of the fold") {
    val dir = tmp("graft-store-compact")
    val store = new IndexStore("t")
    store.publish(spark, dir)(_.base("t", rows(0, 3)))
    (1L to 3L).foreach(b =>
      store.append(spark, dir, Some(b))((r, id) => r.land("t", rows(b * 10, b * 10 + 2), id)))
    store.compact(spark, dir, keepBelow = Some(3L))((old, v) =>
      v.base("t", old.batches("t").drop("batch")))
    assertOneLiveVersion(dir, "v_1")
    assert(batchDirs(s"$dir/v_1/t") == Set("batch=-1"))
    val ids = spark.read.parquet(s"$dir/v_1/t").select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 2L, 10L, 11L, 20L, 21L))
  }

  test("IVF store: version sweep, replay-idempotent append, keepBelow compaction") {
    val dir = tmp("graft-store-ivf")
    Similarity.buildIvfIndex(vectors(0, 40), dir, nCells = 4, iters = 2)
    Similarity.buildIvfIndex(vectors(0, 40), dir, nCells = 4, iters = 2)
    assertOneLiveVersion(dir, "v_1")
    def live = spark.read.parquet(s"${IndexStore.resolve(spark, dir)}/vectors")
    Similarity.appendToIvfIndex(spark, dir, vectors(100, 104), batchId = Some(1L))
    Similarity.appendToIvfIndex(spark, dir, vectors(100, 104), batchId = Some(1L))
    assert(live.count() == 44)
    Similarity.appendToIvfIndex(spark, dir, vectors(200, 202), batchId = Some(2L))
    Similarity.compactIvfIndex(spark, dir, keepBelow = Some(2L))
    assertOneLiveVersion(dir, "v_2")
    assert(batchDirs(s"$dir/v_2/vectors") == Set("batch=-1"))
    val ids = live.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == ((0L until 40L) ++ (100L until 104L)).toSet)
  }

  test("MinHash store: version sweep, replay-idempotent append, keepBelow compaction") {
    val dir = tmp("graft-store-minhash")
    Dedup.buildMinhashIndex(docs(0, 20), dir)
    Dedup.buildMinhashIndex(docs(0, 20), dir)
    assertOneLiveVersion(dir, "v_1")
    def sigs = spark.read.parquet(s"${IndexStore.resolve(spark, dir)}/signatures")
    Dedup.appendToMinhashIndex(spark, dir, docs(100, 103), batchId = Some(1L))
    Dedup.appendToMinhashIndex(spark, dir, docs(100, 103), batchId = Some(1L))
    assert(sigs.count() == 23)
    Dedup.appendToMinhashIndex(spark, dir, docs(200, 202), batchId = Some(2L))
    Dedup.compactMinhashIndex(spark, dir, keepBelow = Some(2L))
    assertOneLiveVersion(dir, "v_2")
    assert(batchDirs(s"$dir/v_2/signatures") == Set("batch=-1"))
    val ids = sigs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == ((0L until 20L) ++ (100L until 103L)).toSet)
  }

  test("image hash store: version sweep, replay-idempotent append, compaction") {
    import spark.implicits._
    def media(from: Long, until: Long): DataFrame =
      (from until until).map(i => (i, s"opaque payload $i".getBytes("UTF-8"), "text/plain"))
        .toDF("doc_id", "payload", "media_type")
    val dir = tmp("graft-store-image")
    Multimodal.buildImageHashStore(media(0, 6), dir)
    Multimodal.buildImageHashStore(media(0, 6), dir)
    assertOneLiveVersion(dir, "v_1")
    def hashes = spark.read.parquet(s"${IndexStore.resolve(spark, dir)}/hashes")
    Multimodal.appendToImageHashStore(spark, dir, media(10, 12), batchId = Some(1L))
    Multimodal.appendToImageHashStore(spark, dir, media(10, 12), batchId = Some(1L))
    assert(hashes.count() == 8)
    Multimodal.compactImageHashStore(spark, dir)
    assertOneLiveVersion(dir, "v_2")
    assert(batchDirs(s"$dir/v_2/hashes") == Set("batch=-1"))
    assert(hashes.count() == 8)
  }

  test("BM25 store: version sweep, replay-idempotent append, compaction") {
    val dir = tmp("graft-store-bm25")
    TextAnalysis.buildBm25Index(docs(0, 20), dir, mChampions = 4)
    TextAnalysis.buildBm25Index(docs(0, 20), dir, mChampions = 4)
    assertOneLiveVersion(dir, "v_1")
    def deltas = spark.read.parquet(s"${IndexStore.resolve(spark, dir)}/tf_delta")
    TextAnalysis.appendToBm25Index(spark, dir, docs(100, 103), batchId = Some(1L))
    val once = deltas.count()
    TextAnalysis.appendToBm25Index(spark, dir, docs(100, 103), batchId = Some(1L))
    assert(deltas.count() == once)
    TextAnalysis.compactBm25Index(spark, dir)
    assertOneLiveVersion(dir, "v_2")
    assert(!entries(s"$dir/v_2").contains("tf_delta"))
    val docIds = spark.read.parquet(s"$dir/v_2/tf").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(docIds == ((0L until 20L) ++ (100L until 103L)).toSet)
  }

  private def pairs(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet

  test("live view: base rows of untouched keys pass through, an appended key serves its newest batch") {
    import spark.implicits._
    val dir = tmp("graft-store-live")
    val store = new IndexStore("t")
    store.publish(spark, dir)(_.base("t", rows(0, 4)))
    store.append(spark, dir, Some(1L))((r, id) =>
      r.land("t", Seq((1L, "a1"), (2L, "a1")).toDF("id", "v"), id))
    store.append(spark, dir, Some(2L))((r, id) =>
      r.land("t", Seq((2L, "a2")).toDF("id", "v"), id))
    val live = IndexStore.open(spark, dir).live("t", "id")
    assert(live.columns.toSeq == Seq("id", "v"))
    assert(pairs(live) == Set((0L, "r0"), (1L, "a1"), (2L, "a2"), (3L, "r3")))
  }

  test("live view: a key owning several rows (a winnowing set) is replaced whole") {
    val dir = tmp("graft-store-live-set")
    Dedup.buildWinnowingIndex(docs(0, 4), dir)
    val before = Dedup.winnowingIndexFps(spark, dir)
    assert(before.filter("doc_id = 1").count() > 1, "doc 1 must own a fingerprint set")
    val rewritten = docs(7, 8).selectExpr("1L AS doc_id", "text")
    Dedup.appendToWinnowingIndex(spark, dir, rewritten, batchId = Some(1L))
    val fp = (df: DataFrame, doc: Long) =>
      df.filter(s"doc_id = $doc").select("fp").collect().map(_.getLong(0)).toSet
    val after = Dedup.winnowingIndexFps(spark, dir)
    val expected = TextAnalysis.winnowingFingerprints(rewritten, 12, 8)
    assert(fp(after, 1L) == fp(expected, 1L), "doc 1 serves exactly its new set")
    assert(fp(after, 1L) != fp(before, 1L))
    Seq(0L, 2L, 3L).foreach(d => assert(fp(after, d) == fp(before, d), s"doc $d untouched"))
  }

  test("live view: an append that carries one key twice keeps both rows") {
    import spark.implicits._
    val dir = tmp("graft-store-live-twice")
    val store = new IndexStore("t")
    store.publish(spark, dir)(_.base("t", rows(0, 2)))
    store.append(spark, dir, Some(1L))((r, id) =>
      r.land("t", Seq((1L, "x"), (1L, "y")).toDF("id", "v"), id))
    assert(pairs(IndexStore.open(spark, dir).live("t", "id")) ==
      Set((0L, "r0"), (1L, "x"), (1L, "y")))
    // the image-hash store, through its public serve view
    val media = (0L until 3L).map(i => (i, s"opaque payload $i".getBytes("UTF-8"), "text/plain"))
      .toDF("doc_id", "payload", "media_type")
    val img = tmp("graft-store-live-twice-image")
    Multimodal.buildImageHashStore(media, img)
    Multimodal.appendHashesToStore(IndexStore.open(spark, img),
      Seq((1L, 11L, false), (1L, 12L, false)).toDF("doc_id", "ahash", "is_image"), Some(1L))
    val served = Multimodal.imageStoreHashes(spark, img)
    assert(served.filter("doc_id = 1").select("ahash").collect().map(_.getLong(0)).toSet ==
      Set(11L, 12L))
    assert(served.count() == 4)
  }

  test("a hidden batch drops from every batched table of a root and from a Landing zone") {
    import spark.implicits._
    // 7 keeps the discovered `batch` column INT; 5e9 makes it LONG
    Seq(7L, 5000000000L).foreach { hidden =>
      val dir = tmp("graft-store-hide")
      Dedup.buildWinnowingIndex(docs(0, 6), dir)
      val fps0 = Dedup.winnowingIndexFps(spark, dir).collect().toSet
      val df0 = Dedup.winnowingIndexDf(spark, dir).collect().toSet
      Dedup.appendToWinnowingIndex(spark, dir, docs(2, 4).union(docs(50, 52)),
        batchId = Some(hidden))
      val root = IndexStore.open(spark, dir, hide = Some(hidden))
      assert(root.live("fps", "doc_id").collect().toSet == fps0, s"fps, batch $hidden")
      assert(Dedup.winnowingIndexDf(spark, dir, excludeBatch = Some(hidden))
        .collect().toSet == df0, s"df, batch $hidden")
      assert(Dedup.winnowingIndexFps(spark, dir).collect().toSet != fps0)
      val zone = s"${tmp("graft-zone-hide")}/z"
      Landing.write(Seq((1L, "a")).toDF("id", "v"), zone, 3L)
      Landing.write(Seq((2L, "b")).toDF("id", "v"), zone, hidden)
      assert(pairs(Landing.read(spark, zone)) == Set((1L, "a"), (2L, "b")))
      assert(pairs(Landing.read(spark, zone, hide = Some(hidden))) == Set((1L, "a")))
      assert(Landing.readIfAny(spark, s"${tmp("graft-zone-none")}/z").isEmpty)
    }
  }

  test("newest batch of a zone is found by numeric id: batch=10 over batch=9") {
    import spark.implicits._
    val zone = s"${tmp("graft-zone-newest")}/z"
    Landing.write(Seq((9L, "nine")).toDF("id", "v"), zone, 9L)
    Landing.write(Seq((10L, "ten")).toDF("id", "v"), zone, 10L)
    assert(pairs(Landing.newest(spark, zone)) == Set((10L, "ten")))
  }

  test("a batch still being written (only _temporary) is skipped by newest, read and readIfAny") {
    import spark.implicits._
    val zone = s"${tmp("graft-zone-newest-partial")}/z"
    Landing.write(Seq((10L, "ten")).toDF("id", "v"), zone, 10L)
    // what the Hadoop committer leaves before it moves a part file in, or
    // after a failed delivery
    Files.createDirectories(Paths.get(Landing.dir(zone, 11L), "_temporary", "0"))
    assert(pairs(Landing.newest(spark, zone)) == Set((10L, "ten")))
    assert(pairs(Landing.read(spark, zone)) == Set((10L, "ten")))
    // a zone whose only batch never committed has nothing to read
    val first = s"${tmp("graft-zone-first-partial")}/z"
    Files.createDirectories(Paths.get(Landing.dir(first, 0L), "_temporary", "0"))
    assert(Landing.readIfAny(spark, first).isEmpty)
  }
}
