package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit, max}

import graft.streaming.Landing

/** The one on-disk layout of the persisted indexes and models, and the
  * only code that spells it. A store at `dir` holds:
  *
  *   - `dir/CURRENT`, naming the live version `v_<n>`. [[publish]] writes
  *     a complete `v_<n>` first and flips `CURRENT` last (temp file +
  *     rename, the closest to atomic the Hadoop FS API offers), so a crash
  *     leaves the previous version live and a reader never pairs tables of
  *     two versions. Without `CURRENT`, `dir` itself is the root: a store
  *     written by the pre-versioning flat layout stays readable.
  *   - per appendable table, one `batch=<id>` directory per writer: the
  *     build and every compaction land the base as `batch=-1`, each append
  *     lands `batch=<id>` through [[graft.streaming.Landing.write]]
  *     (OVERWRITE), so an at-least-once replay under the same id rewrites
  *     its own directory instead of appending twice.
  *
  * A store declares its tables once, and the first one is its commit
  * table: an append without an id takes the commit table's next free id,
  * and an append into a commit table that holds anything but `batch=<id>`
  * directories (a legacy pre-batch layout, which partition discovery could
  * not read next to a batch) fails loud. A publish deletes every
  * superseded `v_*` and every top-level table of the store's own names
  * (the flat layout it replaces), at once: single writer, and compaction
  * runs between serving reads, never under an in-flight scan.
  *
  * Reads go through a [[Root]] opened once per serve ([[IndexStore.open]]),
  * so every table of one serve comes from one version, and a replayed
  * batch hidden there is hidden from every batched table read through it.
  */
final class IndexStore(tables: String*) {
  import IndexStore._

  /** Write a complete new version with `write`, then flip `CURRENT` to it
    * and sweep what it supersedes. Returns the new version's root.
    */
  def publish(spark: SparkSession, dir: String)(write: Root => Unit): String = {
    val fs = Landing.fileSystem(spark, dir)
    val dirPath = new Path(dir)
    val versions = if (!fs.exists(dirPath)) Nil else fs.listStatus(dirPath).toSeq
      .flatMap(st => idOf(st.getPath.getName, "v_"))
    val name = s"v_${versions.foldLeft(-1L)(math.max) + 1}"
    val root = new Root(spark, s"$dir/$name")
    write(root)
    val cur = new Path(dir, Current)
    val tmp = new Path(dir, s"$Current.tmp")
    val out = fs.create(tmp, true)
    try out.write(name.getBytes("UTF-8")) finally out.close()
    if (fs.exists(cur)) fs.delete(cur, false)
    require(fs.rename(tmp, cur), s"failed to publish $cur -> $name")
    fs.listStatus(dirPath).map(_.getPath).foreach { p =>
      val n = p.getName
      if ((n.startsWith("v_") && n != name) || tables.contains(n)) fs.delete(p, true)
    }
    root.path
  }

  /** Run one append against the live root as batch `batchId`, or, without
    * one, as the commit table's next free id.
    */
  def append(spark: SparkSession, dir: String, batchId: Option[Long])(
      write: (Root, Long) => Unit): Unit =
    append(open(spark, dir), batchId)(write)

  /** [[append]] against an already opened root (a stream's pinned one). */
  def append(root: Root, batchId: Option[Long])(write: (Root, Long) => Unit): Unit = {
    val ids = root.batchIds(tables.head)
    write(root, batchId.getOrElse(ids.foldLeft(Base)(math.max) + 1))
  }

  /** Fold the live version into a newly published one: `write(old, next)`,
    * where `old` reads only the batches below `keepBelow`. The
    * streaming ingests compact at the start of batch N with
    * `keepBelow = N`: batches below N are checkpoint-committed, while a
    * partial `batch=N` left by a failed delivery stays out of the fold and
    * its replay re-appends to the new root.
    */
  def compact(spark: SparkSession, dir: String, keepBelow: Option[Long] = None)(
      write: (Root, Root) => Unit): Unit = {
    val old = open(spark, dir).below(keepBelow)
    publish(spark, dir)(write(old, _))
  }
}

object IndexStore {

  private val Current = "CURRENT"

  /** The batch id of the base that a build or a compaction lands. */
  private val Base = -1L

  /** The live root of the store at `dir`: the version `CURRENT` names,
    * else `dir` itself (a flat pre-versioning store, or a root that is
    * already resolved).
    */
  def resolve(spark: SparkSession, dir: String): String =
    published(spark, dir).getOrElse(dir)

  /** The root `dir/CURRENT` names, if a version was ever published there. */
  def published(spark: SparkSession, dir: String): Option[String] = {
    val cur = new Path(dir, Current)
    val fs = Landing.fileSystem(spark, dir)
    if (!fs.exists(cur)) None
    else {
      val in = fs.open(cur)
      try Some(s"$dir/${scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim}")
      finally in.close()
    }
  }

  /** Open the live root of the store at `dir` ([[resolve]]), hiding batch
    * `hide` (a replay's own earlier delivery) from every batched table.
    */
  def open(spark: SparkSession, dir: String, hide: Option[Long] = None): Root =
    new Root(spark, resolve(spark, dir), None, hide)

  /** Base-build inputs must be ONE ROW PER KEY (r11 advisor catch): the
    * live view's base/recent split ([[Root.live]]) passes
    * base rows through WITHOUT a per-key window — the whole point of the
    * split — so a base built from duplicate-keyed input would keep the
    * duplicates forever. Only the build input is checked: an append that
    * carries a key twice keeps both rows in the live view, and a
    * compaction lands that view as its base, so after a compaction a
    * store holds one row per key only if its appends did. A duplicate key
    * in a build input is a data bug; fail loud at build time instead of
    * silently changing serve results. Cost: one full-input
    * map-side-combined groupBy over the build keys (the `limit(1)` bounds
    * only the driver collect, not the shuffle) — paid once per offline
    * base build, never on a serve path.
    */
  private[ext] def requireUniqueKeys(df: DataFrame, key: String,
      ctx: String): Unit = {
    val dup = df.groupBy(col(key)).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"$ctx: build input has duplicate $key=${dup.headOption.map(_.get(0)).orNull}" +
        s" — a build input must be one-row-per-$key; the live view" +
        " resolves keys across appends, never within the base build")
  }

  private def idOf(name: String, prefix: String): Option[Long] =
    if (name.startsWith(prefix)) name.stripPrefix(prefix).toLongOption else None

  /** One version root (or a flat legacy root) of a store, with its tables
    * addressed by name. A table without batches is read and written whole
    * ([[read]], [[write]]); a batched one is read as its [[batches]] or
    * its [[live]] view, and written a batch at a time ([[land]], [[base]]).
    */
  final class Root private[IndexStore] (spark: SparkSession, val path: String,
      keepBelow: Option[Long] = None, hide: Option[Long] = None) {

    private def apply(table: String): String = s"$path/$table"

    /** A table without batches. */
    def read(table: String): DataFrame = spark.read.parquet(this(table))

    /** Batches `ids` of `table`, without the `batch` column. */
    def batch(table: String, ids: Long*): DataFrame =
      spark.read.parquet(ids.map(Landing.dir(this(table), _)): _*)

    /** Every batch of `table` this root sees (below its `keepBelow`, minus
      * its hidden batch), without the `batch` column.
      */
    def batches(table: String): DataFrame = visible(table).drop(Landing.Batch)

    /** [[batches]], or `None` when no batch of `table` has committed. */
    def batchesIfAny(table: String): Option[DataFrame] =
      if (Landing.committed(spark, this(table)).nonEmpty) Some(batches(table)) else None

    /** The live view of `table` by `key`: the rows of each key's newest
      * batch, so a key re-appended later serves only its new rows (all of
      * them: a key owning several rows, like a fingerprint set, is
      * replaced whole). The base is one row set per key by construction,
      * so only the appended batches pay the per-key window; base rows of
      * keys no append touched pass through an anti-join against the
      * appended keys.
      */
    def live(table: String, key: String): DataFrame = {
      val all = visible(table)
      val recent = all.filter(Landing.batchCol =!= Base)
      val newest = recent
        .withColumn("_newest", max(Landing.batchCol).over(Window.partitionBy(col(key))))
        .filter(Landing.batchCol === col("_newest"))
        .drop("_newest", Landing.Batch)
      all.filter(Landing.batchCol === Base).drop(Landing.Batch)
        .join(newest.select(col(key)).distinct(), Seq(key), "left_anti")
        .unionByName(newest)
    }

    /** This root with batch `id` hidden from every batched table. */
    def hiding(id: Long): Root = new Root(spark, path, keepBelow, Some(id))

    /** This root reading only the batches below `id`. */
    def below(id: Option[Long]): Root = id.fold(this)(i =>
      new Root(spark, path, Some(keepBelow.fold(i)(math.min(_, i))), hide))

    /** The ids of `table`'s batch directories; fails loud on a legacy
      * pre-batch layout.
      */
    def batchIds(table: String): Seq[Long] = {
      val (ids, other) = Landing.batchIds(spark, this(table))
      require(!other, s"${this(table)} uses a legacy pre-batch " +
        "layout; rebuild the index before appending")
      ids
    }

    /** A table without batches, replaced whole. */
    def write(table: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(this(table))

    /** Land `df` as batch `id` of `table`, replacing an earlier delivery of
      * the same batch.
      */
    def land(table: String, df: DataFrame, id: Long, partitionBy: String*): Unit =
      if (partitionBy.isEmpty) Landing.write(df, this(table), id)
      else df.write.mode("overwrite").partitionBy(partitionBy: _*)
        .parquet(Landing.dir(this(table), id))

    /** Land `df` as the base batch of `table`. */
    def base(table: String, df: DataFrame, partitionBy: String*): Unit =
      land(table, df, Base, partitionBy: _*)

    private def visible(table: String): DataFrame =
      Landing.visible(spark.read.parquet(this(table)), keepBelow, hide)
  }
}
