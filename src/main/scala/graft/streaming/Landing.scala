package graft.streaming

import scala.collection.mutable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one landing protocol of the streaming twins. `foreachBatch` is
  * at-least-once: a micro-batch whose sink ran but whose commit did not
  * reach the checkpoint is replayed, under the same id, on restart. Every
  * sink therefore lands a micro-batch only in directories that batch owns,
  * `<zone>/batch=<id>`, written with OVERWRITE ([[write]]), so a replay
  * rewrites its own output instead of appending it a second time: the
  * landing zone is exactly-once. The persisted indexes land their batches
  * the same way ([[graft.ext.IndexStore]]).
  *
  * The read side is here too, so no reader spells the layout: [[read]]
  * returns a zone's batches (minus a replayed one, a replay's own earlier
  * delivery) without the `batch` column, and [[newest]] returns its newest
  * committed batch, found by listing the batch directories.
  */
object Landing {

  /** The caches one micro-batch's body made. [[eachBatch]] unpersists them,
    * by plan, when the batch ends: never a session-wide `clearCache`, which
    * would drop co-resident workloads' caches in a shared session.
    */
  final class Scope private[Landing] () {
    private val caches = mutable.ArrayBuffer.empty[DataFrame]

    /** For a `cacheRegistry` parameter of the batch operators. */
    val registry: Option[mutable.Buffer[DataFrame]] = Some(caches)

    def cache(df: DataFrame): DataFrame = { caches += df; df.cache() }

    private[Landing] def release(): Unit = caches.foreach(_.unpersist())
  }

  /** Start `stream` with its checkpoint at `checkpointDir` and run `body`
    * on each non-empty micro-batch with the batch id and the batch's
    * [[Scope]]. The batch is cached once, so the emptiness check and every
    * use in `body` run the batch plan (a stateful dedup included) once.
    * Returns the started query; the caller owns its lifecycle.
    */
  def eachBatch(stream: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long, Scope) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val scope = new Scope
        try {
          val b = scope.cache(batch.toDF())
          if (!b.isEmpty) body(b, batchId, scope)
        } finally scope.release()
      }
      .start()

  private val Prefix = "batch="

  /** The directory micro-batch `batchId` owns in `zone`. */
  def dir(zone: String, batchId: Long): String = s"$zone/$Prefix$batchId"

  /** Land `df` as micro-batch `batchId`'s part of `zone`, replacing what an
    * earlier delivery of the same batch left there.
    */
  def write(df: DataFrame, zone: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(dir(zone, batchId))

  /** Every batch landed in `zone`, without the `batch` column; with `hide`,
    * minus that batch.
    */
  def read(spark: SparkSession, zone: String, hide: Option[Long] = None): DataFrame =
    visible(spark.read.parquet(zone), None, hide).drop(Batch)

  /** [[read]], or `None` when no batch has committed in `zone` yet. */
  def readIfAny(spark: SparkSession, zone: String,
      hide: Option[Long] = None): Option[DataFrame] =
    if (committed(spark, zone).nonEmpty) Some(read(spark, zone, hide)) else None

  /** The newest committed batch of `zone`, without the `batch` column. */
  def newest(spark: SparkSession, zone: String): DataFrame = {
    val ids = committed(spark, zone)
    require(ids.nonEmpty, s"no batch has committed in $zone")
    spark.read.parquet(dir(zone, ids.max))
  }

  /** `sub` read from every batch of `zone` (e.g. a per-batch manifest). */
  def readEach(spark: SparkSession, zone: String, sub: String): DataFrame =
    spark.read.parquet(s"$zone/${Prefix}*/$sub")

  /** `files` of `zone` (none: an empty frame of the zone's schema), with
    * the zone's other partition columns but not `batch`.
    */
  def readFiles(spark: SparkSession, zone: String, files: Seq[String]): DataFrame =
    if (files.isEmpty) read(spark, zone).filter(lit(false))
    else spark.read.option("basePath", zone).parquet(files: _*).drop(Batch)

  /** The discovered partition column every batch directory adds. */
  private[graft] val Batch = "batch"

  /** A row's batch id. Partition discovery infers the column as INT while
    * every id fits one, so it is compared through a cast to long.
    */
  private[graft] val batchCol: Column = col(Batch).cast("long")

  /** The rows of `df` (a zone read from its root, `batch` column kept) in
    * batches below `below`, minus batch `hide`.
    */
  private[graft] def visible(df: DataFrame, below: Option[Long],
      hide: Option[Long]): DataFrame = {
    val kept = below.fold(df)(b => df.filter(batchCol < b))
    hide.fold(kept)(h => kept.filter(batchCol =!= h))
  }

  /** The ids of `zone`'s batch directories, and whether anything else
    * (other than `_`/`.` files) sits next to them.
    */
  private[graft] def batchIds(spark: SparkSession, zone: String): (Seq[Long], Boolean) = {
    val p = new Path(zone)
    val fs = fileSystem(spark, zone)
    val names = if (!fs.exists(p)) Nil else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    val ids = names.flatMap(n =>
      if (n.startsWith(Prefix)) n.stripPrefix(Prefix).toLongOption else None)
    (ids, ids.size != names.size)
  }

  /** The ids of `zone`'s committed batches: those whose directory holds
    * `_SUCCESS`. A batch still being written, or left by a failed
    * delivery, holds only `_temporary`; partition discovery skips it, and
    * a zone holding nothing else cannot be read at all.
    */
  private[graft] def committed(spark: SparkSession, zone: String): Seq[Long] = {
    val fs = fileSystem(spark, zone)
    batchIds(spark, zone)._1.filter(id => fs.exists(new Path(dir(zone, id), "_SUCCESS")))
  }

  private[graft] def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
