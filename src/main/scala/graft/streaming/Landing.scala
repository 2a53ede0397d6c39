package graft.streaming

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one landing protocol of the streaming twins. `foreachBatch` is
  * at-least-once: a micro-batch whose sink ran but whose commit did not
  * reach the checkpoint is replayed, under the same id, on restart. Every
  * sink therefore lands a micro-batch only in directories that batch owns,
  * `<zone>/batch=<id>`, written with OVERWRITE ([[write]]), so a replay
  * rewrites its own output instead of appending it a second time: the
  * landing zone is exactly-once. Readers read the zone root and see one
  * extra discovered partition column, `batch`. The persisted indexes land
  * their batches the same way ([[graft.ext.IndexStore]]).
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

  /** The directory micro-batch `batchId` owns in `zone`. */
  def dir(zone: String, batchId: Long): String = s"$zone/batch=$batchId"

  /** Land `df` as micro-batch `batchId`'s part of `zone`, replacing what an
    * earlier delivery of the same batch left there.
    */
  def write(df: DataFrame, zone: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(dir(zone, batchId))
}
