package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus ingestion formats beyond parquet — the shapes raw training data
  * actually arrives in:
  *
  *  - JSON-lines ([[readJsonl]]/[[writeJsonl]]): one document object per
  *    line, the de-facto interchange format for web-scale text corpora.
  *    The EXPLICIT schema matters twice over at 100 TB: it skips Spark's
  *    full-corpus inference pass, and it pins types against drifting
  *    producers (a numeric-looking id in one shard must not flip the
  *    column type).
  *  - Raw text ([[readTextDir]]): one document per file (or per line),
  *    wrapped into the `documents` schema with a deterministic doc_id.
  *
  * Both return the same (doc_id, text, …) shape the ext operators consume,
  * so every dedup/quality/similarity stage composes unchanged.
  */
object CorpusIO {

  /** The documents schema (FIXTURES §B). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(documentsSchema).json(path)

  /** Corrupt-tolerant variant: malformed lines land in `_corrupt_record`
    * instead of failing the job — at 100 TB some shard always has a bad
    * line, and dropping the job for it is not an option.
    */
  def readJsonlPermissive(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(documentsSchema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Whole-text-files ingestion: each file is one document; doc_id is the
    * portable hash of the file path (stable across runs and listings).
    */
  def readTextDir(spark: SparkSession, path: String): DataFrame = {
    spark.read.format("text")
      .option("wholetext", "true")
      .load(path)
      .select(
        call_function("portable_hash64", input_file_name()).as("doc_id"),
        col("value").as("text"),
        lit(null).cast(StringType).as("lang"),
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("source"),
        length(col("value")).cast(LongType).as("n_chars"))
  }
}
