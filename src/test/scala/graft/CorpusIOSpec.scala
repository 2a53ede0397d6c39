package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.CorpusIO

class CorpusIOSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-corpusio")

  override def afterAll(): Unit = spark.stop()

  test("jsonl round-trip preserves the documents table exactly") {
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = Files.createTempDirectory("graft-jsonl").toString + "/docs"
    CorpusIO.writeJsonl(docs, dir)
    val back = CorpusIO.readJsonl(spark, dir)
    assert(back.schema == CorpusIO.documentsSchema ||
      back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        CorpusIO.documentsSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = docs.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
  }

  test("permissive jsonl read isolates corrupt lines instead of failing") {
    val dir = Files.createTempDirectory("graft-jsonl-bad").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/part.jsonl"),
      """{"doc_id": 1, "text": "good line", "lang": "en", "source": "t", "n_chars": 9}
        |this is not json at all
        |{"doc_id": 2, "text": "another good", "lang": "en", "source": "t", "n_chars": 12}
        |""".stripMargin)
    val df = CorpusIO.readJsonlPermissive(spark, dir).cache()
    assert(df.filter(col("_corrupt_record").isNull).count() == 2)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(df.filter(col("doc_id") === 1).select("text").collect().head.getString(0) == "good line")
    df.unpersist()
  }

  test("text-dir ingestion: one doc per file, stable hashed ids, composes with ext operators") {
    val dir = Files.createTempDirectory("graft-textdir").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.txt"), "the quick brown fox jumps")
    Files.writeString(java.nio.file.Paths.get(s"$dir/b.txt"), "the quick brown fox jumps")
    Files.writeString(java.nio.file.Paths.get(s"$dir/c.txt"), "something else entirely here")
    val docs = CorpusIO.readTextDir(spark, dir)
    assert(docs.count() == 3)
    val again = CorpusIO.readTextDir(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(again == docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
      "doc ids must be stable across reads")
    // composes: exact dedup collapses the two identical files to one keeper
    val survivors = graft.ext.Dedup.exactSurvivors(docs)
    assert(survivors.count() == 2)
  }
}
