package graft

import org.apache.spark.sql.SparkSession

/** SQL entry surface: registers the testdata tables as temp views, so the
  * whole operator surface is reachable from `spark.sql(...)` as well as
  * the DataFrame API. The native functions come with the session itself
  * ([[Graft.session]] or `spark.sql.extensions=graft.GraftExtensions`) —
  * e.g.
  *
  * {{{
  * val spark = Graft.session()
  * Tables.registerAll(spark, "/root/testdata/sf0.01")
  * spark.sql("""
  *   SELECT a.vec_id, b.vec_id, cosine_sim(a.embedding, b.embedding) AS cos
  *   FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  *   ORDER BY cos DESC LIMIT 10""")
  * }}}
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def registerAll(spark: SparkSession, dir: String): Unit = {
    names.foreach {
      case "events" =>
        Queries.events(spark, dir).createOrReplaceTempView("events")
      case n =>
        Queries.table(spark, dir, n).createOrReplaceTempView(n)
    }
  }
}
