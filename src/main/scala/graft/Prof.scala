package graft

import org.apache.spark.sql.execution.FormattedMode

/** Profile or explain registered queries (`SparkEntry.queries`) at
  * `SPARK_GRAFT_SF_DIR`:
  * {{{
  * sbt "runMain graft.Prof profile q1_pricing_summary sim_topk_ivfpq"
  * sbt "runMain graft.Prof explain q1_pricing_summary"
  * }}}
  * `profile` runs each query cold, then warm, with `Bench.sweep` between
  * runs, and prints one [[QueryProfile]] JSON line per run. `explain`
  * prints the formatted plan of each query's DataFrame without writing it.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Prof profile|explain <query>..."
    require(args.length >= 2 && Set("profile", "explain")(args(0)), usage)
    val names = args.toSeq.tail
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    try args(0) match {
      case "profile" =>
        for (name <- names; run <- Seq("cold", "warm")) {
          println(QueryProfile(spark, name, sfDir).json("run" -> run))
          Bench.sweep(spark)
        }
      case "explain" =>
        for (name <- names) {
          println(s"== $name")
          println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode))
        }
    } finally spark.stop()
  }
}
