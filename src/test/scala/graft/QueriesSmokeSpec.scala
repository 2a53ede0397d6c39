package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query runs at sf0.001 and returns rows; every
  * oracle key refers to a registered query.
  */
class QueriesSmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-smoke")

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name returns rows at sf0.001") {
      assert(fn(spark, sf).count() > 0)
    }
  }

  // the sketch-only serving rows drop their in-row exact gates (r11 ask
  // #1), so the error envelope moves HERE: estimates must sit within the
  // documented bounds of the exact values the verifier rows still carry
  test("agg_approx_distinct_sketch estimates within 5 sigma of exact") {
    import org.apache.spark.sql.functions._
    val est = Queries.aggApproxDistinctSketch(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Queries.table(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("p"),
        countDistinct(col("l_orderkey")).as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val tol = 5 * 1.04 / math.sqrt(1024.0) // 5 sigma at m=1024 ~ 16%
    exact.foreach { case (flag, (p, o)) =>
      val (ep, eo) = est(flag)
      assert(math.abs(ep - p) <= tol * p, s"$flag parts: $ep vs $p")
      assert(math.abs(eo - o) <= tol * o, s"$flag orders: $eo vs $o")
    }
  }

  test("agg_approx_percentiles_sketch within one bucket width of exact") {
    import org.apache.spark.sql.functions._
    val est = Queries.aggApproxPercentilesSketch(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Queries.table(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D))").as("pe"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1).head, r.getSeq[Double](1)(1))).toMap
    exact.foreach { case (flag, (p50, p90)) =>
      val (e50, e90) = est(flag)
      assert(math.abs(e50 - p50) <= 100.0, s"$flag p50: $e50 vs $p50")
      assert(math.abs(e90 - p90) <= 100.0, s"$flag p90: $e90 vs $p90")
    }
  }
}
