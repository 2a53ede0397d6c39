package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BloomFunctions, PortableHash64}
import graft.plans.AsOfJoinPlans

/** Every graft session comes from [[Graft.session]], so its session must
  * resolve all six native functions and plan the as-of exec before any
  * operator has run: both when the factory builds the session and when
  * getOrCreate hands back one built without the extension (a notebook's
  * pre-existing `spark`).
  */
class GraftSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  override def afterAll(): Unit = SparkSession.getActiveSession.foreach(_.stop())

  private val functionNames = Seq("vec_dot", "cosine_sim", "portable_hash64",
    "long_div", "nfc_normalize", "bloom_might_contain")

  private def clearSessions(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def assertReady(spark: SparkSession): Unit = {
    val bloom = BloomFilter.create(100)
    bloom.putLong(7L)
    val bloomHex = BloomFunctions.serialize(bloom).map("%02X".format(_)).mkString
    val decomposed = "e\u0301" // e + combining acute accent
    val r = spark.sql(
      s"""SELECT vec_dot(array(1d, 2d), array(3d, 4d)),
         |  cosine_sim(array(1d, 0d), array(2d, 0d)),
         |  portable_hash64('graft'),
         |  long_div(7L, 2L),
         |  nfc_normalize('$decomposed'),
         |  bloom_might_contain(7L, X'$bloomHex')""".stripMargin).collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 1.0)
    assert(r.getLong(2) == PortableHash64.hash60("graft".getBytes(StandardCharsets.UTF_8)))
    assert(r.getLong(3) == 3L)
    assert(r.getString(4) == "\u00e9")
    assert(r.getBoolean(5))

    val left = spark.range(3).selectExpr("id AS k", "id AS t")
    val right = spark.range(3).selectExpr("id AS k", "id AS rt", "id * 10 AS v")
    val plan = AsOfJoinPlans.asOfJoinExec(left, right, "k", "t", "rt", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
  }

  test("a fresh Graft.session resolves every graft function and plans AsOfJoin before any operator runs") {
    clearSessions()
    assertReady(Graft.session("local[2]", 2, "graft-session-fresh"))
  }

  test("Graft.session installs what a reused session built without the extension lacks") {
    clearSessions()
    val plain = SparkSession.builder().master("local[2]").getOrCreate()
    functionNames.foreach(n => assert(!plain.catalog.functionExists(n), n))
    val spark = Graft.session("local[2]", 2, "graft-session-reused")
    assert(spark eq plain)
    assertReady(spark)
  }
}

