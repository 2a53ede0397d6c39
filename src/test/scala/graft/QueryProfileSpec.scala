package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.PlanBridge
import org.scalatest.funsuite.AnyFunSuite

/** [[QueryProfile]] on the shared test session at sf0.001. A profile must
  * never stop the session it explains, so this suite never stops it either:
  * the next suite's `Graft.session` picks it up.
  */
class QueryProfileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-profile")

  private val sf = "/root/testdata/sf0.001"

  private def profile(query: String): QueryProfile = {
    val p = QueryProfile(spark, query, sf)
    Bench.sweep(spark)
    assert(!spark.sparkContext.isStopped, s"profiling $query stopped the session")
    p
  }

  test("q1_pricing_summary profile counts its jobs, shuffles and planning") {
    val p = profile("q1_pricing_summary")
    assert(p.jobs >= 1 && p.stages >= 1 && p.tasks >= 1, p.json())
    assert(p.shuffleWriteBytes > 0 && p.shuffles >= 1, p.json())
    assert(p.planningMs > 0 && p.executionMs > 0, p.json())
  }

  test("back-to-back warm profiles count the same jobs, stages and tasks") {
    profile("q1_pricing_summary")
    val Seq(a, b) = Seq.fill(2)(profile("q1_pricing_summary"))
    assert((a.jobs, a.stages, a.tasks) == (b.jobs, b.stages, b.tasks),
      s"${a.json()} vs ${b.json()}")
  }

  test("sim_topk_ivfpq profile includes the jobs its Future submits") {
    // start every thread of the global pool now, outside any job group, so
    // the Future's jobs come from a thread without the caller's local
    // properties: a job-group profiler would miss them
    val n = Runtime.getRuntime.availableProcessors()
    val started = new CountDownLatch(n)
    Await.result(Future.traverse(1 to n)(_ => Future {
      started.countDown()
      started.await(30, TimeUnit.SECONDS)
    }), Duration(60, TimeUnit.SECONDS))
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    PlanBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(counter)
    val p = try {
      val p = QueryProfile(spark, "sim_topk_ivfpq", sf)
      PlanBridge.drainListenerBus(spark)
      p
    } finally spark.sparkContext.removeSparkListener(counter)
    Bench.sweep(spark)
    assert(p.jobs > 0 && p.jobs == jobs.get, s"session saw ${jobs.get} jobs: ${p.json()}")
  }
}
