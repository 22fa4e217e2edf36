package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverCutoff, FrameCache, Graph, Similarity}

/** The single driver-twin route: the boundary sits exactly at the
  * budget, each decision costs one probe job, and a route forced by
  * the test hook never reuses a frame cached on the other route. */
class DriverCutoffSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def jobs(body: => Any): Int =
    JobCounter.jobs(spark.sparkContext)(body)

  /** K4 + pendant bipartite fixture: 12 distinct (cust, supp) pairs,
    * every line returned (so the repeat-business graph has cycles). */
  private def purchases: (DataFrame, DataFrame) = {
    val pairs = Seq(
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 10L), (3L, 11L), (4L, 10L), (4L, 11L),
      (1L, 12L), (1L, 13L), (5L, 12L), (5L, 13L))
    val ord = pairs.map(_._1).distinct
      .map(c => (c * 1000L, c)).toDF("o_orderkey", "o_custkey")
    val li = pairs.map { case (c, s) => (c * 1000L, s, "R") }
      .toDF("l_orderkey", "l_suppkey", "l_returnflag")
    (li, ord)
  }

  /** True when `df` is a driver twin's parallelized result. */
  private def drivenByTwin(df: DataFrame): Boolean =
    df.queryExecution.analyzed.toString.contains("ExternalRDD")

  test("the route flips exactly at the budget") {
    val rows = spark.range(100).toDF("a").localCheckpoint()
    DriverCutoff.withBudget(100L * 16) {
      assert(DriverCutoff.pairRows === 100L)
      assert(DriverCutoff.onDriver(rows, DriverCutoff.pairRows))
      assert(!DriverCutoff.onDriver(
        spark.range(101).toDF("a"), DriverCutoff.pairRows))
    }
    assert(DriverCutoff.budget === DriverCutoff.budgetBytes,
      "the test hook must not leak past its scope")
    // an operator over 12 pairs: 12 rows of budget take the driver
    // twin, one row less sends the same input distributed
    val (li, ord) = purchases
    FrameCache.invalidateAll(spark)
    val atBudget = DriverCutoff.withBudget(12L * 16)(
      Graph.kCoreTrade(li, ord, k = 2))
    val overBudget = DriverCutoff.withBudget(12L * 16 - 1)(
      Graph.kCoreTrade(li, ord, k = 2))
    assert(drivenByTwin(atBudget))
    assert(!drivenByTwin(overBudget))
    assert(atBudget.orderBy("round").collect().toSeq ===
      overBudget.orderBy("round").collect().toSeq)
    FrameCache.invalidateAll(spark)
  }

  test("each route decision runs exactly one probe job") {
    val rows = spark.range(50).toDF("a").localCheckpoint()
    assert(jobs(DriverCutoff.onDriver(rows, DriverCutoff.pairRows)) === 1)
    assert(jobs(DriverCutoff.withBudget(0L)(
      DriverCutoff.onDriver(rows, DriverCutoff.pairRows))) === 1)
    // driver routes: the probe plus the one collect, nothing else
    val (li, ord) = purchases
    FrameCache.invalidateAll(spark)
    Graph.kCoreTrade(li, ord) // builds the shared pair frame
    assert(jobs(Graph.kCoreTrade(li, ord)) === 2)
    val embs = Seq.tabulate(40)(i =>
      (i.toLong, Array(i.toFloat, 1f, (i % 7).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    assert(jobs(Similarity.cappedLloyd(embs, nlist = 4)) === 2,
      "one (rows, dim) probe, then the corpus collect")
    FrameCache.invalidateAll(spark)
  }

  test("a forced distributed call is not served the driver route's " +
      "cached frame") {
    val (li, ord) = purchases
    FrameCache.invalidateAll(spark)
    val viaDriver = Graph.sccKeysTrade(li, ord, minTrades = 1,
      minReturns = 1)
    assert(Graph.sccKeysTrade(li, ord, minTrades = 1,
      minReturns = 1) eq viaDriver, "same budget: a FrameCache hit")
    var forced: DataFrame = null
    assert(jobs {
      forced = DriverCutoff.withBudget(0L)(
        Graph.sccKeysTrade(li, ord, minTrades = 1, minReturns = 1))
    } > 0, "the distributed route must rebuild, not hit the cache")
    assert(forced ne viaDriver)
    assert(forced.orderBy("node").collect().toSeq ===
      viaDriver.orderBy("node").collect().toSeq)
    FrameCache.invalidateAll(spark)
  }

  test("the link-prediction fan-out probe is cached in FrameCache and " +
      "runs again after invalidateAll") {
    val pairs = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L))
      .toDF("cust", "supp")
    FrameCache.invalidateAll(spark)
    var fan = 0L
    val cold = jobs { fan = Graph.lpFanOut(pairs, cap = 64) }
    assert(fan === 3L) // C(3, 2) pairs under supplier 10
    assert(cold > 0)
    assert(jobs(Graph.lpFanOut(pairs, cap = 64)) === 0)
    FrameCache.invalidateAll(spark)
    assert(jobs(Graph.lpFanOut(pairs, cap = 64)) === cold)
    FrameCache.invalidateAll(spark)
  }
}
