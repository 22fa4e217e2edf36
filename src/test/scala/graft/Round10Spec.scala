package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverCutoff, Graph}
import graft.sources.Tables

/** Round-10 additions: the KEY-LEVEL SCC/SSSP family over the
  * thresholded repeat-business trade graph — hand-built-graph
  * semantics, and the size-adaptive contract (driver Tarjan/Dijkstra
  * under the arc cutoff ≡ the distributed FW-BW-trim/Bellman–Ford
  * loops above it, byte-equal). */
class Round10Spec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** A hand-built trade corpus whose repeat-business graph is known:
    * arcs need ≥2 lineitems (fwd c→s) / ≥2 returns (back s→c).
    * Node ids: cust c → 2c, supp s → 2s+1.
    *   (c1,s1) 2×R   → 2↔3            SCC {2,3}
    *   (c1,s2) 2×N   → 2→5
    *   (c2,s2) 2×R   → 4↔5            SCC {4,5}
    *   (c3,s3) 2×N   → 6→7
    *   (c4,s3) 2×R   → 8↔7
    *   (c4,s4) 2×N   → 8→9
    *   (c3,s4) 2×R   → 6↔9            4-cycle ⇒ SCC {6,7,8,9}
    *   (c5,s5) 2×N   → 10→11
    *   (c6,s5) 2×N   → 12→11          acyclic periphery
    *   (c1,s5) 1×N   → below threshold, no arc
    */
  private def fixture: (DataFrame, DataFrame) = {
    val pairs = Seq( // (cust, supp, nLines, nReturned)
      (1L, 1L, 2, 2), (1L, 2L, 2, 0), (2L, 2L, 2, 2),
      (3L, 3L, 2, 0), (4L, 3L, 2, 2), (4L, 4L, 2, 0),
      (3L, 4L, 2, 2), (5L, 5L, 2, 0), (6L, 5L, 2, 0),
      (1L, 5L, 1, 0))
    val orders = pairs.map(_._1).distinct
      .map(c => (c * 1000L, c)).toDF("o_orderkey", "o_custkey")
    val lineitem = pairs.flatMap { case (c, s, n, nr) =>
      (0 until n).map(i =>
        (c * 1000L, s, if (i < nr) "R" else "N"))
    }.toDF("l_orderkey", "l_suppkey", "l_returnflag")
    (lineitem, orders)
  }

  test("sccKeysTrade resolves a hand-built graph: 2-cycles, a " +
      "4-cycle through return arcs, acyclic periphery, thresholds") {
    val (li, ord) = fixture
    val expected = Map(
      2L -> ((2L, 2L)), 3L -> ((2L, 2L)),
      4L -> ((4L, 2L)), 5L -> ((4L, 2L)),
      6L -> ((6L, 4L)), 7L -> ((6L, 4L)),
      8L -> ((6L, 4L)), 9L -> ((6L, 4L)),
      10L -> ((10L, 1L)), 11L -> ((11L, 1L)), 12L -> ((12L, 1L)))
    // driver Tarjan / FW-BW-trim
    for (budget <- Seq(DriverCutoff.budgetBytes, 0L)) {
      val got = DriverCutoff.withBudget(budget)(
          Graph.sccKeysTrade(li, ord))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got === expected, s"budget $budget")
    }
  }

  test("ssspKeysTrade on the hand-built graph: friction distances " +
      "from the first nation's edge-bearing customers, both paths") {
    val (li, ord) = fixture
    val customer = Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 0L), (6L, 1L)).toDF("c_custkey", "c_nationkey")
    val nation = Seq((0L, "AAA"), (1L, "BBB"))
      .toDF("n_nationkey", "n_name")
    // seeds: custs 1 and 5 (nation AAA) → nodes 2, 10; cost 10⁶/2
    val expected = Map(
      2L -> (("cust", 0L)), 3L -> (("supp", 500000L)),
      5L -> (("supp", 500000L)), 4L -> (("cust", 1000000L)),
      10L -> (("cust", 0L)), 11L -> (("supp", 500000L)))
    for (budget <- Seq(DriverCutoff.budgetBytes, 0L)) {
      val got = DriverCutoff.withBudget(budget)(
          Graph.ssspKeysTrade(li, ord, customer, nation))
        .collect()
        .map(r => r.getLong(1) -> ((r.getString(0), r.getLong(2))))
        .toMap
      assert(got === expected, s"budget $budget")
    }
  }

  test("normHistogram: integral buckets partition the corpus; " +
      "zero-width and spread edges both hold") {
    val e = Tables.embeddings(spark, sf)
    val got = graft.operators.Similarity.normHistogram(e).collect()
    assert(got.map(_.getLong(1)).sum === e.count(),
      "bucket counts must partition the corpus")
    assert(got.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 19))
    // a constant-norm frame collapses to bucket 0 (zero-width guard)
    import spark.implicits._
    val const = Seq(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
      .toDF("embedding")
    val c = graft.operators.Similarity.normHistogram(const).collect()
    assert(c.length === 1 && c.head.getLong(0) === 0L &&
      c.head.getLong(1) === 2L)
  }

  test("size-adaptive paths are byte-equal on real data (sf0.001): " +
      "driver Tarjan/Dijkstra == distributed FW-BW-trim/Bellman-Ford") {
    val li = Tables.lineitem(spark, sf)
    val ord = Tables.orders(spark, sf)
    val cust = Tables.customer(spark, sf)
    val nat = Tables.nation(spark, sf)
    def sortedRows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val sccDriver = Graph.sccKeysTrade(li, ord)
    val sccDist = DriverCutoff.withBudget(0L)(Graph.sccKeysTrade(li, ord))
    assert(sortedRows(sccDriver) === sortedRows(sccDist))
    assert(sccDriver.count() > 0, "sf0.001 must yield an edged graph")
    val ssspDriver = Graph.ssspKeysTrade(li, ord, cust, nat)
    val ssspDist = DriverCutoff.withBudget(0L)(
      Graph.ssspKeysTrade(li, ord, cust, nat))
    assert(sortedRows(ssspDriver) === sortedRows(ssspDist))
  }
}
