package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Graph tier (gr1/gr2): fixed-point PageRank against a driver-side replay
  * of the same integer recurrence, triangle counting against hand-counted
  * plants and the naive u<v<w formulation.
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Driver-side replay of the exact recurrence on an adjacency list. */
  private def referencePagerank(adj: Map[Long, Seq[Long]],
                                iters: Int): Map[Long, Long] = {
    var r = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      adj.foreach { case (u, outs) =>
        val c = r(u) / outs.size
        outs.foreach(v => in(v) += c)
      }
      r = r.keys.map(n => n -> (150000L + 85L * in(n) / 100L)).toMap
    }
    r
  }

  test("gr1 core: distributed ranks equal the driver-side integer replay") {
    // asymmetric directed graph (every node has outdeg >= 1): a 4-cycle
    // with two chords, so ranks differ across nodes
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(4L, 1L),
      4L -> Seq(1L))
    val edges = adj.toSeq.flatMap { case (u, vs) => vs.map(u -> _) }
      .toDF("src", "dst")
    // both out-degree shapes: the window (default) and the aggregate +
    // join that ScaleBench's graph mode runs at scale
    for (degByWindow <- Seq(true, false)) {
      val got = Graph.pagerankFixedPoint(edges, iters = 4, degByWindow = degByWindow)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == referencePagerank(adj, 4), s"degByWindow = $degByWindow")
    }
  }

  test("gr1: ranks respect the base floor and symmetric nodes tie") {
    val ranks = SparkEntry.queries("gr1_pagerank")(spark, sf)
    val vals = ranks.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(vals.nonEmpty && vals.forall(_._2 >= 150000L))
    // bipartite parity: odd ids are suppliers, even are parts — both
    // classes must be present and ranked
    assert(vals.exists(_._1 % 2 == 0) && vals.exists(_._1 % 2 == 1))
  }

  test("gr2 core: planted K4 + pendant path counts exactly 4 triangles") {
    // K4 on {1,2,3,4} has C(4,3)=4 triangles; the path 5-6-7 adds none
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (6L, 7L)).toDF("u", "v")
    assert(Graph.triangleCount(edges).collect().head.getLong(0) == 4L)
  }

  test("gr2 core: node ids beyond 2^21 count exactly (struct order, no packing overflow)") {
    // The r9 packed-long order (d * 2^21 + n) silently corrupted the
    // orientation for ids >= 2^21 — the id bled into the degree field and
    // wedges were dropped. Plant K4 at huge ids (> 2^21, > 2^31) plus a
    // hub over them to make degrees unequal, and pin the exact count.
    val base = 5_000_000_000L // > 2^32
    val k4 = Seq((base + 1, base + 2), (base + 1, base + 3), (base + 1, base + 4),
      (base + 2, base + 3), (base + 2, base + 4), (base + 3, base + 4))
    // hub 3_000_000L (< K4 ids, higher degree) wired to all K4 nodes:
    // adds C(4,2)=6 more triangles through the 6 K4 edges
    val hub = (1 to 4).map(i => (3_000_000L, base + i))
    val edges = (k4 ++ hub).toDF("u", "v")
    assert(Graph.triangleCount(edges).collect().head.getLong(0) == 10L)
    assert(Graph.triangleCount(edges, byDegree = false)
      .collect().head.getLong(0) == 10L)
  }

  test("gr2 core: triangle-free bipartite plant counts zero") {
    val edges = Seq((1L, 10L), (1L, 12L), (3L, 10L), (3L, 12L))
      .toDF("u", "v")
    assert(Graph.triangleCount(edges).collect().head.getLong(0) == 0L)
  }

  test("gr2: degree-ordered count equals the naive u<v<w join on real data") {
    val os = Tables.t(spark, sf, "lineitem")
      .select($"l_orderkey".as("o"), $"l_suppkey".as("sk")).distinct()
    val edges = os.join(os.select($"o", $"sk".as("sk2")), "o")
      .filter($"sk" < $"sk2")
      .select($"sk".as("u"), $"sk2".as("v")).distinct().localCheckpoint()
    val oriented = Graph.triangleCount(edges).collect().head.getLong(0)
    val naive = edges.as("e1")
      .join(edges.as("e2"), col("e1.v") === col("e2.u"))
      .join(edges.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"), "left_semi")
      .count()
    assert(oriented == naive && oriented > 0L,
      s"degree-ordered $oriented vs naive $naive")
  }

  test("gr1 plan: each iteration aggregates partially before the exchange") {
    val plan = SparkEntry.queries("gr1_pagerank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      s"rank summation lost its map-side combine:\n$plan")
  }
}
