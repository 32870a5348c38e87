package graft

import graft.algos.{KCore, LabelProp, Modularity}
import graft.core.{GraphOps, LinkGraph}
import org.scalatest.funsuite.AnyFunSuite

/** LPA / k-core / modularity / comparison goldens from
  * /root/reference/tests/test_decomposition.py and test_structural.py:100-111.
  */
class CommunitySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  def lpaChain = LinkGraph.weighted(spark, 4,
    Seq((0L, 1L, 2.0), (1L, 2L, 1.0), (2L, 3L, 2.0)), directed = false)

  test("LPA weighted chain with initial+fixed -> [0,0,1,1] (test_decomposition.py:274-279)") {
    val initial = Seq((0L, 0L), (1L, -1L), (2L, -1L), (3L, 1L)).toDF("id", "label")
    val fixed = Seq(0L, 3L).toDF("id")
    val m = TestSession.longVector(
      LabelProp.run(lpaChain, Some(initial), Some(fixed)), "label").toSeq
    assert(TestSession.reindex(m) == Seq(0, 0, 1, 1))
  }

  test("LPA unweighted chain lands in the reference's accepted set (test_decomposition.py:280-284)") {
    val unweighted = LinkGraph(spark, 4, Seq((0L, 1L), (1L, 2L), (2L, 3L)), directed = false)
    val initial = Seq((0L, 0L), (1L, -1L), (2L, -1L), (3L, 1L)).toDF("id", "label")
    val fixed = Seq(0L, 3L).toDF("id")
    val m = TestSession.reindex(TestSession.longVector(
      LabelProp.run(unweighted, Some(initial), Some(fixed)), "label").toSeq)
    val accepted = Set(Seq(0, 0, 1, 1), Seq(0, 1, 1, 1), Seq(0, 0, 0, 1))
    assert(accepted.contains(m), s"got $m")
  }

  test("LPA separates two cliques joined by one edge") {
    val two = GraphOps.disjointUnion(LinkGraph.full(spark, 5), LinkGraph.full(spark, 5))
    val g = LinkGraph(two.weighted.union(Seq((0L, 5L, 1.0)).toDF("src", "dst", "weight")),
      directed = false, Some(10L))
    val m = TestSession.reindex(TestSession.longVector(LabelProp.run(g), "label").toSeq)
    assert(m == Seq(0, 0, 0, 0, 0, 1, 1, 1, 1, 1), s"got $m")
  }

  test("LPA fixed-iter min-tie mode: gated driver kernel == distributed, label for label") {
    // integer-weight multigraph with self-loops, parallel edges, an isolated
    // vertex (via explicit n) and a directed input (bidirected view) —
    // smallThreshold = 0 pins the distributed sweep as the reference for
    // the r6 gated kernel
    val g1 = LinkGraph(spark, 9,
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L), (2L, 3L),
        (6L, 6L), (0L, 1L), (7L, 0L)), directed = true)
    val g2 = LinkGraph.weighted(spark, 6,
      Seq((0L, 1L, 2.0), (1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 4L, 1.0), (4L, 5L, 3.0)),
      directed = false)
    for (g <- Seq(g1, g2); iters <- Seq(1, 5)) {
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kern = m(LabelProp.run(g, fixedIters = Some(iters), minTieBreak = true))
      val dist = m(LabelProp.run(g, fixedIters = Some(iters), minTieBreak = true,
        smallThreshold = 0L))
      assert(kern == dist, s"iters=$iters")
    }
  }

  test("LPA deterministic across partition counts (design contract §2.12)") {
    val g = LinkGraph(spark, 30, (0 until 60).map { k =>
      val a = (k * 7919 + 13) % 30; val b = (k * 104729 + 7) % 30
      (a.toLong, b.toLong)
    }.filter(e => e._1 != e._2), directed = false)
    val m1 = TestSession.longVector(LabelProp.run(g, seed = 7L), "label").toSeq
    val g16 = LinkGraph(g.edges.repartition(16), directed = false, Some(30L))
    val m2 = TestSession.longVector(LabelProp.run(g16, seed = 7L), "label").toSeq
    assert(m1 == m2)
  }

  test("coreness golden [3,3,3,3,1,1,1,2,1,2,2]; k_core(3)=K4 (test_decomposition.py:47-73)") {
    val g = LinkGraph(spark, 11, Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (2L, 5L),
      (3L, 6L), (3L, 7L), (1L, 7L), (7L, 8L), (1L, 9L), (1L, 10L), (9L, 10L)), directed = false)
    val c = TestSession.longVector(KCore.coreness(g), "coreness").toSeq
    assert(c == Seq(3L, 3L, 3L, 3L, 1L, 1L, 1L, 2L, 1L, 2L, 2L))
    val k3 = KCore.kCore(g, 3).edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
      .sorted.toSeq
    assert(k3 == Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("coreness golden [3,3,3,3,1,1,1,1] (test_structural.py:435-437)") {
    val g = LinkGraph(spark, 8,
      Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
        (0L, 4L), (1L, 5L), (2L, 6L), (3L, 7L)), directed = false)
    assert(TestSession.longVector(KCore.coreness(g), "coreness").toSeq ==
      Seq(3L, 3L, 3L, 3L, 1L, 1L, 1L, 1L))
  }

  test("modularity goldens 0.4523 / 0.4157 (test_structural.py:100-111)") {
    val two = GraphOps.disjointUnion(LinkGraph.full(spark, 5), LinkGraph.full(spark, 5))
    val g = LinkGraph(two.weighted.union(Seq((0L, 5L, 1.0)).toDF("src", "dst", "weight")),
      directed = false, Some(10L))
    val membership = spark.range(10).selectExpr("id", "cast(id >= 5 as long) as label")
    assert(math.abs(Modularity.modularity(g, membership) - 0.4523) < 5e-4)
    // uniform weights 2 leave Q unchanged
    val g2 = LinkGraph(g.weighted.selectExpr("src", "dst", "weight * 2 as weight"), false, Some(10L))
    assert(math.abs(Modularity.modularity(g2, membership) - 0.4523) < 5e-4)
    // clique-0 edges weight 2, rest weight 1 -> 0.4157. Edge order: disjoint
    // union keeps clique-0 edges first, bridge last (matches the reference's
    // ws = [2]*10 + [1]*11 assignment).
    val gw = LinkGraph(g.weighted.selectExpr("src", "dst",
      "case when src < 5 and dst < 5 then 2.0 else 1.0 end as weight"), false, Some(10L))
    assert(math.abs(Modularity.modularity(gw, membership) - 0.4157) < 5e-4)
  }

  test("compare_communities goldens (test_decomposition.py:557-604)") {
    def mdf(m: Seq[Int]) = m.zipWithIndex.map { case (l, i) => (i.toLong, l.toLong) }.toDF("id", "label")
    val c1 = Modularity.compareCommunities(mdf(Seq(0, 0, 0, 1, 1, 1)), mdf(Seq(1, 1, 1, 0, 0, 0)))
    assert(math.abs(c1.vi) < 1e-9 && math.abs(c1.nmi - 1.0) < 1e-9 && math.abs(c1.rand - 1.0) < 1e-9)
    val c2 = Modularity.compareCommunities(mdf(Seq(0, 0, 0, 1, 1, 1)), mdf(Seq(0, 0, 1, 1, 2, 2)))
    assert(math.abs(c2.vi - 0.8675) < 1e-3)
    assert(math.abs(c2.nmi - 0.5158) < 1e-3)
    assert(math.abs(c2.rand - 2.0 / 3) < 1e-3)
    assert(math.abs(c2.adjustedRand - 0.242424) < 1e-3)
    assert(c2.splitJoin == 3)
    val c3 = Modularity.compareCommunities(mdf(Seq(0, 0, 0, 0, 0, 0)), mdf(Seq(0, 1, 2, 3, 4, 5)))
    assert(math.abs(c3.vi - math.log(6)) < 1e-9 && math.abs(c3.nmi) < 1e-9 && c3.splitJoin == 5)
    val l1 = Seq(1, 1, 1, 1, 2, 2, 2, 3, 3, 3, 3, 3)
    val l2 = Seq(3, 1, 2, 1, 3, 1, 3, 1, 2, 1, 4, 2)
    val c4 = Modularity.compareCommunities(mdf(l1), mdf(l2))
    assert(c4.splitJoin == 11)
    assert(math.abs(c4.rand - 0.590909) < 1e-3)
    assert(math.abs(c4.adjustedRand - (-0.04700353)) < 1e-3)
  }

  test("h-index coreness matches the sequential peel on a random graph") {
    val g = graft.core.Generators.erdosRenyiGnm(spark, 300, 900, seed = 7L)
    // smallThreshold = 0 pins the DISTRIBUTED frontier h-index loop (the
    // default would take the gated Batagelj-Zaveršnik collect path on a
    // fixture this size, leaving the loop untested)
    val got = KCore.coreness(g, smallThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gated = KCore.coreness(g).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == gated, "distributed frontier loop and gated peel disagree")
    // brute-force peel on the collected simple graph
    val edges = g.edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(e => e._1 != e._2).distinct
    val ids = g.vertices.collect().map(_.getLong(0))
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    ids.foreach(i => adj(i) = scala.collection.mutable.Set.empty)
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    val alive = scala.collection.mutable.Set(ids: _*)
    var k = 0L
    while (alive.nonEmpty) {
      var changed = true
      while (changed) {
        val doomed = alive.filter(v => adj(v).count(alive) < k + 1)
        changed = doomed.nonEmpty
        doomed.foreach { v => core(v) = k; alive -= v }
      }
      k += 1
    }
    ids.foreach(i => assert(got(i) == core(i), s"vertex $i: got ${got(i)}, want ${core(i)}"))
  }

  test("LPA fixed-iter driver kernel: an out-of-range endpoint fails naming the id and n") {
    // n = 3, but one edge ends at 5: the kernel must not fold it into slot 0
    val g = LinkGraph(spark.createDataFrame(Seq((0L, 1L), (1L, 5L))).toDF("src", "dst"),
      directed = false, Some(3L))
    val e = intercept[IllegalArgumentException](
      LabelProp.run(g, fixedIters = Some(2), minTieBreak = true))
    assert(e.getMessage.contains("endpoint 5") && e.getMessage.contains("n = 3"), e.getMessage)
  }
}
