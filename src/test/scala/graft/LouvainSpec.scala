package graft

import graft.algos.Louvain
import graft.core.{GraphOps, LinkGraph}
import org.scalatest.funsuite.AnyFunSuite

/** Louvain goldens ported from the reference
  * (`tests/test_decomposition.py:286-328`, the Blondel et al. paper graph).
  */
class LouvainSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def blondel: LinkGraph = LinkGraph(spark, 16, Seq(
    (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L), (1L, 2L), (1L, 4L), (1L, 7L),
    (2L, 4L), (2L, 5L), (2L, 6L), (3L, 7L), (4L, 10L), (5L, 7L), (5L, 11L),
    (6L, 7L), (6L, 11L), (8L, 9L), (8L, 10L), (8L, 11L), (8L, 14L), (8L, 15L),
    (9L, 12L), (9L, 14L), (10L, 11L), (10L, 12L), (10L, 13L), (10L, 14L),
    (11L, 13L)), directed = false)

  test("multilevel on the Blondel paper graph: two levels, memberships + Q (test_decomposition.py:286-328)") {
    val levels = Louvain.run(blondel)
    assert(levels.size == 2, s"expected 2 levels, got ${levels.size} with q=${levels.map(_.q)}")
    val m0 = TestSession.reindex(TestSession.longVector(levels(0).membership, "label").toSeq)
    val m1 = TestSession.reindex(TestSession.longVector(levels(1).membership, "label").toSeq)
    assert(m0 == TestSession.reindex(Seq(1, 1, 1, 0, 1, 1, 0, 0, 2, 2, 2, 3, 2, 3, 2, 2)), s"level0 $m0")
    assert(m1 == TestSession.reindex(Seq(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1)), s"level1 $m1")
    assert(math.abs(levels(0).q - 0.346301) < 1e-5)
    assert(math.abs(levels(1).q - 0.392219) < 1e-5)
  }

  test("distributed parity sweeps reach a high-modularity partition (scale path)") {
    // the scale path won't reproduce the reference's sequential scan order,
    // but it must land in the same quality regime (golden final Q = 0.3922)
    val m = Louvain.localMove(blondel, sweepCap = 40)
    val q = graft.algos.Modularity.modularity(blondel, m)
    assert(q > 0.34, s"distributed local move Q=$q")
  }

  test("fixed-sweep mode: distributed sweep == gated driver kernel, label for label") {
    // smallThreshold = 0 pins the DISTRIBUTED sweep; integer weights make
    // every aggregate exact, so labels must agree bit-for-bit
    for ((n, m, seed) <- Seq((40, 90, 3L), (60, 150, 9L))) {
      val g = graft.core.Generators.erdosRenyiGnm(spark, n.toLong, m.toLong, seed = seed)
      for (sweeps <- Seq(2, 4)) {
        val gated = Louvain.localMove(g, fixedSweeps = Some(sweeps)).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val dist = Louvain.localMove(g, fixedSweeps = Some(sweeps), smallThreshold = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gated == dist, s"n=$n sweeps=$sweeps: kernel and distributed sweep disagree")
      }
    }
  }

  test("two cliques joined by an edge: one level, clean split, q improves on singletons") {
    val two = GraphOps.disjointUnion(LinkGraph.full(spark, 5), LinkGraph.full(spark, 5))
    val g = LinkGraph(two.weighted.union(Seq((0L, 5L, 1.0)).toDF("src", "dst", "weight")),
      directed = false, Some(10L))
    val fin = TestSession.reindex(TestSession.longVector(
      Louvain.communityMultilevel(g), "label").toSeq)
    assert(fin == Seq(0, 0, 0, 0, 0, 1, 1, 1, 1, 1), s"got $fin")
  }

  test("fixed-sweep driver kernel: an out-of-range endpoint fails naming the id and n") {
    // n = 3, but one edge ends at 5: the kernel must not fold it into slot 0
    val g = LinkGraph(spark.createDataFrame(Seq((0L, 1L), (1L, 5L))).toDF("src", "dst"),
      directed = false, Some(3L))
    val e = intercept[IllegalArgumentException](Louvain.localMove(g, fixedSweeps = Some(2)))
    assert(e.getMessage.contains("endpoint 5") && e.getMessage.contains("n = 3"), e.getMessage)
  }
}
