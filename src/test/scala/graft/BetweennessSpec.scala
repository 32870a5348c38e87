package graft

import graft.algos.Betweenness
import graft.core.{LinkGraph, Mode}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

/** Brandes betweenness / edge betweenness / closeness goldens ported from
  * the reference (`tests/test_structural.py:236-290`).
  */
class BetweennessSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def vb(g: LinkGraph, cutoff: Option[Double] = None): Map[Long, Double] =
    Betweenness.vertexBetweenness(g, cutoff = cutoff).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def eb(g: LinkGraph, cutoff: Option[Double] = None,
                 weighted: Boolean = false): Map[(Long, Long), Double] =
    Betweenness.edgeBetweenness(g, weighted = weighted, cutoff = cutoff).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def assertVals(got: Map[Long, Double], want: Seq[Double]): Unit =
    want.zipWithIndex.foreach { case (w, i) =>
      assert(math.abs(got(i.toLong) - w) < 1e-9, s"vertex $i: got ${got(i.toLong)}, want $w")
    }

  test("betweenness goldens incl. cutoff (test_structural.py:237-247)") {
    assertVals(vb(LinkGraph.star(spark, 5)), Seq(6.0, 0.0, 0.0, 0.0, 0.0))
    val g = LinkGraph(spark, 5, Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L)), directed = false)
    assertVals(vb(g), Seq(5.0, 3.0, 0.0, 0.0, 0.0))
    assertVals(vb(g, cutoff = Some(2.0)), Seq(3.0, 1.0, 0.0, 0.0, 0.0))
    assertVals(vb(g, cutoff = Some(1.0)), Seq(0.0, 0.0, 0.0, 0.0, 0.0))
    val lat = LinkGraph.lattice(spark, Seq(3, 3))
    assertVals(vb(lat, cutoff = Some(2.0)), Seq(0.5, 2.0, 0.5, 2.0, 4.0, 2.0, 0.5, 2.0, 0.5))
  }

  test("edge betweenness goldens incl. cutoff + weighted (test_structural.py:249-260)") {
    val star = LinkGraph.star(spark, 5)
    assert(eb(star) == Map((0L, 1L) -> 4.0, (0L, 2L) -> 4.0, (0L, 3L) -> 4.0, (0L, 4L) -> 4.0))
    val g = LinkGraph(spark, 5, Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L)), directed = false)
    assert(eb(g) == Map((0L, 1L) -> 6.0, (0L, 2L) -> 4.0, (0L, 3L) -> 4.0, (1L, 4L) -> 4.0))
    assert(eb(g, cutoff = Some(2.0)) ==
      Map((0L, 1L) -> 4.0, (0L, 2L) -> 3.0, (0L, 3L) -> 3.0, (1L, 4L) -> 2.0))
    assert(eb(g, cutoff = Some(1.0)) ==
      Map((0L, 1L) -> 1.0, (0L, 2L) -> 1.0, (0L, 3L) -> 1.0, (1L, 4L) -> 1.0))
    val ring = LinkGraph.ring(spark, 5)
    assert(eb(ring) == Map((0L, 1L) -> 3.0, (1L, 2L) -> 3.0, (2L, 3L) -> 3.0,
      (3L, 4L) -> 3.0, (0L, 4L) -> 3.0))
    // weighted: ring edges (0,1),(1,2),(2,3),(3,4),(4,0) weights [4,1,1,1,1]
    val wring = LinkGraph.weighted(spark, 5,
      Seq((0L, 1L, 4.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 0L, 1.0)),
      directed = false)
    assert(eb(wring, weighted = true) == Map((0L, 1L) -> 0.5, (1L, 2L) -> 3.5,
      (2L, 3L) -> 5.5, (3L, 4L) -> 5.5, (0L, 4L) -> 3.5))
  }

  test("closeness goldens incl. cutoff (test_structural.py:262-290)") {
    val star = LinkGraph.star(spark, 5)
    val cl = Betweenness.closeness(star).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(cl(0L) - 1.0) < 1e-3)
    (1L to 4L).foreach(i => assert(math.abs(cl(i) - 4.0 / 7.0) < 1e-3))
    val clCut = Betweenness.closeness(star, cutoff = Some(1.0)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0L to 4L).foreach(i => assert(math.abs(clCut(i) - 1.0) < 1e-3))
    // weighted with unit weights reproduces the unweighted values
    val clW = Betweenness.closeness(star, weighted = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(clW(0L) - 1.0) < 1e-3 && math.abs(clW(1L) - 0.57142) < 1e-3)
  }

  test("directed betweenness: ordered pairs, no halving (path digraph)") {
    // 0 -> 1 -> 2: only ordered pair (0,2) passes through 1
    val g = LinkGraph(spark, 3, Seq((0L, 1L), (1L, 2L)), directed = true)
    assertVals(vb(g), Seq(0.0, 1.0, 0.0))
    val e = eb(g)
    assert(e == Map((0L, 1L) -> 2.0, (1L, 2L) -> 2.0))
    val clOut = Betweenness.closeness(g, mode = Mode.Out).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(clOut(0L) - 2.0 / 3.0) < 1e-9) // reaches 2 at dists 1,2
    assert(clOut(2L).isNaN) // reaches nothing
  }

  test("harmonic centrality goldens incl. cutoff + weighted (test_structural.py:358-387)") {
    val star5 = LinkGraph.star(spark, 5)
    def hc(weighted: Boolean = false, cutoff: Option[Double] = None): Map[Long, Double] =
      Betweenness.harmonicCentrality(star5, weighted = weighted, cutoff = cutoff)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = hc()
    assert(math.abs(plain(0L) - 1.0) < 1e-3)
    (1L to 4L).foreach(v => assert(math.abs(plain(v) - 0.625) < 1e-3, s"v=$v ${plain(v)}"))
    val cut = hc(cutoff = Some(1.0))
    assert(math.abs(cut(0L) - 1.0) < 1e-3)
    (1L to 4L).foreach(v => assert(math.abs(cut(v) - 0.25) < 1e-3))
    // unit weights through the weighted (Dijkstra) path give the same values
    val w = hc(weighted = true)
    assert(math.abs(w(0L) - 1.0) < 1e-3 && math.abs(w(1L) - 0.625) < 1e-3)
    val wc = hc(weighted = true, cutoff = Some(1.0))
    assert(math.abs(wc(1L) - 0.25) < 1e-3)
  }

  test("weighted Brandes sweeps are bounded by per-origin levels, not global distinct distances") {
    // random-ish distinct weights: every pair distance is unique globally,
    // so the round-2 global-distinct-level sweep would need ~n^2 levels;
    // per-origin dense_rank bounds it by <= n
    val n = 12
    val edges = (0 until n).flatMap { i =>
      Seq(((i % n).toLong, ((i + 1) % n).toLong, 1.0 + 0.001 * i),
          ((i % n).toLong, ((i + 3) % n).toLong, 2.0 + 0.013 * i))
    }
    val g = LinkGraph.weighted(spark, n.toLong, edges.distinct, directed = false)
    val bw = Betweenness.vertexBetweenness(g, weighted = true).collect()
    assert(bw.length == n)
    assert(Betweenness.lastLevelCount <= n,
      s"level count ${Betweenness.lastLevelCount} must be <= n=$n")
    // cross-check against the unweighted path when weights are uniform
    val gu = LinkGraph(spark, 5, Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)), directed = false)
    val wu = LinkGraph.weighted(spark, 5,
      Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0)), directed = false)
    assert(vb(gu) == Betweenness.vertexBetweenness(wu, weighted = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap)
  }

  test("distributed Brandes level sweep == gated driver kernel (vertex + edge)") {
    // smallThreshold = 0 pins the DISTRIBUTED path; 1e-9 tolerance covers
    // FP summation-order differences between the two sweeps
    for ((seed, directed) <- Seq((3, false), (5, true))) {
      val g = graft.core.Generators.erdosRenyiGnm(spark, 30, 60,
        directed = directed, seed = seed.toLong)
      val vGate = Betweenness.vertexBetweenness(g).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val vDist = Betweenness.vertexBetweenness(g, smallThreshold = 0L).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(vGate.keySet == vDist.keySet)
      vGate.foreach { case (k, x) =>
        assert(math.abs(x - vDist(k)) < 1e-9, s"vertex $k seed $seed: $x vs ${vDist(k)}") }
      val eGate = Betweenness.edgeBetweenness(g).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val eDist = Betweenness.edgeBetweenness(g, smallThreshold = 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(eGate.keySet == eDist.keySet)
      eGate.foreach { case (k, x) =>
        assert(math.abs(x - eDist(k)) < 1e-9, s"edge $k seed $seed: $x vs ${eDist(k)}") }
    }
  }

  test("closeness/harmonic: the driver fold == the distributed distance table") {
    // smallThreshold = 0 pins the DISTRIBUTED table + aggregate; 1e-9
    // covers the different summation order of the weighted sums
    val spark2 = spark
    import spark2.implicits._
    def withWeights(g: LinkGraph): LinkGraph = LinkGraph(g.edges.select(col("src"), col("dst"),
      (lit(0.5) + pmod(col("src") * 31 + col("dst") * 17, lit(7L)) * 0.25).as("weight")),
      g.directed, g.numVertices)
    val gnmDir = graft.core.Generators.erdosRenyiGnm(spark, 20, 40, directed = true, seed = 3L)
    val gnmUnd = graft.core.Generators.erdosRenyiGnm(spark, 20, 30, directed = false, seed = 4L)
    // 4 has only a self-loop, 5 is isolated (declared n)
    val isoLoop = LinkGraph(Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (4L, 4L)).toDF("src", "dst"),
      directed = true, Some(6L))
    val sparse = LinkGraph(Seq((-7L, 1000000007L), (1000000007L, 42L), (42L, -7L), (42L, 1L << 40),
      (-3L, -3L)).toDF("src", "dst"), directed = false, None)
    val cases = for {
      (name, g, cutoffs) <- Seq(("gnm directed", gnmDir, Seq(None, Some(2.0))),
        ("gnm undirected", gnmUnd, Seq(None, Some(2.0))), ("isolated + loop", isoLoop, Seq(None)),
        ("sparse ids", sparse, Seq(None, Some(2.0))))
      mode <- if (g.directed) Seq(Mode.Out, Mode.In, Mode.All) else Seq(Mode.All)
      cutoff <- cutoffs
      weighted <- Seq(false, true)
    } yield (s"$name $mode cutoff=$cutoff weighted=$weighted", if (weighted) withWeights(g) else g,
      mode, cutoff, weighted)
    def values(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((what, g, mode, cutoff, weighted) <- cases) {
      val pairs = Seq(
        values(Betweenness.closeness(g, weighted, cutoff, mode)) ->
          values(Betweenness.closeness(g, weighted, cutoff, mode, smallThreshold = 0L)),
        values(Betweenness.harmonicCentrality(g, weighted, cutoff, mode)) ->
          values(Betweenness.harmonicCentrality(g, weighted, cutoff, mode, smallThreshold = 0L)))
      for ((fold, dist) <- pairs) {
        assert(fold.keySet == dist.keySet, what)
        fold.foreach { case (id, x) =>
          val y = dist(id)
          assert((x.isNaN && y.isNaN) || math.abs(x - y) < 1e-9, s"$what vertex $id: $x vs $y")
        }
      }
    }
  }

  test("closeness/harmonic under the gate: one Spark job per collect") {
    val literal = LinkGraph(spark, 10, Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (3L, 4L),
      (5L, 6L), (6L, 7L), (8L, 8L)), directed = false)
    val onePartition = LinkGraph(spark.range(0, 9, 1, 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst")), directed = true, Some(10L))
    for (g <- Seq(literal, onePartition); weighted <- Seq(false, true)) {
      val (_, cj) = JobCounter(spark)(Betweenness.closeness(g, weighted = weighted).collect())
      val (_, hj) = JobCounter(spark)(Betweenness.harmonicCentrality(g, weighted = weighted).collect())
      info(s"directed=${g.directed} weighted=$weighted: closeness ${cj.size} jobs, harmonic ${hj.size}")
      assert(cj.size <= 1 && hj.size <= 1)
    }
  }
}
