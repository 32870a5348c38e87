package graft

import graft.algos.PageRank
import graft.core.{CheckpointStore, LinkGraph}
import org.apache.spark.sql.functions.{col, lit, sum, when}
import org.scalatest.funsuite.AnyFunSuite

/** Goldens from /root/reference/tests/test_structural.py:389-404. */
class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("Star(11): hub is max with score ~0.4668 (test_structural.py:389-393)") {
    val g = LinkGraph.star(spark, 11)
    val r = PageRank.run(g, damping = 0.85, tol = 1e-10, maxIter = 200)
    val v = TestSession.vector(r.ranks, "rank")
    assert(v.indexOf(v.max) == 0)
    assert(math.abs(v.max - 0.4668) < 5e-4, s"hub=${v.max}")
    assert(math.abs(v.sum - 1.0) < 1e-9)
  }

  test("personalized: Star(11) damping 0.5 reset v1 -> 0.3333/0.5166/0.0166 (test_structural.py:395-404)") {
    val g = LinkGraph.star(spark, 11)
    val reset = Seq((1L, 10.0)).toDF("id", "reset")
    val r = PageRank.run(g, damping = 0.5, tol = 1e-12, maxIter = 300, reset = Some(reset))
    val v = TestSession.vector(r.ranks, "rank")
    assert(v.indexOf(v.max) == 1)
    assert(math.abs(v(0) - 0.3333) < 5e-4)
    assert(math.abs(v(1) - 0.5166) < 5e-4)
    assert(math.abs(v(2) - 0.0166) < 5e-4)
  }

  test("all-zero reset is an error (test_structural.py:396)") {
    val g = LinkGraph.star(spark, 5)
    val reset = Seq((1L, 0.0)).toDF("id", "reset")
    assertThrows[IllegalArgumentException] {
      PageRank.run(g, reset = Some(reset))
    }
  }

  test("dangling mass: directed star points inward; scores sum to 1") {
    // leaves -> hub: hub is the only non-dangling-free vertex; all leaves dangle
    val g = LinkGraph(spark, 5, Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)), directed = true)
    val r = PageRank.run(g, tol = 1e-12, maxIter = 300)
    val v = TestSession.vector(r.ranks, "rank")
    assert(math.abs(v.sum - 1.0) < 1e-9)
    assert(v(0) > v(1))
    assert((1 to 4).forall(i => math.abs(v(i) - v(1)) < 1e-12)) // symmetric leaves
  }

  test("weighted: two-target split proportional to weights") {
    // 0 -> 1 (w 3), 0 -> 2 (w 1): v1 receives 3x v2's share from 0
    val g = LinkGraph.weighted(spark, 3,
      Seq((0L, 1L, 3.0), (0L, 2L, 1.0), (1L, 0L, 1.0), (2L, 0L, 1.0)), directed = true)
    val r = PageRank.run(g, tol = 1e-12, maxIter = 500)
    val v = TestSession.vector(r.ranks, "rank")
    val base = (1.0 - 0.85) / 3
    val from0to1 = v(1) - base - 0.0 // v1 only receives from 0
    val from0to2 = v(2) - base
    assert(math.abs(from0to1 / from0to2 - 3.0) < 1e-6)
  }

  test("fixed-iter mode: gated driver kernel == distributed loop at 1e-9") {
    // three regimes: undirected star (bidirected view), a directed graph
    // WITH dangling vertices, and a weighted multigraph with a self-loop —
    // smallThreshold = 0 pins the distributed superstep loop as the
    // reference for the r6 gated kernel (same posture as the Brandes /
    // fixed-sweep Louvain parity specs)
    val graphs = Seq(
      LinkGraph.star(spark, 11),
      LinkGraph(spark, 6, Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (4L, 0L)),
        directed = true), // 3 and 5 dangling, 5 isolated
      LinkGraph.weighted(spark, 5,
        Seq((0L, 1L, 2.0), (0L, 1L, 1.0), (1L, 2L, 5.0), (2L, 2L, 1.0), (3L, 0L, 0.5)),
        directed = true))
    for (g <- graphs; iters <- Seq(1, 7); pers <- Seq(false, true)) {
      // personalized mode too: reset mass on even ids (plus an id outside
      // the vertex set, which must count in the normalizer only)
      val reset =
        if (!pers) None
        else Some(g.vertices.select(col("id"),
          when(col("id") % 2 === 0, lit(2.0)).otherwise(lit(0.0)).as("reset"))
          .unionByName(Seq((999L, 1.0)).toDF("id", "reset")))
      val kern = PageRank.run(g, damping = 0.85, fixedIters = Some(iters),
          reset = reset)
        .ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val dist = PageRank.run(g, damping = 0.85, fixedIters = Some(iters),
          reset = reset, smallThreshold = 0L)
        .ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(kern.keySet == dist.keySet)
      val maxDiff = kern.map { case (k, v) => math.abs(v - dist(k)) }.max
      assert(maxDiff < 1e-9,
        s"kernel vs distributed drift $maxDiff (iters=$iters, pers=$pers)")
    }
  }

  test("invariance under vertex relabeling (property)") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 2L), (1L, 3L))
    val g1 = LinkGraph(spark, 5, edges, directed = true)
    val perm = Map(0L -> 3L, 1L -> 0L, 2L -> 4L, 3L -> 1L, 4L -> 2L)
    val g2 = LinkGraph(spark, 5, edges.map { case (s, d) => (perm(s), perm(d)) }, directed = true)
    val v1 = TestSession.vector(PageRank.run(g1, tol = 1e-12).ranks, "rank")
    val v2 = TestSession.vector(PageRank.run(g2, tol = 1e-12).ranks, "rank")
    perm.foreach { case (o, n) => assert(math.abs(v1(o.toInt) - v2(n.toInt)) < 1e-9) }
  }

  test("checkpoint + resume reproduces the uninterrupted run (north_rule resumability)") {
    val g = LinkGraph(spark, 6,
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (2L, 4L), (4L, 5L), (5L, 2L)), directed = true)
    val full = PageRank.run(g, tol = 1e-10, maxIter = 100)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val store1 = new graft.core.CheckpointStore(dir, "run1")
    // interrupted run: only 5 iterations, durably checkpointed
    PageRank.run(g, tol = 1e-10, maxIter = 100, fixedIters = Some(5), store = Some(store1))
    assert(store1.latestIter(spark).contains(5))
    // resume to convergence
    val resumed = PageRank.resume(g, store1, tol = 1e-10, maxIter = 100)
    val vFull = TestSession.vector(full.ranks, "rank")
    val vRes = TestSession.vector(resumed.ranks, "rank")
    vFull.indices.foreach(i => assert(math.abs(vFull(i) - vRes(i)) < 1e-8))
    // lineage/metrics rows exist for every checkpointed iteration
    val iters = store1.metrics(spark).select("iter").distinct().count()
    assert(iters >= 5)
  }

  // a cycle with a tail and a dangling page (6): the web-graph shape
  private def danglingGraph = LinkGraph(spark, 7,
    Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (2L, 4L), (4L, 5L), (5L, 2L), (1L, 6L)), directed = true)

  test("durable tolerance mode: observed delta, same iterations and ranks as in memory, metrics per iteration") {
    val g = danglingGraph
    val mem = PageRank.run(g, tol = 1e-10, maxIter = 300)
    val store = new CheckpointStore(java.nio.file.Files.createTempDirectory("graft-ckpt-tol").toString, "tol")
    val dur = PageRank.run(g, tol = 1e-10, maxIter = 300, store = Some(store))
    assert(dur.iterations == mem.iterations)
    assert(dur.delta < 1e-10, s"delta ${dur.delta}")
    val vMem = TestSession.vector(mem.ranks, "rank")
    val vDur = TestSession.vector(dur.ranks, "rank")
    assert(vMem.indices.map(i => math.abs(vMem(i) - vDur(i))).max < 1e-9)
    assert(dur.ranks.columns.toSeq == Seq("id", "rank"))
    val rows = store.metrics(spark).groupBy("iter").agg(sum("rows")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == (1 to dur.iterations).map(_ -> 7L).toMap)
  }

  test("durable tolerance superstep job floor: dangling and dangling-free graphs") {
    val cycle = LinkGraph(spark, 5,
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L), (0L, 2L)), directed = true)
    // tol 0 never stops early, so two runs differ only in supersteps;
    // returns (jobs, SQL executions) per superstep
    def perStep(g: LinkGraph): (Double, Double) = {
      def run(iters: Int): (Int, Int) = {
        val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-floor").toString
        val (r, ids) = JobCounter(spark)(
          PageRank.run(g, tol = 0.0, maxIter = iters, store = Some(new CheckpointStore(dir, "floor")),
            strategy = PageRank.GridBlocks(0)))
        assert(r.iterations == iters)
        (ids.size, ids.filter(_ != null).distinct.size)
      }
      val ((j2, e2), (j6, e6)) = (run(2), run(6))
      ((j6 - j2) / 4.0, (e6 - e2) / 4.0)
    }
    val (dJobs, dExecs) = perStep(danglingGraph)
    val (fJobs, fExecs) = perStep(cycle)
    info(s"per superstep: $dJobs jobs in $dExecs executions with dangling pages, $fJobs in $fExecs without")
    // GridBlocks: the superstep's one RDD job writes the snapshot in its
    // tasks; the commit is driver-side file writes, no SQL
    assert(dJobs == 1.0 && dExecs == 0.0)
    assert(fJobs == 1.0 && fExecs == 0.0)
  }

  test("graph without numVertices: negative sparse ids, personalized tolerance run == driver kernel") {
    // ids -40, -7, 3, 12, 1000, 77; 77 is dangling; 555 is a reset id outside the vertex set
    val edges = Seq((-7L, 3L), (3L, 1000L), (1000L, -7L), (12L, -7L), (-40L, 12L), (3L, -40L),
      (1000L, 77L), (-40L, 77L))
    val g = LinkGraph(edges.toDF("src", "dst"), directed = true)
    assert(g.numVertices.isEmpty)
    val reset = Some(Seq((-7L, 2.0), (12L, 1.0), (77L, 1.0), (555L, 1.0)).toDF("id", "reset"))
    val store = new CheckpointStore(java.nio.file.Files.createTempDirectory("graft-sparse").toString, "sparse")
    val iters = 9
    // tol 0 never stops early: tolerance mode for exactly `iters` supersteps
    val dist = PageRank.run(g, tol = 0.0, maxIter = iters, reset = reset, store = Some(store),
      strategy = PageRank.GridBlocks(0))
    assert(dist.iterations == iters)
    val kern = PageRank.run(g, fixedIters = Some(iters), reset = reset)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (d, k, snap) = (m(dist.ranks), m(kern.ranks), m(store.load(spark, iters)))
    assert(k.keySet == Set(-40L, -7L, 3L, 12L, 77L, 1000L))
    assert(d.keySet == k.keySet && snap.keySet == k.keySet)
    assert(k.keys.map(id => math.abs(d(id) - k(id))).max < 1e-9, s"grid $d vs kernel $k")
    assert(k.keys.map(id => math.abs(snap(id) - k(id))).max < 1e-9, s"snapshot $snap vs kernel $k")
  }

  test("driver kernel job floor: the same jobs at 2 and 6 supersteps, at most 3 in all, durable and in memory") {
    val g = danglingGraph
    // tol 0 never stops early, so two runs differ only in supersteps
    def jobs(iters: Int, durable: Boolean): Int = {
      val store = if (!durable) None
        else Some(new CheckpointStore(java.nio.file.Files.createTempDirectory("graft-kernel-floor").toString, "floor"))
      val (r, ids) = JobCounter(spark)(PageRank.run(g, tol = 0.0, maxIter = iters, store = store))
      assert(r.iterations == iters && r.perIterSec.size == iters)
      ids.size
    }
    for (durable <- Seq(false, true)) {
      val (j2, j6) = (jobs(2, durable), jobs(6, durable))
      info(s"durable = $durable: $j2 jobs at 2 supersteps, $j6 at 6")
      assert(j2 == j6 && j6 <= 3, s"durable = $durable")
    }
  }

  private def personalized(n: Int): Option[org.apache.spark.sql.DataFrame] =
    Some((0 until n).map(i => (i.toLong, if (i % 3 == 0) 1.0 else 0.0)).toDF("id", "reset"))

  private def rankMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("driver kernel snapshots: load(K) == a fixed-iteration run stopped at K, metrics sum to n rows per iteration") {
    val g = danglingGraph
    for (reset <- Seq(None, personalized(7))) {
      val store = new CheckpointStore(java.nio.file.Files.createTempDirectory("graft-kernel-snap").toString, "snap")
      val dur = PageRank.run(g, tol = 0.0, maxIter = 4, reset = reset, store = Some(store))
      assert(dur.iterations == 4 && store.latestIter(spark).contains(4))
      for (k <- 1 to 4) {
        val mem = rankMap(PageRank.run(g, fixedIters = Some(k), reset = reset).ranks)
        val snap = rankMap(store.load(spark, k))
        assert(snap.keySet == mem.keySet, s"iter $k")
        assert(mem.keys.map(id => math.abs(snap(id) - mem(id))).max < 1e-12, s"iter $k, reset = ${reset.isDefined}")
      }
      assert(store.load(spark, 4).schema.map(f => (f.name, f.dataType.simpleString)) ==
        Seq("id" -> "bigint", "rank" -> "double"))
      val rows = store.metrics(spark).groupBy("iter").agg(sum("rows")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(rows == (1 to 4).map(_ -> 7L).toMap)
    }
  }

  test("resume across paths: a grid snapshot resumes on the driver kernel, a kernel snapshot on the grid") {
    val g = danglingGraph
    for (reset <- Seq(None, personalized(7));
         (first, second) <- Seq(PageRank.GridBlocks(3) -> PageRank.EdgeJoin, PageRank.EdgeJoin -> PageRank.GridBlocks(3))) {
      val full = PageRank.run(g, tol = 1e-10, maxIter = 300, reset = reset)
      val store = new CheckpointStore(java.nio.file.Files.createTempDirectory("graft-cross").toString, "cross")
      PageRank.run(g, tol = 1e-10, maxIter = 300, reset = reset, fixedIters = Some(5), store = Some(store),
        strategy = first)
      assert(store.latestIter(spark).contains(5))
      val resumed = PageRank.resume(g, store, tol = 1e-10, maxIter = 300, reset = reset, strategy = second)
      val what = s"$first -> $second, reset = ${reset.isDefined}"
      assert(resumed.iterations == full.iterations && resumed.delta < 1e-10, what)
      assert(store.latestIter(spark).contains(full.iterations), what)
      val (a, b) = (rankMap(full.ranks), rankMap(resumed.ranks))
      assert(a.keySet == b.keySet && a.keys.map(id => math.abs(a(id) - b(id))).max < 1e-9, what)
    }
  }

  test("tolerance mode: driver kernel == GridBlocks(0) in iterations and at 1e-9 (dangling, weighted + personalized, sparse ids)") {
    val weighted = LinkGraph.weighted(spark, 60, (0 until 500).map { k =>
      val a = graft.ingest.Pages.mix64(7L + k)
      (java.lang.Long.remainderUnsigned(a, 60L), java.lang.Long.remainderUnsigned(graft.ingest.Pages.mix64(a), 60L),
        1.0 + java.lang.Long.remainderUnsigned(a, 5L).toDouble)
    }, directed = true)
    // ids -40, -7, 3, 12, 1000, 77; 77 is dangling; 555 is a reset id outside the vertex set
    val sparse = LinkGraph(Seq((-7L, 3L), (3L, 1000L), (1000L, -7L), (12L, -7L), (-40L, 12L), (3L, -40L),
      (1000L, 77L), (-40L, 77L)).toDF("src", "dst"), directed = true)
    val cases = Seq(
      ("dangling", danglingGraph, None, 0.85),
      ("weighted + personalized", weighted, personalized(60), 0.5),
      ("sparse ids", sparse, Some(Seq((-7L, 2.0), (12L, 1.0), (77L, 1.0), (555L, 1.0)).toDF("id", "reset")), 0.85))
    for ((name, g, reset, damping) <- cases) {
      val kern = PageRank.run(g, damping = damping, tol = 1e-10, maxIter = 300, reset = reset)
      val grid = PageRank.run(g, damping = damping, tol = 1e-10, maxIter = 300, reset = reset,
        strategy = PageRank.GridBlocks(0))
      assert(kern.iterations == grid.iterations && kern.delta < 1e-10, name)
      val (k, d) = (rankMap(kern.ranks), rankMap(grid.ranks))
      assert(k.keySet == d.keySet, name)
      assert(k.keys.map(id => math.abs(k(id) - d(id))).max < 1e-9, name)
    }
  }

  test("fixed-iter driver kernel: an out-of-range endpoint fails naming the id and n") {
    val g = LinkGraph(Seq((0L, 1L), (1L, 5L)).toDF("src", "dst"), directed = true, Some(3L))
    val e = intercept[IllegalArgumentException](PageRank.run(g, fixedIters = Some(3)))
    assert(e.getMessage.contains("endpoint 5") && e.getMessage.contains("n = 3"), e.getMessage)
  }
}
