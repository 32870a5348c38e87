package graft

import graft.algos.{PageRank, PageRankGrid}
import graft.core.{CheckpointStore, LinkGraph}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** GridBlocks ([[PageRankGrid]]) as a physical plan: its job floor, its
  * cache lifecycle, its dense-id contract and durable resume. Rank parity
  * with the other strategies lives in [[StrategySpec]].
  */
class PageRankGridSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // 300 vertices, 2500 edges; remainderUnsigned leaves some ids dangling
  private def randomGraph: LinkGraph = {
    val edges = (0 until 2500).map { k =>
      val a = graft.ingest.Pages.mix64(42L + k)
      (java.lang.Long.remainderUnsigned(a, 300L),
        java.lang.Long.remainderUnsigned(graft.ingest.Pages.mix64(a), 300L))
    }
    LinkGraph(spark, 300, edges, directed = true)
  }

  private def personalized(n: Int): Option[DataFrame] =
    Some((0 until n).map(i => (i.toLong, if (i % 7 == 0) 1.0 else 0.0)).toDF("id", "reset"))

  test("GridBlocks job floor: one job per superstep, at most 2 for the build") {
    val g = randomGraph
    // tol 0 never stops early, so two runs differ only in supersteps
    def jobs(reset: Option[DataFrame], iters: Int): Int = {
      val (r, ids) = JobCounter(spark)(
        PageRank.run(g, tol = 0.0, maxIter = iters, reset = reset, strategy = PageRank.GridBlocks(5)))
      assert(r.iterations == iters)
      r.ranks.unpersist()
      ids.size
    }
    // outside the supersteps, measured at local[4] with AQE: a uniform run
    // has the build and the output scan; a personalized one adds the one job
    // for R, RH, H and the reset total
    for ((name, reset, setUp) <- Seq(("uniform", None, 2), ("personalized", personalized(300), 3))) {
      val (j2, j6) = (jobs(reset, 2), jobs(reset, 6))
      info(s"$name reset: ${(j6 - j2) / 4.0} jobs per superstep, ${j2 - 2} outside them")
      assert((j6 - j2) / 4.0 == 1.0, s"$name reset")
      assert(j2 - 2 <= setUp, s"$name reset")
    }
    val (_, build) = JobCounter(spark)(
      PageRankGrid.build(spark, g.outView, 300L, 5, unweighted = true).unpersist())
    info(s"build: ${build.size} jobs")
    assert(build.size <= 2)
  }

  test("GridBlocks releases each superstep's state: the cache grows alike after 2 and 12 supersteps") {
    val g = randomGraph
    val sc = spark.sparkContext
    def growth(iters: Int): Int = {
      val before = sc.getPersistentRDDs.keySet
      val r = PageRank.run(g, tol = 0.0, maxIter = iters, strategy = PageRank.GridBlocks(5))
      assert(r.iterations == iters)
      val grown = sc.getPersistentRDDs.keys.count(id => !before.contains(id))
      r.ranks.unpersist()
      grown
    }
    val (g2, g12) = (growth(2), growth(12))
    info(s"persisted RDDs left: $g2 after 2 supersteps, $g12 after 12")
    assert(g2 == g12)
    assert(g12 <= 1) // the cached result
  }

  test("GridBlocks durable run, then resume, reproduces the uninterrupted run") {
    // a cycle with a tail and a dangling page (6)
    val g = LinkGraph(spark, 7,
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (2L, 4L), (4L, 5L), (5L, 2L), (1L, 6L)), directed = true)
    for (reset <- Seq(None, personalized(7))) {
      val strategy = PageRank.GridBlocks(3)
      val full = PageRank.run(g, tol = 1e-10, maxIter = 300, reset = reset, strategy = strategy)
      val store = new CheckpointStore(
        java.nio.file.Files.createTempDirectory("graft-grid-ckpt").toString, "grid")
      PageRank.run(g, tol = 1e-10, maxIter = 300, reset = reset, fixedIters = Some(5),
        store = Some(store), strategy = strategy)
      assert(store.latestIter(spark).contains(5))
      val resumed = PageRank.resume(g, store, tol = 1e-10, maxIter = 300, reset = reset, strategy = strategy)
      assert(resumed.iterations == full.iterations, s"reset = ${reset.isDefined}")
      assert(resumed.delta < 1e-10)
      val vFull = TestSession.vector(full.ranks, "rank")
      val vRes = TestSession.vector(resumed.ranks, "rank")
      assert(vFull.indices.map(i => math.abs(vFull(i) - vRes(i))).max < 1e-9, s"reset = ${reset.isDefined}")
    }
  }

  test("GridBlocks: an edge outside [0, n) fails the build naming the edge and n") {
    for ((bad, shown) <- Seq((1L, 5L) -> "1 -> 5", (-1L, 0L) -> "-1 -> 0")) {
      val g = LinkGraph(Seq((0L, 1L), bad).toDF("src", "dst"), directed = true, Some(3L))
      val e = intercept[IllegalArgumentException](
        PageRank.run(g, tol = 1e-8, strategy = PageRank.GridBlocks(2)))
      assert(e.getMessage.contains("[0, 3)") && e.getMessage.contains(shown), e.getMessage)
    }
  }
}
