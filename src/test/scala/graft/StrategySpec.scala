package graft

import graft.algos.PageRank
import graft.core.LinkGraph
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** GridBlocks, PageRank's one distributed engine, against the fixed-iteration
  * driver kernel, an independent implementation of the same update: the
  * kernel is what the default strategy (`PageRank.EdgeJoin`, the name kept
  * for the default) runs for any run of this size.
  * Each parity case runs the grid first and the kernel for the iterations
  * the grid took.
  */
class StrategySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def randomGraph(n: Int, m: Int): LinkGraph = {
    val edges = (0 until m).map { k =>
      val a = graft.ingest.Pages.mix64(42L + k)
      val s = java.lang.Long.remainderUnsigned(a, n.toLong)
      val d = java.lang.Long.remainderUnsigned(graft.ingest.Pages.mix64(a), n.toLong)
      (s, d)
    }
    LinkGraph(spark, n, edges, directed = true)
  }

  /** (kernel, grid) ranks: GridBlocks(p) in tolerance mode, then the driver
    * kernel for the same number of iterations.
    */
  private def gridVsKernel(g: LinkGraph, p: Int, tol: Double, maxIter: Int, damping: Double = 0.85,
                           reset: Option[DataFrame] = None): (Array[Double], Array[Double]) = {
    val grid = PageRank.run(g, damping = damping, tol = tol, maxIter = maxIter, reset = reset,
      strategy = PageRank.GridBlocks(p))
    val kern = PageRank.run(g, damping = damping, fixedIters = Some(grid.iterations), reset = reset)
    (TestSession.vector(kern.ranks, "rank"), TestSession.vector(grid.ranks, "rank"))
  }

  test("grid-CSR PageRank matches edge-join to 1e-9 (directed, with dangling)") {
    val g = randomGraph(300, 2500) // remainderUnsigned leaves some ids dangling
    val (base, grid) = gridVsKernel(g, 7, tol = 1e-12, maxIter = 40)
    base.indices.foreach { i =>
      assert(math.abs(base(i) - grid(i)) < 1e-9, s"grid differs at $i")
    }
  }

  test("grid-CSR matches edge-join on a weighted graph and personalized reset") {
    import spark.implicits._
    val edges = (0 until 500).map { k =>
      val a = graft.ingest.Pages.mix64(7L + k)
      (java.lang.Long.remainderUnsigned(a, 60L),
        java.lang.Long.remainderUnsigned(graft.ingest.Pages.mix64(a), 60L),
        1.0 + (java.lang.Long.remainderUnsigned(a, 5L)).toDouble)
    }
    val g = LinkGraph.weighted(spark, 60, edges, directed = true)
    val reset = Some((0 until 60).map(i => (i.toLong, if (i % 7 == 0) 1.0 else 0.0)).toDF("id", "reset"))
    val (base, grid) = gridVsKernel(g, 5, tol = 1e-12, maxIter = 60, damping = 0.5, reset = reset)
    base.indices.foreach { i =>
      assert(math.abs(base(i) - grid(i)) < 1e-9, s"grid differs at $i")
    }
  }

  test("grid-CSR fixed-iteration mode matches edge-join fixed mode exactly-ish") {
    val g = randomGraph(200, 1500)
    val base = TestSession.vector(PageRank.run(g, fixedIters = Some(15)).ranks, "rank")
    val grid = TestSession.vector(
      PageRank.run(g, fixedIters = Some(15), strategy = PageRank.GridBlocks(0)).ranks, "rank")
    base.indices.foreach { i =>
      assert(math.abs(base(i) - grid(i)) < 1e-12, s"grid differs at $i")
    }
  }

  test("grid-CSR handles tiny graphs where most blocks are empty") {
    val g = LinkGraph(spark, 5, Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L)), directed = true)
    val (base, grid) = gridVsKernel(g, 0, tol = 1e-12, maxIter = 80)
    base.indices.foreach(i => assert(math.abs(base(i) - grid(i)) < 1e-9))
  }

  test("grid-CSR reproduces the Star(11) golden (undirected bidirected view)") {
    val g = LinkGraph.star(spark, 11)
    val v = TestSession.vector(
      PageRank.run(g, tol = 1e-10, maxIter = 200, strategy = PageRank.GridBlocks(3)).ranks, "rank")
    assert(math.abs(v.max - 0.4668) < 5e-4)
    assert(v.indexOf(v.max) == 0)
  }
}
