package linkbench

import graft.algos.{PageRank, PageRankGrid}
import graft.core.LinkGraph
import graft.ingest.Pages
import org.apache.spark.sql.SparkSession

/** pagerank_grid: the north metric. A Zipf edge table with dense ids and
  * hub skew (the corpus' link structure, without the corpus) goes
  * straight into `PageRank.run(strategy = GridBlocks)`: to 1e-6 at
  * local[4], then the same input at the same iteration count at local[1].
  * It exercises only `PageRankGrid` (build and SpMV superstep) and bypasses
  * ingest and every DataFrame loop.
  *
  * Input: `Pages.outLinks` at the fixed seed [[Inputs.Structure]], with
  * every vertex id renamed by a `--seed`-derived bijection of `0..n-1`, so
  * the hubs land in different grid blocks on every seed.
  */
object PagerankGrid {
  val N = 100000L
  val WarmN = 25000L
  val WarmIters = 3
  val AvgDeg = 10
  /** Grid blocks, fixed so both parallelism levels run the identical layout. */
  val P = 8
  /** Share of the measuring time spent at local[4]; the rest is local[1]. */
  val Local4Share = 0.75

  def writeEdges(spark: SparkSession, n: Long, seed: Long, path: String): Unit = {
    import spark.implicits._
    val rename = Inputs.permutation(seed, n)
    spark.range(0, n, 1, 8)
      .flatMap(i => Pages.outLinks(Inputs.Structure, i, n, AvgDeg).map(t => (rename(i), rename(t))))
      .toDF("src", "dst")
      .write.parquet(path)
  }

  def graph(spark: SparkSession, path: String, n: Long): LinkGraph =
    LinkGraph(spark.read.parquet(path), directed = true, Some(n))

  def ranks(res: PageRank.Result): Array[Double] = {
    val spark = res.ranks.sparkSession
    import spark.implicits._
    val rows = res.ranks.select("id", "rank").as[(Long, Double)].collect()
    val out = new Array[Double](rows.length)
    rows.foreach { case (id, rk) => out(id.toInt) = rk }
    out
  }

  def maxDiff(a: Array[Double], b: Array[Double]): Double =
    if (a.length != b.length) Double.PositiveInfinity
    else a.indices.map(i => math.abs(a(i) - b(i))).max

  /** Superstep times of one run without the first superstep, which pays the
    * first touch of the freshly built grid.
    */
  def steady(res: PageRank.Result): Seq[Double] = res.perIterSec.drop(1)

  def run(r: Run): Unit = {
    var full = ""
    var warm = ""
    var m = 0L
    r.setUp {
      full = r.fresh("edges")
      warm = r.fresh("warm-edges")
      writeEdges(r.spark, N, r.seed, full)
      writeEdges(r.spark, WarmN, r.seed, warm)
      m = graph(r.spark, full, N).ecount()
    } {
      // warm-up: the timed call twice (one pass leaves the superstep loop
      // partly interpreted), then the cross-strategy check at warm-up size
      val wg = graph(r.spark, warm, WarmN)
      for (_ <- 1 to 2) PageRank.run(wg, tol = 1e-6, strategy = PageRank.GridBlocks(P))
      val grid = ranks(PageRank.run(wg, fixedIters = Some(WarmIters), strategy = PageRank.GridBlocks(P)))
      val edge = ranks(PageRank.run(wg, fixedIters = Some(WarmIters), strategy = PageRank.EdgeJoin))
      val d = maxDiff(grid, edge)
      r.check(d <= 1e-6, s"GridBlocks vs EdgeJoin differ by $d at warm-up size")
    }
    val g4 = graph(r.spark, full, N)
    // the build alone, so the per-superstep shuffle can be separated out
    if (r.traced) r.call("algos.grid_build_only") {
      PageRankGrid.build(r.spark, g4.outView, N, P, unweighted = true).unpersist()
    }

    val walls4 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val steps4 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val builds4 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val iters = scala.collection.mutable.ArrayBuffer.empty[Int]
    var ref: Array[Double] = null
    r.measure(r.seconds * Local4Share) { _ =>
      val (res, wall) = Stats.timed {
        r.call("algos.grid_local4")(PageRank.run(g4, tol = 1e-6, maxIter = 100, strategy = PageRank.GridBlocks(P)))
      }
      walls4 += wall; steps4 ++= steady(res); builds4 += wall - res.perIterSec.sum
      iters += res.iterations
      val rk = ranks(res)
      if (ref == null) ref = rk
      Seq(
        r.check(math.abs(rk.sum - 1.0) <= 1e-9, s"local[4] ranks sum to ${rk.sum}"),
        r.check(res.delta < 1e-6, s"local[4] final delta ${res.delta}"),
        r.check(res.iterations == iters.head, s"local[4] iterations ${res.iterations} != ${iters.head}"),
        r.check(maxDiff(rk, ref) <= 1e-9, "local[4] ranks differ between runs")
      ).forall(identity)
    }

    // local[1]: same parquet input, same grid, the iteration count local[4]
    // converged in, so both levels time the same supersteps
    val g1 = graph(r.session(1), full, N)
    val walls1 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val steps1 = scala.collection.mutable.ArrayBuffer.empty[Double]
    r.measure(r.seconds * (1 - Local4Share)) { _ =>
      val (res, wall) = Stats.timed {
        r.call("algos.grid_local1")(PageRank.run(g1, fixedIters = Some(iters.head), strategy = PageRank.GridBlocks(P)))
      }
      walls1 += wall - res.perIterSec.sum; steps1 ++= steady(res)
      val d = maxDiff(ranks(res), ref)
      r.check(d <= 1e-9, s"local[1] and local[4] ranks differ by $d")
    }

    val step4 = Stats.median(steps4.toSeq)
    val step1 = Stats.median(steps1.toSeq)
    r.put("wall_s", Stats.median(walls4.toSeq), "s")
    r.put("algos.grid_eps_local4", m / step4, "edges/s")
    r.put("algos.grid_eps_local1", m / step1, "edges/s")
    r.put("algos.scaling_eff_1_to_4", step1 / step4 / 4, "ratio")
    r.put("algos.grid_superstep_s_local4", step4, "s")
    r.put("algos.grid_superstep_s_local1", step1, "s")
    r.put("algos.grid_build_s_local4", Stats.median(builds4.toSeq), "s")
    r.put("algos.grid_build_s_local1", Stats.median(walls1.toSeq), "s")
    // bytes one superstep must move: the packed 8-byte edge stream plus the
    // rank, inverse-out-strength and new-rank vectors (8 bytes per vertex each)
    r.put("algos.grid_gibps_local4", (m * 8.0 + N * 24.0) / step4 / (1L << 30), "GiB/s")
    r.put("algos.converge_iters", iters.head, "count")
    Layers.report(r, Seq("algos.grid_local4", "algos.grid_local1"), walls4.toSeq, Set("algos.grid_local4"))
    if (r.traced) {
      val buildMb = r.tracer.spans.filter(_.name == "algos.grid_build_only").map(_.shuffleBytes / 1e6)
      val runMb = r.tracer.spans.filter(_.name == "algos.grid_local4").map(_.shuffleBytes / 1e6)
      if (buildMb.nonEmpty && runMb.nonEmpty)
        r.put("spark.grid_shuffle_mb_per_superstep",
          (Stats.median(runMb.toSeq) - buildMb.head) / iters.head, "MB")
    }
  }
}
