package graft.algos

import graft.core.{CheckpointStore, LinkGraph, LocalGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank by power iteration over the edge table.
  *
  * Semantics pinned to the reference (`__init__.py:974-1029`,
  * `graphobject.c:5326-5439`, docstring `graphobject.c:13775-13824`):
  *   - scores sum to 1; `1 - damping` is the reset probability;
  *   - undirected graphs treat every edge as bidirectional;
  *   - edge weights scale the share a vertex passes to each neighbor
  *     (row-normalized by out-strength);
  *   - dangling vertices (out-strength 0) redistribute their mass via the
  *     reset distribution every iteration — the variant that reproduces the
  *     reference goldens: Star(11) hub 0.4668 (`test_structural.py:389-393`)
  *     and personalized 0.3333/0.5166/0.0166 at damping 0.5
  *     (`test_structural.py:395-404`).
  *
  * One distributed engine, [[PageRankGrid]] (GridBlocks): a grid of packed
  * CSR edge cells and one Spark job per superstep, durable supersteps
  * included (each task writes its block's snapshot). It runs every mode:
  * tolerance and fixed-iteration, uniform and personalized, weighted,
  * durable and resumed; a graph without `numVertices` is relabelled to dense
  * ids first.
  *
  * The kernel gate: a fixed-iteration, in-memory, fresh run of the default
  * strategy on a graph with at most `smallThreshold` vertices and edges is
  * collected to the driver and iterated as arrays (two jobs in all, the
  * oracle-mirrored mode). Tolerance-mode, durable and resumed runs never
  * take it.
  */
object PageRank {

  sealed trait Strategy
  /** The default strategy: the gated driver kernel when the run qualifies,
    * else `GridBlocks(0)`. The name is kept from the DataFrame edge-join loop
    * that this default used to run; that loop is gone.
    */
  case object EdgeJoin extends Strategy
  /** Grid-partitioned CSR SpMV ([[PageRankGrid]]) with `p` blocks, always,
    * whatever the run's size (`p = 0` auto-sizes): dense ids when
    * `numVertices` is set (an edge outside `[0, n)` fails the build), 8
    * bytes/edge, a build that reads the edge table once, and one two-stage
    * RDD job per superstep in every mode, the convergence delta and a
    * durable snapshot included.
    */
  final case class GridBlocks(p: Int = 0) extends Strategy

  final case class Result(ranks: DataFrame, iterations: Int, delta: Double,
      perIterSec: Seq[Double] = Nil)

  /** @param reset optional personalization DataFrame (id, reset); normalized
    *              internally (ids outside the vertex set count toward the
    *              normalizer only). All-zero reset is an error like the
    *              reference (`test_structural.py:396`).
    * @param fixedIters when set, run exactly this many iterations with no
    *              convergence test (SQL-oracle parity mode).
    */
  def run(
      g: LinkGraph,
      damping: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      reset: Option[DataFrame] = None,
      fixedIters: Option[Int] = None,
      store: Option[CheckpointStore] = None,
      strategy: Strategy = EdgeJoin,
      smallThreshold: Long = 8000000L
  ): Result =
    runFrom(g, initial = None, startIter = 0, damping, tol, maxIter, reset, fixedIters, store, strategy, smallThreshold)

  /** Resume a durable run from its latest snapshot: identical loop, starting
    * state read back from the store (north_rule resumability).
    */
  def resume(
      g: LinkGraph,
      store: CheckpointStore,
      damping: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      reset: Option[DataFrame] = None,
      strategy: Strategy = EdgeJoin
  ): Result =
    store.latestIter(g.spark) match {
      case None    => run(g, damping, tol, maxIter, reset, None, Some(store), strategy)
      case Some(k) => runFrom(g, Some(store.load(g.spark, k)), k, damping, tol, maxIter, reset, None, Some(store), strategy)
    }

  private def runFrom(
      g: LinkGraph,
      initial: Option[DataFrame],
      startIter: Int,
      damping: Double,
      tol: Double,
      maxIter: Int,
      reset: Option[DataFrame],
      fixedIters: Option[Int],
      store: Option[CheckpointStore],
      strategy: Strategy,
      smallThreshold: Long = 8000000L
  ): Result = {
    val gated = strategy == EdgeJoin && fixedIters.isDefined && store.isEmpty && initial.isEmpty &&
      g.numVertices.forall(_ <= smallThreshold)
    val p = strategy match {
      case GridBlocks(p0) => p0
      case EdgeJoin       => 0
    }
    (if (gated) kernel(g, damping, reset, fixedIters.get, smallThreshold) else None)
      .getOrElse(PageRankGrid.run(g, damping, tol, maxIter, reset, fixedIters, store, initial, startIter, p))
  }

  /** The gated driver kernel for the FIXED-ITERATION in-memory mode (r5
    * kernel posture — Brandes / BZ / fixed-sweep Louvain precedent): a
    * 15-iteration power loop on a gate-sized graph costs a scheduled job per
    * superstep plus the build; one collect + an array loop replaces it with
    * 2 jobs total. `None` when the edge count exceeds the gate. It computes
    * the same update as [[PageRankGrid]] (same row-normalization, same
    * dangling-mass formula, same uniform init, same reset normalization);
    * per-vertex message sums are IEEE-order-dependent either way, and the
    * parity spec pins kernel == GridBlocks at 1e-9.
    */
  private def kernel(g: LinkGraph, damping: Double, reset: Option[DataFrame], iters: Int,
                     smallThreshold: Long): Option[Result] = {
    val eDf = g.outView.select("src", "dst", "weight")
    if (eDf.count() <= smallThreshold) {
      val spark = g.spark
      import spark.implicits._
      // with numVertices set, an endpoint outside 0..n-1 has no slot
      val lg = LocalGraph.numbered(eDf.collect(), g.numVertices)
      val (vids, n, src, dst, w) = (lg.ids, lg.n, lg.src, lg.dst, lg.weight)
      require(n > 0, "empty graph")
      val outw = new Array[Double](n)
      for (i <- 0 until lg.m) outw(src(i)) += w(i)
      val p = Array.tabulate(lg.m)(i => w(i) / outw(src(i)))
      // personalization: same math as GridBlocks — total over
      // the FULL reset frame (ids outside the vertex set contribute to the
      // normalizer only), missing vertices coalesce to 0
      val resetArr: Array[Double] = reset match {
        case None => Array.fill(n)(1.0 / n)
        case Some(r) =>
          val rRows = r.select(col("id"), col("reset").cast("double")).collect()
          var tot = 0.0
          rRows.foreach(rr => tot += rr.getDouble(1))
          require(tot > 0.0, "reset vector must not be all zeros")
          val arr = new Array[Double](n)
          rRows.foreach { rr =>
            if (lg.contains(rr.getLong(0)))
              arr(lg.slot(rr.getLong(0))) = rr.getDouble(1) / tot
          }
          arr
      }
      // branch on the same STATIC property GridBlocks branches on:
      // without dangling vertices NO mass correction is applied, even
      // when a personalized reset leaves total rank below 1 (reset ids
      // outside the vertex set count only in the normalizer) — applying
      // the correction unconditionally diverged 1.9e-2 by iteration 7 in
      // the parity spec
      val hasOut = new Array[Boolean](n)
      var si = 0
      while (si < lg.m) { hasOut(src(si)) = true; si += 1 }
      var hasDangling = false
      var hv = 0
      while (hv < n) { if (!hasOut(hv)) hasDangling = true; hv += 1 }
      var rank = Array.fill(n)(1.0 / n)
      var it = 0
      while (it < iters) {
        val msg = new Array[Double](n)
        var j = 0
        while (j < lg.m) { msg(dst(j)) += p(j) * rank(src(j)); j += 1 }
        val danglingMass =
          if (!hasDangling) 0.0
          else {
            var msgTotal = 0.0
            var v = 0
            while (v < n) { msgTotal += msg(v); v += 1 }
            math.max(0.0, 1.0 - msgTotal)
          }
        val next = new Array[Double](n)
        var v = 0
        while (v < n) {
          next(v) = (1.0 - damping + damping * danglingMass) * resetArr(v) + damping * msg(v)
          v += 1
        }
        rank = next
        it += 1
      }
      val out = spark.createDataset(spark.sparkContext.parallelize(
        vids.indices.map(i2 => (vids(i2), rank(i2))).toSeq,
        spark.sparkContext.defaultParallelism)).toDF("id", "rank")
      Some(Result(out, iters, Double.MaxValue, Nil))
    } else None
  }
}
