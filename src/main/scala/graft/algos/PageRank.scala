package graft.algos

import graft.core.{CheckpointStore, LinkGraph, LocalGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

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
  * The kernel gate: every run of the default strategy on a graph with at
  * most `smallThreshold` vertices and edges is collected to the driver as
  * packed columns and iterated as arrays, whatever its mode: fixed-iteration
  * or tolerance, in memory or durable, fresh or resumed. That is a count and
  * a collect for the whole run, where the grid pays a scheduled job per
  * superstep; a durable kernel run writes its snapshots from the driver in
  * the grid's layout, so either path resumes the other's. `GridBlocks(p)`
  * always runs the grid.
  */
object PageRank {

  sealed trait Strategy
  /** The default strategy: the gated driver kernel when the graph fits the
    * gate (any mode), else `GridBlocks(0)`. The name is kept from the
    * DataFrame edge-join loop that this default used to run; that loop is
    * gone.
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
    val p = strategy match {
      case GridBlocks(p0) => p0
      case EdgeJoin       => 0
    }
    val small = strategy == EdgeJoin && g.numVertices.forall(_ <= smallThreshold)
    (if (small) kernel(g, damping, tol, maxIter, reset, fixedIters, store, initial, startIter, smallThreshold)
     else None)
      .getOrElse(PageRankGrid.run(g, damping, tol, maxIter, reset, fixedIters, store, initial, startIter, p))
  }

  /** The gated driver kernel: one count, one packed-column collect
    * ([[LocalGraph.collect]]) and an array power loop replace the grid's
    * build and its one scheduled job per superstep. `None` when the edge
    * count exceeds the gate. Every mode of [[PageRankGrid]] runs here with
    * the same update (same row-normalization, same dangling-mass formula,
    * same uniform init, same reset normalization), the same stopping rule
    * (the largest absolute rank change against `tol`, `maxIter` counted
    * from iteration 0 on a resume) and the same snapshots: iteration K is
    * [[CheckpointStore.clear]], then `(id, rank)` part files written from
    * the driver, then [[CheckpointStore.commit]]. Per-vertex message sums
    * are IEEE-order-dependent either way, and the parity specs pin kernel ==
    * GridBlocks at 1e-9.
    */
  private def kernel(g: LinkGraph, damping: Double, tol: Double, maxIter: Int, reset: Option[DataFrame],
                     fixedIters: Option[Int], store: Option[CheckpointStore], initial: Option[DataFrame],
                     startIter: Int, smallThreshold: Long): Option[Result] = {
    val eDf = g.outView.select("src", "dst", "weight")
    if (eDf.count() <= smallThreshold) {
      val spark = g.spark
      import spark.implicits._
      // with numVertices set, an endpoint outside 0..n-1 has no slot
      val lg = LocalGraph.collect(eDf, g.numVertices)
      val (vids, n, src, dst, w) = (lg.ids, lg.n, lg.src, lg.dst, lg.weight)
      require(n > 0, "empty graph")
      val outw = new Array[Double](n)
      for (i <- 0 until lg.m) outw(src(i)) += w(i)
      val p = Array.tabulate(lg.m)(i => w(i) / outw(src(i)))
      // (id, value) rows on the slots they name; ids outside the vertex set
      // are dropped, missing vertices stay 0
      def onSlots(rows: Array[(Long, Double)]): Array[Double] = {
        val arr = new Array[Double](n)
        rows.foreach { case (id, v) => if (lg.contains(id)) arr(lg.slot(id)) = v }
        arr
      }
      // personalization: same math as GridBlocks — total over
      // the FULL reset frame (ids outside the vertex set contribute to the
      // normalizer only), missing vertices coalesce to 0
      val resetArr: Array[Double] = reset match {
        case None => Array.fill(n)(1.0 / n)
        case Some(r) =>
          val rRows = r.select(col("id"), col("reset").cast("double")).as[(Long, Double)].collect()
          val tot = rRows.map(_._2).sum
          require(tot > 0.0, "reset vector must not be all zeros")
          onSlots(rRows.map { case (id, v) => (id, v / tot) })
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
      // a resumed run starts from the snapshot's ranks, as the grid does
      var rank = initial match {
        case None     => Array.fill(n)(1.0 / n)
        case Some(df) => onSlots(df.select(col("id"), col("rank").cast("double")).as[(Long, Double)].collect())
      }
      var it = startIter
      var delta = Double.MaxValue
      val maxI = fixedIters.map(_ + startIter).getOrElse(maxIter)
      val iterTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (it < maxI && delta > tol) {
        val t0 = System.currentTimeMillis()
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
        var change = 0.0
        var v = 0
        while (v < n) {
          next(v) = (1.0 - damping + damping * danglingMass) * resetArr(v) + damping * msg(v)
          change = math.max(change, math.abs(next(v) - rank(v)))
          v += 1
        }
        if (fixedIters.isEmpty) delta = change
        rank = next
        it += 1
        store.foreach(snapshot(spark, _, it, vids, rank, t0))
        iterTimes += (System.currentTimeMillis() - t0) / 1000.0
      }
      Some(Result(ranksDF(spark, vids, rank), it, delta, iterTimes.toSeq))
    } else None
  }

  /** Iteration `iter`'s snapshot from the driver, in the grid's layout: the
    * slots split into P contiguous blocks, P the default parallelism (at
    * most one block per driver core and per vertex), block `b` written as
    * `part-<b>` on its own thread, then the commit.
    */
  private def snapshot(spark: SparkSession, store: CheckpointStore, iter: Int, ids: Array[Long],
                       rank: Array[Double], t0: Long): Unit = {
    val dir = store.clear(spark, iter)
    val conf = spark.sparkContext.hadoopConfiguration
    val n = ids.length
    val parts = Seq(spark.sparkContext.defaultParallelism, Runtime.getRuntime.availableProcessors, n).min.max(1)
    val stride = (n + parts - 1) / parts
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parts)
    val rows = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      Await.result(Future.sequence((0 until parts).map { b =>
        val from = b * stride
        val len = math.max(0, math.min(stride, n - from))
        Future(if (len == 0) 0L else CheckpointStore.writePart(conf, dir, b, len, i => ids(from + i), i => rank(from + i)))
      }), Duration.Inf)
    } finally pool.shutdown()
    store.commit(spark, iter, rows.indices.collect { case b if rows(b) > 0 => (b, rows(b)) }, t0)
  }

  /** The kernel's `(id, rank)` frame: `defaultParallelism` slices cut as
    * `parallelize` cuts a sequence, each shipped as two primitive arrays.
    */
  private def ranksDF(spark: SparkSession, ids: Array[Long], rank: Array[Double]): DataFrame = {
    import spark.implicits._
    val slices = spark.sparkContext.defaultParallelism
    val n = ids.length
    val chunks = (0 until slices).map { s =>
      val (from, until) = ((s.toLong * n / slices).toInt, ((s + 1).toLong * n / slices).toInt)
      (java.util.Arrays.copyOfRange(ids, from, until), java.util.Arrays.copyOfRange(rank, from, until))
    }
    spark.createDataset(spark.sparkContext.parallelize(chunks, slices)
      .flatMap { case (is, rs) => is.indices.iterator.map(i => (is(i), rs(i))) }).toDF("id", "rank")
  }
}
