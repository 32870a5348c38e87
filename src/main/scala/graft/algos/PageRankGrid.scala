package graft.algos

import graft.core.{CheckpointStore, Ids, LinkGraph}
import org.apache.spark.{HashPartitioner, SerializableWritable}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Grid-partitioned CSR PageRank: the bandwidth-lean physical strategy.
  *
  * Same semantics as [[PageRank]] (reference `graphobject.c:5326-5439`:
  * damping 0.85, reset = 1-damping, dangling mass redistributed through the
  * reset distribution every iteration, weights row-normalized by
  * out-strength), different physical plan; it is PageRank's only
  * distributed engine. The grid needs dense vertex ids `0..n-1` (the
  * north_star's web-page id space): a graph with `numVertices` must already
  * have them, and [[run]] relabels a graph without it through
  * [[graft.core.Ids.relabel]].
  *
  * Layout — a P×P grid of edge cells:
  *   - vertex block `b` owns ids `[b*stride, (b+1)*stride)`, stride ≤ 2^24;
  *   - each edge (src,dst) is packed into ONE long:
  *     `dstBlock(16 bits) | dstLocal(24 bits) | srcLocal(24 bits)`;
  *   - partition `sb` holds all out-edges of source block `sb`, sorted by
  *     (dstBlock, dstLocal): a flat `Array[Long]` with a P+1 offsets index —
  *     8 bytes/edge at rest (plus 8 for the weight when the graph is
  *     weighted; the unweighted fast path folds 1/outDegree into a per-source
  *     scale vector instead of storing per-edge probabilities).
  *
  * Superstep = one RDD job, two stages, ZERO per-iteration Catalyst planning
  * (a DataFrame superstep re-plans and re-codegens on the driver every
  * superstep — a serial cost that caps scaling efficiency; here the driver
  * does O(P) work per iteration):
  *   1. SpMV stage (P tasks): partition `sb` computes
  *      `rScaled[s] = (pre[s] + c*reset[s]) * invOutStrength[s]` once, then
  *      streams its cells in dstBlock order accumulating
  *      `acc[dstLocal] += w * rScaled[srcLocal]` into a stride-sized dense
  *      array. Both random-access windows (the source slice read and the
  *      destination accumulator write) are `stride*8` bytes — cache-resident
  *      by construction — so the only DRAM traffic is the sequential edge
  *      stream. Per-destination-block accumulation is also the skew story:
  *      a hub dst receives at most P partial values regardless of in-degree
  *      (the map-side-combine argument, made explicit in the layout).
  *   2. Reduce stage (P tasks): block-aligned `reduceByKey` sums the ≤P
  *      partial arrays per destination block (communication O(n·P) doubles,
  *      the 1D-partitioned SpMV bound; a √P×√P task grid drops it to
  *      O(n·√P) when P must grow — documented, not needed at sandbox scale),
  *      applies `pre' = (1-d)*reset + d*msg`, and zips the old state to
  *      compute the block's share of `H'` and its largest rank change
  *      (below). The job's one action collects each block's `H'` share,
  *      largest change and snapshot row count (0 in memory).
  *
  * Dangling-mass trick: a dangling vertex contributes no messages, so the
  * true rank is
  *   `rank[i] = pre[i] + c * reset[i]`
  * — the correction is a DRIVER SCALAR folded into the next iteration's
  * `rScaled`, never materialized into the vectors. The scalar is predicted
  * before the superstep runs rather than summed after it: row-normalized,
  * every non-dangling vertex sends exactly its rank, so with the static sum
  * `RH = Σ_{non-dangling} reset` and `H = Σ_{non-dangling} pre`, the message
  * total is `H + c*RH` and
  *   `c' = d * max(0, 1 - (H + c*RH))`   (0 on a graph with no dangling vertex)
  * — the dangling mass `1 - Σmsg` redistributed through the reset, exactly
  * [[PageRank]]'s driver-kernel update (a personalized reset whose ids miss
  * the vertex set sums below 1, and the kernel then leaves the deficit
  * uncorrected; so does this). Knowing `c'` up front lets the reduce stage
  * compute the convergence delta in the task that writes `pre'`, so
  * tolerance mode, dangling graphs and fixed-iteration mode alike cost one
  * job per superstep. A fresh uniform run takes `RH` and `H` from the build;
  * a personalized or resumed run computes them, with a personalized reset's
  * normalizer, in one job before the first superstep.
  *
  * Durable mode (`store = Some(s)`): the superstep is still one job. The
  * driver empties `iter=K` ([[CheckpointStore.clear]]) before it runs; the
  * action's task, right after it materializes block `b` of `pre'`, writes
  * that block's final ranks `pre' + c'*reset` (`c'` is known up front) as
  * `state/iter=K/part-<b>.parquet` with parquet-hadoop
  * ([[CheckpointStore.writePart]]) and returns the row count with its `H'`
  * share and delta. The driver then commits the metrics line and
  * `_SUCCESS` from those counts ([[CheckpointStore.commit]]): no SQL
  * write, no footer read, no re-read. A resumed run reads the snapshot back
  * as its initial ranks. The in-memory superstep is the same job without
  * the write.
  *
  * At 10^12 vertices the same layout shards `stride ≤ 2^24` blocks across
  * executors; block-local arrays stay ≤128 MiB and the packed-key space
  * (16-bit block ids) covers n ≤ 2^40.
  */
object PageRankGrid {

  private val Mask24 = (1 << 24) - 1

  /** One destination block's partial message vector, adaptively encoded:
    * dense `double[len]` when the cell touched most of the block, sparse
    * (idx, vals) pairs otherwise — at web avg-degree ~10 a P=32 grid cell
    * touches ~25% of its destination block, so sparse encoding cuts the
    * reduce-stage shuffle ~3x (12 B/entry vs 8 B/slot). Sparse entries may
    * carry duplicate indices (merges concatenate); consumers scatter-add.
    */
  final class Partial(
      val len: Int,
      var dense: Array[Double],
      var idx: Array[Int],
      var vals: Array[Double]) extends Serializable {

    def densify(): Array[Double] = {
      if (dense == null) {
        val a = new Array[Double](len)
        var i = 0
        while (i < idx.length) { a(idx(i)) += vals(i); i += 1 }
        dense = a; idx = null; vals = null
      }
      dense
    }

    /** Fold `other` into this (mutating); returns this. */
    def merge(other: Partial): Partial = {
      if (dense != null) {
        if (other.dense != null) {
          var i = 0; while (i < len) { dense(i) += other.dense(i); i += 1 }
        } else {
          var i = 0; while (i < other.idx.length) { dense(other.idx(i)) += other.vals(i); i += 1 }
        }
        this
      } else if (other.dense != null) other.merge(this)
      else if ((idx.length + other.idx.length) * 3L > len.toLong * 2L) {
        densify(); merge(other)
      } else {
        val ni = java.util.Arrays.copyOf(idx, idx.length + other.idx.length)
        val nv = java.util.Arrays.copyOf(vals, vals.length + other.vals.length)
        System.arraycopy(other.idx, 0, ni, idx.length, other.idx.length)
        System.arraycopy(other.vals, 0, nv, vals.length, other.vals.length)
        idx = ni; vals = nv
        this
      }
    }
  }

  /** One source block's cells: `keys` sorted by (dstBlock, dstLocal),
    * `offsets(db)..offsets(db+1)` delimiting destination block `db`,
    * `ws` parallel edge weights or null for the unweighted fast path, and
    * `invW` the inverse out-strength of each source slot (0.0 = dangling).
    */
  final case class CellsBlock(sb: Int, offsets: Array[Int], keys: Array[Long], ws: Array[Double],
      invW: Array[Double])

  /** Static grid: one cells block per source block, partitioned so that
    * block `b` is partition `b` and every superstep zips partitions without
    * shuffling static data. `nonDangling` counts the vertices with out-edges.
    */
  final class Grid(
      val n: Long,
      val p: Int,
      val stride: Int,
      val cells: RDD[CellsBlock],
      val nonDangling: Long,
      val partitioner: HashPartitioner) {

    def unpersist(): Unit = { cells.unpersist(false); () }
  }

  /** Block `b` of the rank state: `pre`, the ranks without the dangling
    * correction, and, once a superstep has written it, the block's share of
    * `H = Σ_{non-dangling} pre` and its largest rank change.
    */
  private final case class RankBlock(b: Int, pre: Array[Double], h: Double, delta: Double)

  /** Pick a block count: at least the default parallelism (task granularity)
    * and large enough that a block's local ids fit 24 bits.
    */
  def autoP(spark: SparkSession, n: Long): Int = {
    val minForBits = ((n + Mask24) / (Mask24 + 1)).toInt
    math.max(math.max(spark.sparkContext.defaultParallelism, 8), minForBits)
  }

  private def blockLen(n: Long, stride: Int, b: Int): Int =
    math.min(stride.toLong, n - b.toLong * stride).max(0L).toInt

  /** Build the static grid from an out-edge view (src, dst, weight) in one
    * pass: each edge is range-checked and packed map-side, one shuffle
    * groups the keys by source block, then each block is sorted and indexed
    * and its inverse out-strength summed from its own cells. The one action
    * also counts the non-dangling vertices.
    *
    * Every id must lie in `[0, n)`: out-of-range edges are counted and
    * dropped map-side, and the build fails after its action if there were
    * any, naming `n` and one such edge.
    *
    * `unweighted = true` (statically known, e.g. the edge table has no
    * weight column) ships BARE packed keys through the shuffle — the
    * per-edge constant 1.0 would otherwise add 8 bytes/edge to the one
    * O(E) shuffle of the build (≈5 GB at 640M edges, and the dominant
    * term of a cold-start-to-convergence wall).
    */
  def build(spark: SparkSession, edges: DataFrame, n: Long, p0: Int,
            unweighted: Boolean = false): Grid = {
    val p = math.max(p0, ((n + Mask24) / (Mask24 + 1)).toInt)
    require(p <= (1 << 16), s"grid block count $p exceeds 16-bit packed range")
    val stride = (((n max 1L) + p - 1) / p).toInt
    val part = new HashPartitioner(p)
    val sc = spark.sparkContext
    val bad = sc.longAccumulator("GridBlocks out-of-range edges")
    val badEdge = sc.collectionAccumulator[(Long, Long)]("GridBlocks out-of-range edge")
    // a per-task filter: counts and drops edges outside [0, n), keeping the
    // task's first one as the example for the error message
    def inRange(): (Long, Long) => Boolean = {
      var first = true
      (s, t) => {
        val ok = s >= 0 && s < n && t >= 0 && t < n
        if (!ok) { bad.add(1); if (first) { badEdge.add((s, t)); first = false } }
        ok
      }
    }
    def key(s: Long, t: Long): Long = ((t / stride) << 48) | ((t % stride) << 24) | (s % stride)
    import spark.implicits._

    val cells = (if (unweighted) {
      edges.select(col("src"), col("dst")).as[(Long, Long)].rdd
        .mapPartitions { it =>
          val ok = inRange()
          it.collect { case (s, t) if ok(s, t) => ((s / stride).toInt, key(s, t)) }
        }
        .partitionBy(part)
        .mapPartitionsWithIndex({ (sb, it) =>
          var keys = new Array[Long](1024)
          var m = 0
          while (it.hasNext) {
            val (_, k) = it.next()
            if (m == keys.length) keys = java.util.Arrays.copyOf(keys, m * 2)
            keys(m) = k; m += 1
          }
          Iterator.single(finishCells(p, sb, blockLen(n, stride, sb), keys, null, m, allOne = true))
        }, preservesPartitioning = true)
    } else {
      edges.select(col("src"), col("dst"), coalesce(col("weight"), lit(1.0)))
        .as[(Long, Long, Double)].rdd
        .mapPartitions { it =>
          val ok = inRange()
          it.collect { case (s, t, w) if ok(s, t) => ((s / stride).toInt, (key(s, t), w)) }
        }
        .partitionBy(part)
        .mapPartitionsWithIndex({ (sb, it) =>
          var keys = new Array[Long](1024)
          var ws = new Array[Double](1024)
          var m = 0
          var allOne = true
          while (it.hasNext) {
            val (_, (k, w)) = it.next()
            if (m == keys.length) {
              keys = java.util.Arrays.copyOf(keys, m * 2)
              ws = java.util.Arrays.copyOf(ws, m * 2)
            }
            keys(m) = k; ws(m) = w
            if (w != 1.0) allOne = false
            m += 1
          }
          Iterator.single(finishCells(p, sb, blockLen(n, stride, sb), keys, ws, m, allOne))
        }, preservesPartitioning = true)
    }).persist(StorageLevel.MEMORY_AND_DISK)

    val nonDangling = cells.map(_.invW.count(_ != 0.0).toLong).fold(0L)(_ + _)
    val nBad = bad.value
    if (nBad > 0) cells.unpersist(false)
    require(nBad == 0, {
      val (s, t) = badEdge.value.get(0)
      s"GridBlocks needs dense ids in [0, $n); use graft.core.Ids.assignDense first " +
        s"(out-of-range edges: $nBad, e.g. $s -> $t)"
    })
    new Grid(n, p, stride, cells, nonDangling, part)
  }

  /** Trim, sort and index one source block's packed cells, and invert each
    * source slot's out-strength (executor-side; only primitives/arrays cross
    * the closure boundary).
    */
  private def finishCells(p: Int, sb: Int, len: Int, keys0: Array[Long], ws0: Array[Double],
                          m: Int, allOne: Boolean): CellsBlock = {
    val keys = java.util.Arrays.copyOf(keys0, m)
    val ws = if (allOne || ws0 == null) null else java.util.Arrays.copyOf(ws0, m)
    if (ws == null) java.util.Arrays.sort(keys) else sortPair(keys, ws, 0, m - 1)
    val offsets = new Array[Int](p + 1)
    val invW = new Array[Double](len)
    var i = 0
    while (i < m) {
      offsets(((keys(i) >>> 48) & 0xFFFF).toInt + 1) += 1
      invW((keys(i) & Mask24).toInt) += (if (ws == null) 1.0 else ws(i))
      i += 1
    }
    i = 0
    while (i < p) { offsets(i + 1) += offsets(i); i += 1 }
    i = 0
    while (i < len) { if (invW(i) != 0.0) invW(i) = 1.0 / invW(i); i += 1 }
    CellsBlock(sb, offsets, keys, ws, invW)
  }

  /** Dual-array quicksort: sort `keys[lo..hi]` carrying `vals` along. */
  private def sortPair(keys: Array[Long], vals: Array[Double], lo: Int, hi: Int): Unit = {
    if (lo >= hi) return
    var i = lo; var j = hi
    val pivot = keys(lo + (hi - lo) / 2)
    while (i <= j) {
      while (keys(i) < pivot) i += 1
      while (keys(j) > pivot) j -= 1
      if (i <= j) {
        val tk = keys(i); keys(i) = keys(j); keys(j) = tk
        val tv = vals(i); vals(i) = vals(j); vals(j) = tv
        i += 1; j -= 1
      }
    }
    sortPair(keys, vals, lo, j)
    sortPair(keys, vals, i, hi)
  }

  // ---------------------------------------------------------------------
  // the iteration loop
  // ---------------------------------------------------------------------

  /** Run PageRank on the grid. A graph without `numVertices` is relabelled
    * to dense ids with [[graft.core.Ids.relabel]] first; its reset and
    * initial ranks are mapped through the same dictionary (an id outside
    * the vertex set still counts toward the reset normalizer), and every
    * output row, snapshots included, carries the original id.
    */
  def run(
      g: LinkGraph,
      damping: Double,
      tol: Double,
      maxIter: Int,
      reset: Option[DataFrame],
      fixedIters: Option[Int],
      store: Option[CheckpointStore],
      initial: Option[DataFrame],
      startIter: Int,
      p0: Int): PageRank.Result = {
    val spark = g.spark
    // no weight column on the base table => outView's weight is the literal
    // 1.0 the view adds; ship bare packed keys through the build shuffle
    val unweighted = !g.edges.columns.contains("weight")
    val (dense, mapping) = g.numVertices match {
      case Some(_) => (g, None)
      case None    => val (m, rg) = Ids.relabel(g); (rg, Some(m))
    }
    // (id, v) in the graph's ids -> (dense id, v); ids outside the vertex
    // set become -1, which the chunking counts toward a block's sum only
    def toDense(df: DataFrame, v: String): DataFrame = mapping match {
      case None => df.select(col("id"), col(v).as("v"))
      case Some(m) =>
        df.select(col("id").as("__key"), col(v).as("v"))
          .join(m.select(col("old_id").as("__key"), col("id")), Seq("__key"), "left")
          .select(coalesce(col("id"), lit(-1L)).as("id"), col("v"))
    }
    val n = dense.vcount()
    require(n > 0, "empty graph")
    val p = if (p0 > 0) p0 else autoP(spark, n)
    val grid = build(spark, dense.outView, n, p, unweighted)
    try runOnGrid(spark, grid, mapping, damping, tol, maxIter, reset.map(toDense(_, "reset")),
      fixedIters, store, initial.map(toDense(_, "rank")), startIter)
    finally grid.unpersist()
  }

  private def runOnGrid(
      spark: SparkSession,
      grid: Grid,
      mapping: Option[DataFrame],
      damping: Double,
      tol: Double,
      maxIter: Int,
      reset: Option[DataFrame],
      fixedIters: Option[Int],
      store: Option[CheckpointStore],
      initial: Option[DataFrame],
      startIter: Int): PageRank.Result = {
    import spark.implicits._
    val n = grid.n
    val p = grid.p
    val stride = grid.stride
    val d = damping
    val uniform = 1.0 / n

    // (id, v) rows -> one dense array per block, block b in partition b,
    // with the sum of every v the block received; rows with ids outside
    // [0, n) go to block 0 and count toward that sum only
    def chunked(df: DataFrame): RDD[(Array[Double], Double)] = {
      val inRange = col("id") >= 0 && col("id") < n
      df.select(
          when(inRange, expr(s"CAST(id DIV $stride AS INT)")).otherwise(0).as("b"),
          when(inRange, expr(s"CAST(id % $stride AS INT)")).otherwise(-1).as("l"),
          col("v").cast("double"))
        .as[(Int, Int, Double)].rdd
        .map(t => (t._1, (t._2, t._3)))
        .partitionBy(grid.partitioner)
        .mapPartitionsWithIndex({ (b, it) =>
          val arr = new Array[Double](blockLen(n, stride, b))
          var tot = 0.0
          while (it.hasNext) { val (_, (l, v)) = it.next(); if (l >= 0) arr(l) = v; tot += v }
          Iterator.single((arr, tot))
        }, preservesPartitioning = true)
    }

    // each block's vertex ids in the graph's own id space: null = dense ids
    // `b*stride + i` (never materialized), else the relabelling's old ids
    val idChunks: RDD[Array[Long]] = mapping match {
      case None => grid.cells.map(_ => null: Array[Long])
      case Some(m) =>
        m.select(col("id"), col("old_id")).as[(Long, Long)].rdd
          .map { case (i, o) => ((i / stride).toInt, ((i % stride).toInt, o)) }
          .partitionBy(grid.partitioner)
          .mapPartitionsWithIndex({ (b, it) =>
            val arr = new Array[Long](blockLen(n, stride, b))
            it.foreach { case (_, (l, o)) => arr(l) = o }
            Iterator.single(arr)
          }, preservesPartitioning = true)
          .persist(StorageLevel.MEMORY_AND_DISK)
    }

    // raw reset chunks: null array = uniform 1/n (never materialized). Reset
    // ids outside [0, n) count toward the normalizer only, as in PageRank.
    val rawReset: RDD[(Array[Double], Double)] = reset match {
      case None => grid.cells.map(_ => (null: Array[Double], 0.0))
      case Some(r) => chunked(r)
    }

    var state: RDD[RankBlock] = initial match {
      case Some(df) =>
        chunked(df)
          .mapPartitionsWithIndex((b, it) => Iterator.single(RankBlock(b, it.next()._1, 0.0, 0.0)))
          .persist(StorageLevel.MEMORY_AND_DISK)
      case None =>
        grid.cells.map(cb => RankBlock(cb.sb, Array.fill(cb.invW.length)(uniform), 0.0, 0.0))
    }

    // RH = Σ_{non-dangling} reset, H = Σ_{non-dangling} pre: a fresh uniform
    // run knows both from the build, otherwise one job, which also sums a
    // personalized reset's normalizer
    val nd = grid.nonDangling * uniform
    val (rhRaw, h0, resetTot) =
      if (reset.isEmpty && initial.isEmpty) (nd, nd, 0.0)
      else grid.cells.zipPartitions(rawReset, state) { (cit, rit, sit) =>
        val iw = cit.next().invW
        val (ra, tot) = rit.next()
        val pre = sit.next().pre
        var rh = 0.0; var h = 0.0
        var i = 0
        while (i < iw.length) {
          if (iw(i) != 0.0) { rh += (if (ra == null) uniform else ra(i)); h += pre(i) }
          i += 1
        }
        Iterator.single((rh, h, tot))
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    require(reset.isEmpty || resetTot > 0.0, "reset vector must not be all zeros")
    val rhSum = if (reset.isEmpty) rhRaw else rhRaw / resetTot
    val hasDangling = grid.nonDangling < n
    // normalized reset chunks, filled by the first superstep from the raw
    // chunks' shuffle output (no job of their own)
    val resetChunks: RDD[Array[Double]] =
      if (reset.isEmpty) rawReset.map(_._1)
      else rawReset.map { case (ra, _) => ra.map(_ / resetTot) }.persist(StorageLevel.MEMORY_AND_DISK)
    // a durable run's tasks write their snapshot blocks with the driver's
    // Hadoop configuration
    val hadoopConf = store.map(_ => spark.sparkContext.broadcast(
      new SerializableWritable(spark.sparkContext.hadoopConfiguration)))

    var c = 0.0
    var h = h0
    var iter = startIter
    var delta = Double.MaxValue
    val maxI = fixedIters.map(_ + startIter).getOrElse(maxIter)
    val checkConvergence = fixedIters.isEmpty
    val iterTimes = scala.collection.mutable.ArrayBuffer.empty[Double]

    while (iter < maxI && delta > tol) {
      val t0 = System.currentTimeMillis()
      val cc = c
      // the dangling scalar of the state this superstep writes, known before
      // it runs (see "Dangling-mass trick")
      val cNew = if (hasDangling) d * math.max(0.0, 1.0 - (h + cc * rhSum)) else 0.0
      val old = state
      // a durable superstep writes iteration iter+1 into an emptied directory
      val snapshotDir = store.map(_.clear(spark, iter + 1)).orNull

      // stage 1: per-source-block SpMV into per-destination-block partials
      val msgs: RDD[(Int, Partial)] =
        grid.cells.zipPartitions(resetChunks, old) { (cit, rit, sit) =>
          val cb = cit.next()
          val ra = rit.next()
          val pre = sit.next().pre
          val iw = cb.invW
          val len = pre.length
          val rScaled = new Array[Double](len)
          var i = 0
          if (ra == null) while (i < len) { rScaled(i) = (pre(i) + cc * uniform) * iw(i); i += 1 }
          else while (i < len) { rScaled(i) = (pre(i) + cc * ra(i)) * iw(i); i += 1 }
          val keys = cb.keys
          val ws = cb.ws
          val off = cb.offsets
          val acc = new Array[Double](stride) // reused across cells
          (0 until p).iterator.filter(db => off(db + 1) > off(db)).map { db =>
            val accLen = blockLen(n, stride, db)
            var nnz = 0
            var k = off(db)
            val end = off(db + 1)
            if (ws == null)
              while (k < end) {
                val key = keys(k); val t = ((key >>> 24) & Mask24).toInt
                if (acc(t) == 0.0) nnz += 1
                acc(t) += rScaled((key & Mask24).toInt); k += 1
              }
            else
              while (k < end) {
                val key = keys(k); val t = ((key >>> 24) & Mask24).toInt
                if (acc(t) == 0.0) nnz += 1
                acc(t) += ws(k) * rScaled((key & Mask24).toInt); k += 1
              }
            val partial =
              if (nnz.toLong * 3 < accLen.toLong * 2) {
                // sparse: extract touched slots (re-walking the edge range
                // would revisit duplicates; scan only when it wins)
                val si = new Array[Int](nnz)
                val sv = new Array[Double](nnz)
                var j = 0; var w = 0
                while (j < accLen && w < nnz) {
                  val v = acc(j)
                  if (v != 0.0) { si(w) = j; sv(w) = v; acc(j) = 0.0; w += 1 }
                  j += 1
                }
                new Partial(accLen, null,
                  if (w == nnz) si else java.util.Arrays.copyOf(si, w),
                  if (w == nnz) sv else java.util.Arrays.copyOf(sv, w))
              } else {
                val dense = java.util.Arrays.copyOf(acc, accLen)
                java.util.Arrays.fill(acc, 0, accLen, 0.0)
                new Partial(accLen, dense, null, null)
              }
            (db, partial)
          }
        }

      // stage 2: block-aligned partial-sum reduce + rank update, with the
      // block's share of H' and its largest rank change from the old state
      val reduced = msgs.reduceByKey(grid.partitioner, (a: Partial, b: Partial) => a.merge(b))
      val next: RDD[RankBlock] =
        grid.cells.zipPartitions(resetChunks, old, reduced) { (cit, rit, sit, mit) =>
          val cb = cit.next()
          val ra = rit.next()
          val prev = sit.next().pre
          val iw = cb.invW
          val len = iw.length
          val out = new Array[Double](len)
          var i = 0
          if (ra == null) { val v = (1.0 - d) * uniform; while (i < len) { out(i) = v; i += 1 } }
          else while (i < len) { out(i) = (1.0 - d) * ra(i); i += 1 }
          if (mit.hasNext) {
            val partial = mit.next()._2
            if (partial.dense != null) {
              i = 0; while (i < len) { out(i) += d * partial.dense(i); i += 1 }
            } else {
              i = 0
              while (i < partial.idx.length) { out(partial.idx(i)) += d * partial.vals(i); i += 1 }
            }
          }
          val dc = cNew - cc
          var hb = 0.0
          var m = 0.0
          i = 0
          while (i < len) {
            if (iw(i) != 0.0) hb += out(i)
            val dd = math.abs(out(i) - prev(i) + dc * (if (ra == null) uniform else ra(i)))
            if (dd > m) m = dd
            i += 1
          }
          Iterator.single(RankBlock(cb.sb, out, hb, m))
        }
      next.persist(StorageLevel.MEMORY_AND_DISK)
      next.localCheckpoint()
      // the superstep's one action: it materializes `next` and returns each
      // block's (H' share, max delta, snapshot rows); a durable superstep's
      // task writes its block's final ranks `pre' + c'·reset` in the same pass
      val blocks =
        if (snapshotDir == null) next.map(b => (b.h, b.delta, 0L)).collect()
        else next.zipPartitions(resetChunks, idChunks) { (sit, rit, iit) =>
          val blk = sit.next()
          val ra = rit.next()
          val ids = iit.next()
          val base = blk.b.toLong * stride
          val rows =
            if (blk.pre.isEmpty) 0L
            else CheckpointStore.writePart(hadoopConf.get.value.value, snapshotDir, blk.b, blk.pre.length,
              i => if (ids == null) base + i else ids(i),
              i => blk.pre(i) + cNew * (if (ra == null) uniform else ra(i)))
          Iterator.single((blk.h, blk.delta, rows))
        }.collect()
      if (checkConvergence) delta = blocks.map(_._2).max
      store.foreach(_.commit(spark, iter + 1,
        blocks.indices.collect { case b if blocks(b)._3 > 0 => (b, blocks(b)._3) }, t0))
      // `next` is materialized and cut from its lineage: the old state can go
      old.unpersist(false)
      state = next
      c = cNew
      h = blocks.map(_._1).sum
      iter += 1
      iterTimes += (System.currentTimeMillis() - t0) / 1000.0
    }

    val out = ranksDF(spark, state, resetChunks, idChunks, c, uniform, stride)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // fill the cache with one scan job (a count would add an aggregate
    // exchange, run as further jobs under AQE)
    out.foreachPartition((it: Iterator[Row]) => it.foreach(_ => ()))
    state.unpersist(false)
    resetChunks.unpersist(false)
    idChunks.unpersist(false)
    hadoopConf.foreach(_.destroy())
    PageRank.Result(out, iter, delta, iterTimes.toSeq)
  }

  /** (id, rank) DataFrame view of the chunked state with the dangling scalar
    * folded back in.
    */
  private def ranksDF(
      spark: SparkSession,
      state: RDD[RankBlock],
      resetChunks: RDD[Array[Double]],
      idChunks: RDD[Array[Long]],
      c: Double,
      uniform: Double,
      stride: Int): DataFrame = {
    val rows = state.zipPartitions(resetChunks, idChunks) { (sit, rit, iit) =>
      val blk = sit.next()
      val ra = rit.next()
      val ids = iit.next()
      val base = blk.b.toLong * stride
      blk.pre.iterator.zipWithIndex.map { case (v, i) =>
        Row(if (ids == null) base + i else ids(i), v + c * (if (ra == null) uniform else ra(i)))
      }
    }
    spark.createDataFrame(rows,
      StructType(Seq(StructField("id", LongType, false), StructField("rank", DoubleType, false))))
  }
}
