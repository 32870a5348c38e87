package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The collected graph every gated driver kernel runs on: `(src, dst[,
  * weight])` edge columns numbered into int slots once, with CSR views
  * built by one builder.
  *
  * `ids(i)` owns slot `i`. The numbering is the caller's choice (see the
  * companion): the range `0..n-1` when a graph declares `numVertices`, else
  * first-seen over each edge's `(src, dst)`, optionally after an explicit id
  * array. `src`, `dst` and `weight` keep edge order, which is `collect()`'s
  * row order whether the edges come as rows or packed from
  * [[LocalGraph.collect]]. Every CSR view is filled in that order, so a
  * kernel's neighbour order (and with it its floating-point summation order
  * and tie-breaks) follows the collected edges exactly. Looking up an id that
  * has no slot fails with a `require` naming the id and n, so an endpoint
  * outside a graph's `numVertices` range cannot land silently on slot 0.
  */
final class LocalGraph private (val ids: Array[Long],
                                index: java.util.HashMap[Long, Int], // null: ids are 0..n-1
                                srcIds: Array[Long],
                                dstIds: Array[Long],
                                weights: () => Array[Double]) {
  val n: Int = ids.length
  val m: Int = srcIds.length

  /** Slot of `id`, or -1 when it has none. */
  private def indexOf(id: Long): Int =
    if (index != null) index.getOrDefault(id, -1)
    else if (id >= 0 && id < n) id.toInt
    else -1

  def contains(id: Long): Boolean = indexOf(id) >= 0

  def slot(id: Long): Int = {
    val s = indexOf(id)
    require(s >= 0, s"edge endpoint $id is outside the vertex ids 0..${n - 1} (n = $n)")
    s
  }

  val src: Array[Int] = new Array[Int](m)
  val dst: Array[Int] = new Array[Int](m)
  fill(srcIds, dstIds)

  /** `src`/`dst` in edge order; the first endpoint without a slot fails. A
    * method rather than a constructor loop, so that it is compiled while
    * it runs.
    */
  private def fill(s: Array[Long], d: Array[Long]): Unit = {
    var i = 0
    while (i < m) {
      src(i) = indexOf(s(i)); if (src(i) < 0) slot(s(i))
      dst(i) = indexOf(d(i)); if (dst(i) < 0) slot(d(i))
      i += 1
    }
  }

  /** Edge-order weights (column 2); only edges collected with one may ask. */
  lazy val weight: Array[Double] = weights()

  /** Out-adjacency: row i is the arc `src(i) -> dst(i)`. */
  def out(weighted: Boolean = false): LocalGraph.Csr =
    LocalGraph.csr(n, src, dst, if (weighted) weight else null)

  /** Both directions of every non-loop row: row i adds `src(i) -> dst(i)`,
    * then `dst(i) -> src(i)`.
    */
  def undirected(weighted: Boolean = false): LocalGraph.Csr = {
    var arcs = 0
    for (i <- 0 until m) if (src(i) != dst(i)) arcs += 2
    val from = new Array[Int](arcs)
    val to = new Array[Int](arcs)
    val w = if (weighted) new Array[Double](arcs) else null
    var i = 0
    var k = 0
    while (i < m) {
      if (src(i) != dst(i)) {
        from(k) = src(i); to(k) = dst(i); from(k + 1) = dst(i); to(k + 1) = src(i)
        if (weighted) { w(k) = weight(i); w(k + 1) = weight(i) }
        k += 2
      }
      i += 1
    }
    LocalGraph.csr(n, from, to, w)
  }

  /** The non-loop arcs of the `mode` view: Out is `src(i) -> dst(i)`, In the
    * reverse, All both ([[undirected]]).
    */
  def arcs(mode: Mode, weighted: Boolean = false): LocalGraph.Csr = mode match {
    case Mode.All => undirected(weighted)
    case _ =>
      val keep = (0 until m).filter(i => src(i) != dst(i)).toArray
      val (from, to) = if (mode == Mode.Out) (src, dst) else (dst, src)
      LocalGraph.csr(n, keep.map(from), keep.map(to), if (weighted) keep.map(weight) else null)
  }
}

object LocalGraph {

  /** Compressed rows: the neighbours of slot `v` are `nbr(off(v)) until
    * nbr(off(v + 1))`, with weights `w` at the same positions (null when
    * built without them).
    */
  final class Csr(val off: Array[Int], val nbr: Array[Int], val w: Array[Double])

  /** CSR of the arcs `from(k) -> to(k)` over `n` slots, filled in index order. */
  def csr(n: Int, from: Array[Int], to: Array[Int], w: Array[Double] = null): Csr = {
    val off = new Array[Int](n + 1)
    from.foreach(f => off(f + 1) += 1)
    for (i <- 1 to n) off(i) += off(i - 1)
    val fill = off.clone()
    val nbr = new Array[Int](from.length)
    val ws = if (w == null) null else new Array[Double](from.length)
    var k = 0
    while (k < from.length) {
      val f = from(k)
      nbr(fill(f)) = to(k)
      if (ws != null) ws(fill(f)) = w(k)
      fill(f) += 1; k += 1
    }
    new Csr(off, nbr, ws)
  }

  /** Ids `first` in order, then every other endpoint in first-seen order
    * over each row's `(src, dst)`.
    */
  def apply(rows: Array[Row], first: Array[Long] = Array.emptyLongArray): LocalGraph =
    firstSeen(rows.map(_.getLong(0)), rows.map(_.getLong(1)), first, () => rows.map(_.getDouble(2)))

  /** The numbering of a graph's kernels: ids `0..n-1` when `numVertices`
    * is set (an endpoint outside them fails the slot `require`), else
    * first-seen over the rows.
    */
  def numbered(rows: Array[Row], numVertices: Option[Long]): LocalGraph =
    number(rows.map(_.getLong(0)), rows.map(_.getLong(1)), () => rows.map(_.getDouble(2)), numVertices)

  /** [[numbered]] over an edge frame `(src BIGINT, dst BIGINT[, weight
    * DOUBLE])`, collected as packed columns in one job over
    * `queryExecution.toRdd`: each partition returns its `src`/`dst` arrays
    * and its weights (none when they are all 1.0, the weight of an
    * unweighted graph), and the driver concatenates them in partition order —
    * `collect()`'s row order — so the numbering and every kernel output
    * are those of `numbered(df.collect(), numVertices)`, without a `Row`
    * per edge.
    */
  def collect(df: DataFrame, numVertices: Option[Long]): LocalGraph = {
    val types = df.schema.fields.map(_.dataType).toSeq
    require(types == Seq(LongType, LongType) || types == Seq(LongType, LongType, DoubleType),
      s"LocalGraph.collect needs (src BIGINT, dst BIGINT[, weight DOUBLE]) columns, got ${df.schema.simpleString}")
    val weighted = types.length == 3
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var s = new Array[Long](1024)
      var d = new Array[Long](1024)
      var w = if (weighted) new Array[Double](1024) else null
      var allOne = true
      var k = 0
      while (it.hasNext) {
        val r = it.next()
        require(!r.anyNull, "LocalGraph.collect: null endpoint or weight")
        if (k == s.length) {
          s = java.util.Arrays.copyOf(s, 2 * k)
          d = java.util.Arrays.copyOf(d, 2 * k)
          if (weighted) w = java.util.Arrays.copyOf(w, 2 * k)
        }
        s(k) = r.getLong(0); d(k) = r.getLong(1)
        if (weighted) { w(k) = r.getDouble(2); if (w(k) != 1.0) allOne = false }
        k += 1
      }
      Iterator.single((java.util.Arrays.copyOf(s, k), java.util.Arrays.copyOf(d, k),
        if (weighted && !allOne) java.util.Arrays.copyOf(w, k) else null))
    }.collect()
    val total = parts.map(_._1.length.toLong).sum
    require(total <= Int.MaxValue, s"LocalGraph.collect: $total edges do not fit one array")
    val (src, dst) = (new Array[Long](total.toInt), new Array[Long](total.toInt))
    val w = if (weighted) new Array[Double](total.toInt) else null
    var at = 0
    parts.foreach { case (s, d, pw) =>
      System.arraycopy(s, 0, src, at, s.length)
      System.arraycopy(d, 0, dst, at, d.length)
      if (weighted) {
        if (pw == null) java.util.Arrays.fill(w, at, at + s.length, 1.0)
        else System.arraycopy(pw, 0, w, at, pw.length)
      }
      at += s.length
    }
    number(src, dst, () => { require(weighted, "LocalGraph.collect: no weight column"); w }, numVertices)
  }

  private def number(src: Array[Long], dst: Array[Long], weights: () => Array[Double],
                     numVertices: Option[Long]): LocalGraph = numVertices match {
    case Some(n) => new LocalGraph(Array.tabulate(n.toInt)(_.toLong), null, src, dst, weights)
    case None    => firstSeen(src, dst, Array.emptyLongArray, weights)
  }

  private def firstSeen(src: Array[Long], dst: Array[Long], first: Array[Long],
                        weights: () => Array[Double]): LocalGraph = {
    val index = new java.util.HashMap[Long, Int]()
    val ids = scala.collection.mutable.ArrayBuilder.make[Long]
    var n = 0
    def intern(x: Long): Unit =
      if (!index.containsKey(x)) { index.put(x, n); ids += x; n += 1 }
    first.foreach(intern)
    var i = 0
    while (i < src.length) { intern(src(i)); intern(dst(i)); i += 1 }
    new LocalGraph(ids.result(), index, src, dst, weights)
  }
}
