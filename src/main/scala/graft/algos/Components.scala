package graft.algos

import graft.core.{CheckpointStore, LinkGraph}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Weakly / strongly connected components.
  *
  * Reference: `clusters(mode=weak|strong)` (`__init__.py:613-622`,
  * `graphobject.c:4358-4387`) returns a membership vector; goldens compare
  * memberships up to relabeling (`test_decomposition.py:175-188,213-215`).
  *
  * Output convention here: (id, comp) where `comp` is the **minimum vertex id
  * in the component** — a deterministic, cluster-size-independent label that
  * needs no global sort; [[graft.core.GraphOps.canonicalizeMembership]]
  * densifies to 0..k-1 when igraph-style labels are required.
  */
object Components {

  /** WCC: min-label propagation with pointer jumping and parent hooking.
    *
    * Under the kernel gate (no store, at most `smallThreshold` adjacency
    * rows and vertices) one collect + union-find labels the graph on the
    * driver. Above it, the labels live in P hash blocks (`P` = the default
    * parallelism; block = `HashPartitioner(P)` of the id, so ids may be any
    * longs). A block holds its sorted vertex ids and its loop-free
    * bidirected out-edges sorted by (block(dst), dst). Each round is one
    * Spark job of four stages with no Catalyst planning:
    *   1. min messages: a source block sends each destination block one
    *      sorted, de-duplicated (dst, min label) partial;
    *   2. merge and update: `L1(v) = min(L(v), msg(v))`;
    *   3. requests: every vertex asks `L1(v)`'s block for `L1(L1(v))` (the
    *      pointer jump), and a vertex whose label fell sends its new label to
    *      its old label's vertex (parent hooking, as in Shiloach-Vishkin and
    *      FastSV); a target answers `min(L1(t), hooks to t)`;
    *   4. apply: `L2(v) = min(L1(v), ans(L1(v)), ans(v))`; the job's action
    *      returns how many labels changed.
    * Jumping alone shortens a path only where ids increase along it; the
    * hook lets a root whose tree met a smaller label take that label
    * itself, so a path with shuffled ids settles in about log2(n) + 1
    * rounds (measured: 11-12 at 2k vertices, 14-15 at 20k, 18-19 at 200k).
    * Every label is the id of a vertex in the same component and never
    * grows, so the fixpoint is exactly the min-id labelling of the
    * union-find kernel.
    *
    * With `numVertices = Some(n)` the vertex set is `0..n-1` (isolated
    * vertices included) and both paths `require` every edge endpoint to lie
    * in `[0, n)`. A `store` keeps the distributed rounds and saves each
    * round's `(id, comp)`.
    */
  def wcc(g: LinkGraph, store: Option[CheckpointStore] = None, maxIter: Int = 50,
          smallThreshold: Long = 1000000L): DataFrame = {
    // NOTE loops ride along in the persisted frame (they are a no-op for
    // min-label propagation and for union-find); the distributed build
    // drops them from the edges but keeps them as vertices. Keeping them
    // means the vertex set can be derived from the adjacency rows instead
    // of from g.vertices — whose edge-endpoint derivation would re-run the
    // whole upstream pipeline (LSH candidate generation, pair confirm, ...)
    // once for the gate count and once more for the output set. That double
    // recompute was the dominant cost of every dedup query that ends in a
    // WCC over candidate pairs (q_embed_dedup_lsh: 3 full pipeline runs).
    // Persisted as read: neither the kernel's collect nor the block build
    // (its own HashPartitioner shuffle) uses a partitioning by src.
    val adj = g.bidirected.select(col("src"), col("dst")).persist()
    // adaptive small-input fast path (the AQE posture, decided by a runtime
    // COUNT, never by assumption): WCC is a frequent inner stage — LSH
    // near-dup clustering, embedding dedup, line dedup all run it on a
    // CANDIDATE graph that is orders of magnitude smaller than the corpus —
    // and even one job a round is pure scheduling on a graph that fits in
    // one task. Under the gate, one collect + union-find (union-by-min
    // preserves the exact min-id labeling of the fixpoint) replaces the
    // rounds. Above the gate, and for checkpointed runs, the block rounds
    // run.
    // Gate without extra jobs: explicit n when given; otherwise every vertex
    // is an endpoint of some collected row, so |V| <= |adj rows| <= gate.
    if (store.isEmpty && adj.count() <= smallThreshold
        && g.numVertices.forall(_ <= smallThreshold)) {
      val spark = g.spark
      import spark.implicits._
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x
        while (c != r) { val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt }
        r
      }
      val rows = adj.collect()
      g.numVertices.foreach { n =>
        val bad = rows.find(r => !inRange(n, r.getLong(0), r.getLong(1)))
        if (bad.nonEmpty) adj.unpersist()
        require(bad.isEmpty, outOfRange(n, bad.get.getLong(0), bad.get.getLong(1)))
      }
      rows.foreach { row =>
        val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
        if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
      }
      val vset: Iterator[Long] = g.numVertices match {
        case Some(n) => Iterator.range(0L, n)
        case None    => // distinct endpoints, loops included — same set
          rows.iterator.flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
            .to(scala.collection.immutable.SortedSet).iterator
      }
      val out = vset.map(v => (v, find(v))).toSeq
      adj.unpersist()
      return out.toDF("id", "comp")
    }
    try blockRounds(g, adj, store, maxIter) finally adj.unpersist()
  }

  private def inRange(n: Long, s: Long, t: Long): Boolean = s >= 0 && s < n && t >= 0 && t < n

  private def outOfRange(n: Long, s: Long, t: Long): String =
    s"wcc needs every edge endpoint in [0, $n) when numVertices = $n (out-of-range edge: $s -> $t)"

  /** One hash block of the WCC graph: its vertex ids, sorted, and the
    * loop-free out-edges of those vertices sorted by (block(dst), dst), with
    * `offsets(db)..offsets(db+1)` delimiting destination block `db`, `dsts`
    * the destination ids and `srcs` each source's local index.
    */
  private final case class WccBlock(ids: Array[Long], offsets: Array[Int], dsts: Array[Long],
      srcs: Array[Int])

  /** Block `b`'s labels (`ids` is the static block's array) and how many of
    * them the round that wrote it changed.
    */
  private final case class Labels(b: Int, ids: Array[Long], labels: Array[Long], changed: Long)

  /** Sorted, de-duplicated (id, value) pairs bound for one block; `from` is
    * the block that sent them, or -1 for a block's answers to its own hooks.
    */
  private final case class Pairs(from: Int, ids: Array[Long], vals: Array[Long])

  /** The block of `id`: `HashPartitioner(p)`'s partition of the boxed key. */
  private def blockOf(id: Long, p: Int): Int = {
    val h = java.lang.Long.hashCode(id) % p
    if (h < 0) h + p else h
  }

  /** Position of `id` in the sorted `ids`, which must contain it. */
  private def indexOf(ids: Array[Long], id: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, id)
    if (i < 0) throw new IllegalStateException(s"wcc: id $id is not in its block")
    i
  }

  /** Sort `keys(0 until m)` by (block(key), key), carrying `vals`; returns
    * the P+1 block offsets and the sorted copies.
    */
  private def sortByBlock(keys: Array[Long], vals: Array[Long], m: Int,
                          p: Int): (Array[Int], Array[Long], Array[Long]) = {
    sortPair(keys, vals, 0, m - 1)
    val offsets = new Array[Int](p + 1)
    var i = 0
    while (i < m) { offsets(blockOf(keys(i), p) + 1) += 1; i += 1 }
    i = 0
    while (i < p) { offsets(i + 1) += offsets(i); i += 1 }
    val pos = java.util.Arrays.copyOf(offsets, p)
    val k2 = new Array[Long](m)
    val v2 = new Array[Long](m)
    i = 0
    while (i < m) { // stable: keys stay sorted inside each block
      val b = blockOf(keys(i), p)
      k2(pos(b)) = keys(i); v2(pos(b)) = vals(i); pos(b) += 1
      i += 1
    }
    (offsets, k2, v2)
  }

  /** The de-duplicated run `keys(lo until hi)` (sorted) with the min value
    * of each key.
    */
  private def minRuns(keys: Array[Long], lo: Int, hi: Int)(value: Int => Long): (Array[Long], Array[Long]) = {
    val ks = new Array[Long](hi - lo)
    val vs = new Array[Long](hi - lo)
    var w = -1
    var k = lo
    while (k < hi) {
      val v = value(k)
      if (w >= 0 && ks(w) == keys(k)) { if (v < vs(w)) vs(w) = v }
      else { w += 1; ks(w) = keys(k); vs(w) = v }
      k += 1
    }
    (java.util.Arrays.copyOf(ks, w + 1), java.util.Arrays.copyOf(vs, w + 1))
  }

  /** Dual-array quicksort: sort `keys[lo..hi]` carrying `vals` along. */
  private def sortPair(keys: Array[Long], vals: Array[Long], lo: Int, hi: Int): Unit = {
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

  /** The distributed path of [[wcc]] over the persisted adjacency rows. */
  private def blockRounds(g: LinkGraph, adj: DataFrame, store: Option[CheckpointStore],
                          maxIter: Int): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val p = sc.defaultParallelism
    val part = new HashPartitioner(p)

    // build: key the rows by src (with numVertices, drop out-of-range edges,
    // keeping one per task for the message, and register 0..n-1 as loops),
    // one shuffle, then sort and index each block. It has no action of its
    // own: its stages run in the first round's job.
    val bad = sc.collectionAccumulator[(Long, Long)]("wcc out-of-range edge")
    val rows: RDD[(Long, Long)] = g.numVertices match {
      case None => adj.as[(Long, Long)].rdd
      case Some(n) =>
        adj.as[(Long, Long)].rdd.mapPartitions { it =>
          var first = true
          it.filter { case (s, t) =>
            val ok = inRange(n, s, t)
            if (!ok && first) { bad.add((s, t)); first = false }
            ok
          }
        }.union(sc.range(0L, n, 1L, p).map(v => (v, v)))
    }
    val blocks: RDD[WccBlock] = rows.partitionBy(part).mapPartitions({ it =>
      var src = new Array[Long](1024)
      var dst = new Array[Long](1024)
      var m = 0
      while (it.hasNext) {
        val (s, t) = it.next()
        if (m == src.length) { src = java.util.Arrays.copyOf(src, m * 2); dst = java.util.Arrays.copyOf(dst, m * 2) }
        src(m) = s; dst(m) = t; m += 1
      }
      // every vertex is the source of a row (the view is bidirected, and
      // loops are kept), so the sources are the block's vertex set
      val ids = java.util.Arrays.copyOf(src, m)
      java.util.Arrays.sort(ids)
      var nIds = 0
      var i = 0
      while (i < m) { if (nIds == 0 || ids(nIds - 1) != ids(i)) { ids(nIds) = ids(i); nIds += 1 }; i += 1 }
      val vids = java.util.Arrays.copyOf(ids, nIds)
      var k = 0
      i = 0
      while (i < m) { // loop-free edges, source as a local index
        if (src(i) != dst(i)) { dst(k) = dst(i); src(k) = java.util.Arrays.binarySearch(vids, src(i)); k += 1 }
        i += 1
      }
      val (offsets, dsts, srcs) = sortByBlock(dst, src, k, p)
      Iterator.single(WccBlock(vids, offsets, dsts, srcs.map(_.toInt)))
    }, preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK)

    def round(state: RDD[Labels]): (RDD[Labels], RDD[(Labels, Array[Long])]) = {
      // 1. min messages, one partial per destination block
      val msgs = blocks.zipPartitions(state) { (bit, sit) =>
        val blk = bit.next()
        val cur = sit.next()
        val off = blk.offsets
        (0 until p).iterator.filter(db => off(db + 1) > off(db)).map { db =>
          val (ids, vals) = minRuns(blk.dsts, off(db), off(db + 1))(k => cur.labels(blk.srcs(k)))
          (db, Pairs(cur.b, ids, vals))
        }
      }
      // 2. merge and update: L1 = min(L, msg)
      val l1 = state.zipPartitions(msgs.partitionBy(part)) { (sit, mit) =>
        val cur = sit.next()
        val out = cur.labels.clone()
        mit.foreach { case (_, m) =>
          var j = 0
          while (j < m.ids.length) {
            val i = indexOf(cur.ids, m.ids(j))
            if (m.vals(j) < out(i)) out(i) = m.vals(j)
            j += 1
          }
        }
        Iterator.single((cur, out))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      // 3. requests: ask L1(v)'s vertex for its label; a fallen label also
      // hooks the old label's vertex (Long.MaxValue = no hook)
      val reqs = l1.flatMap { case (cur, l1v) =>
        val ids = cur.ids
        val old = cur.labels
        val tg = new Array[Long](2 * ids.length)
        val hk = new Array[Long](2 * ids.length)
        var m = 0
        var i = 0
        while (i < ids.length) {
          if (l1v(i) != ids(i)) { tg(m) = l1v(i); hk(m) = Long.MaxValue; m += 1 }
          if (l1v(i) < old(i) && old(i) != ids(i)) { tg(m) = old(i); hk(m) = l1v(i); m += 1 }
          i += 1
        }
        val (off, ts, hs) = sortByBlock(tg, hk, m, p)
        (0 until p).iterator.filter(tb => off(tb + 1) > off(tb)).map { tb =>
          val (t, h) = minRuns(ts, off(tb), off(tb + 1))(k => hs(k))
          (tb, Pairs(cur.b, t, h))
        }
      }
      // the target answers min(L1(t), hooks to t), to each requester and,
      // for its own hooked vertices, to itself
      val ans = l1.zipPartitions(reqs.partitionBy(part)) { (lit, rit) =>
        val (cur, l1v) = lit.next()
        val in = rit.map(_._2).toArray
        val best = l1v.clone()
        in.foreach { r =>
          var j = 0
          while (j < r.ids.length) {
            if (r.vals(j) != Long.MaxValue) {
              val i = indexOf(cur.ids, r.ids(j))
              if (r.vals(j) < best(i)) best(i) = r.vals(j)
            }
            j += 1
          }
        }
        val hookedIds = Array.newBuilder[Long]
        val hookedVals = Array.newBuilder[Long]
        var i = 0
        while (i < best.length) {
          if (best(i) < l1v(i)) { hookedIds += cur.ids(i); hookedVals += best(i) }
          i += 1
        }
        val own = Pairs(-1, hookedIds.result(), hookedVals.result())
        in.iterator.map(r => (r.from, Pairs(cur.b, r.ids, r.ids.map(t => best(indexOf(cur.ids, t)))))) ++
          (if (own.ids.isEmpty) Iterator.empty else Iterator.single((cur.b, own)))
      }
      // 4. apply: L2(v) = min(L1(v), ans(L1(v)), ans(v))
      val next = l1.zipPartitions(ans.partitionBy(part)) { (lit, ait) =>
        val (cur, l1v) = lit.next()
        val from = new Array[Pairs](p)
        val out = l1v.clone()
        ait.foreach { case (_, a) =>
          if (a.from >= 0) from(a.from) = a
          else {
            var j = 0
            while (j < a.ids.length) {
              val i = indexOf(cur.ids, a.ids(j))
              if (a.vals(j) < out(i)) out(i) = a.vals(j)
              j += 1
            }
          }
        }
        var changed = 0L
        var i = 0
        while (i < out.length) {
          val t = l1v(i)
          if (t != cur.ids(i)) {
            val a = from(blockOf(t, p))
            val v = a.vals(indexOf(a.ids, t))
            if (v < out(i)) out(i) = v
          }
          if (out(i) != cur.labels(i)) changed += 1
          i += 1
        }
        Iterator.single(Labels(cur.b, cur.ids, out, changed))
      }
      (next, l1)
    }

    def labelsDF(state: RDD[Labels]): DataFrame =
      spark.createDataset(state.flatMap(l => l.ids.iterator.zip(l.labels.iterator))).toDF("id", "comp")

    // the starting labels are the ids themselves (rounds never write in place)
    var state: RDD[Labels] = blocks.mapPartitionsWithIndex(
      (b, it) => { val blk = it.next(); Iterator.single(Labels(b, blk.ids, blk.ids, 0L)) },
      preservesPartitioning = true)
    var changed = 1L
    var iter = 0
    try {
      while (changed > 0 && iter < maxIter) {
        val t0 = System.currentTimeMillis()
        val (next, l1) = round(state)
        next.persist(StorageLevel.MEMORY_AND_DISK)
        next.localCheckpoint()
        // the round's one action: it materializes `next`
        changed = next.map(_.changed).fold(0L)(_ + _)
        l1.unpersist(false)
        if (iter == 0) g.numVertices.foreach { n =>
          val first = bad.value
          if (!first.isEmpty) next.unpersist(false)
          require(first.isEmpty, outOfRange(n, first.get(0)._1, first.get(0)._2))
        }
        store.foreach { s => s.save(spark, iter + 1, labelsDF(next), t0); () }
        // `next` is materialized and cut from its lineage: the old state can go
        state.unpersist(false)
        state = next
        iter += 1
      }
    } finally blocks.unpersist(false)
    // silent truncation would be a wrong answer, not a slow one (ADVICE r01)
    if (changed != 0) state.unpersist(false)
    require(changed == 0, s"wcc did not converge in $maxIter rounds")
    labelsDF(state)
  }

  /** Max-id propagation to fixpoint over `edges` (src -> dst) WITH pointer
    * jumping: after each neighbor-max round, `color(v) <- max(color(v),
    * color(color(v)))`. The jump is sound for reachability colorings —
    * `color(v) = c` means c relates to v (reaches v / is reached by v, per
    * edge orientation) and `color(c) = d` means d relates to c, so d relates
    * to v by transitivity. Unlike [[wcc]] there is no hooking, so on some
    * id orders the rounds still grow with a chain's length (a directed
    * cycle with ids in order along it is one).
    */
  private def maxColor(verts: DataFrame, edges: DataFrame): DataFrame = {
    var colors = verts.select(col("id"), col("id").as("color"))
      .transform(graft.core.Lineage.cut)
    var changed = 1L
    while (changed > 0) {
      val msg = edges.join(colors, edges("src") === colors("id"))
        .groupBy(col("dst").as("id")).agg(max(col("color")).as("in_color"))
      val step1 = colors.join(msg, Seq("id"), "left")
        .select(col("id"),
          greatest(col("color"), coalesce(col("in_color"), col("color"))).as("color"),
          col("color").as("old"))
      val jump = step1.select(col("id").as("jid"), col("color").as("jcolor"))
      val step2 = step1.join(jump, step1("color") === jump("jid"), "left")
        .select(col("id"),
          greatest(col("color"), coalesce(col("jcolor"), col("color"))).as("color"),
          col("old"))
        .transform(graft.core.Lineage.cut)
      changed = step2.where(col("color") =!= col("old")).count()
      colors = step2.select("id", "color")
    }
    colors
  }

  /** SCC by forward+backward max-coloring with partition splitting.
    *
    * Per round: (1) one trim pass (no-in / no-out vertices are singleton
    * SCCs); (2) pointer-jumped max colorings `cf(v)` = max id reaching v and
    * `cb(v)` = max id reachable from v; (3) every class `{v : cf(v) = cb(v)
    * = c}` is EXACTLY the SCC of c — c reaches the class and the class
    * reaches c, so c itself is inside it — peel all such classes at once
    * (the SCC of the globally maximal id always qualifies, so every round
    * makes progress); (4) delete every edge whose endpoints disagree on the
    * (cf, cb) pair — SCC-mates share both colors, so no intra-SCC edge is
    * lost, and the remaining graph splits into independent subproblems that
    * all advance inside the same DataFrames on subsequent rounds.
    *
    * Expressed entirely as join/groupBy supersteps with lineage cuts. Exact;
    * matches the reference's `clusters(mode="strong")` up to relabeling.
    *
    * Scale note: chains — the O(n)-round worst case of the round-3 coloring
    * implementation (SCCChainSpec pins this) — now resolve in ~2 outer
    * rounds: the (cf, cb) pairs of a chain are all distinct, so the split
    * deletes every chain edge and the next trim pass clears the vertices
    * wholesale. The colorings inside a round are not O(log n): without
    * hooking, [[maxColor]]'s rounds grow with chain length on some id
    * orders (a directed cycle with ids in order along it is one).
    */
  def scc(g: LinkGraph, maxRounds: Int = 200): DataFrame = {
    require(g.directed, "scc requires a directed graph")
    val spark = g.spark
    var remainingV = g.vertices.transform(graft.core.Lineage.cut)
    var remainingE = g.weighted.select("src", "dst")
      .where(col("src") =!= col("dst")).distinct().transform(graft.core.Lineage.cut)
    var result = spark.emptyDataFrame
      .withColumn("id", lit(0L)).withColumn("comp", lit(0L)).limit(0)
    var rounds = 0

    while (remainingV.count() > 0 && rounds < maxRounds) {
      rounds += 1
      // --- trim (one pass): no in- or no out-edges => singleton SCC. The
      // coloring + split below handles chains of trivial vertices in bulk,
      // so a single pass suffices — no inner fixpoint loop.
      val hasOut = remainingE.select(col("src").as("id")).distinct()
      val hasIn = remainingE.select(col("dst").as("id")).distinct()
      val trivial = remainingV
        .join(hasOut, Seq("id"), "left_anti")
        .union(remainingV.join(hasIn, Seq("id"), "left_anti"))
        .distinct().transform(graft.core.Lineage.cut)
      if (!trivial.isEmpty) {
        result = result.union(trivial.select(col("id"), col("id").as("comp"))).transform(graft.core.Lineage.cut)
        remainingV = remainingV.join(trivial, Seq("id"), "left_anti").transform(graft.core.Lineage.cut)
        remainingE = remainingE
          .join(trivial.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
          .join(trivial.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
          .select("src", "dst").transform(graft.core.Lineage.cut)
      }
      if (remainingV.count() > 0) {
        val cf = maxColor(remainingV, remainingE)
        val cb = maxColor(remainingV,
          remainingE.select(col("dst").as("src"), col("src").as("dst")))
        val pairs = cf.join(cb.withColumnRenamed("color", "bcolor"), Seq("id"))
          .select(col("id"), col("color").as("cf"), col("bcolor").as("cb"))
          .transform(graft.core.Lineage.cut)
        // --- peel: cf == cb = c <=> v is in SCC(c)
        val done = pairs.where(col("cf") === col("cb"))
        val lbl = done.groupBy("cf").agg(min("id").as("comp"))
        val found = done.join(lbl, Seq("cf")).select(col("id"), col("comp"))
          .transform(graft.core.Lineage.cut)
        result = result.union(found).transform(graft.core.Lineage.cut)
        remainingV = remainingV.join(found.select("id"), Seq("id"), "left_anti")
          .transform(graft.core.Lineage.cut)
        // --- split: keep only edges whose endpoints share the (cf, cb) pair
        // (intra-SCC edges always do), minus anything touching a peeled SCC
        val sPairs = pairs.select(col("id").as("src"), col("cf").as("scf"), col("cb").as("scb"))
        val dPairs = pairs.select(col("id").as("dst"), col("cf").as("dcf"), col("cb").as("dcb"))
        remainingE = remainingE.join(sPairs, Seq("src")).join(dPairs, Seq("dst"))
          .where(col("scf") === col("dcf") && col("scb") === col("dcb"))
          .select("src", "dst")
          .join(found.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(found.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .transform(graft.core.Lineage.cut)
      }
    }
    // exhausting the round budget would mean a membership that's silently
    // missing vertices — refuse instead
    require(remainingV.count() == 0, s"scc did not converge in $maxRounds rounds")
    result
  }

  /** `decompose(mode, maxcompno, minelements)` (`graphobject.c:13258-13271`):
    * component subgraphs, largest first, capped at `maxCompNo`, components
    * below `minElements` dropped. The returned handles are lazy views onto
    * the shared labeled edge table — only the label/size aggregate runs here.
    */
  def decompose(g: LinkGraph, strong: Boolean = false,
                maxCompNo: Int = Int.MaxValue, minElements: Int = 1): Seq[LinkGraph] = {
    val labels = if (strong) scc(g) else wcc(g)
    val picked = labels.groupBy("comp").agg(count(lit(1)).as("sz"))
      .where(col("sz") >= minElements)
      .orderBy(col("sz").desc, col("comp")).limit(maxCompNo)
      .select("comp").collect().map(_.getLong(0))
    picked.toSeq.map { cid =>
      graft.core.GraphOps.inducedSubgraph(g, labels.where(col("comp") === cid).select("id"))
    }
  }

  /** Largest component's vertex set (the reference's `giant()`,
    * `clustering.py:411-428`).
    */
  def giant(g: LinkGraph): DataFrame = {
    val labels = wcc(g)
    val top = labels.groupBy("comp").agg(count(lit(1)).as("sz"))
      .orderBy(col("sz").desc, col("comp")).limit(1)
    labels.join(broadcast(top), Seq("comp")).select("id")
  }
}
