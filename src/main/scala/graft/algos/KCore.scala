package graft.algos

import graft.core.LinkGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-core decomposition: per-vertex coreness and the k-core subgraph.
  *
  * Reference: `coreness(mode)` / `k_core(k)` (`graphobject.c:15871-15885`,
  * `__init__.py:1512-1548`); goldens coreness [3,3,3,3,1,1,1,2,1,2,2] and
  * k_core(3) == K4 (`test_decomposition.py:47-73`,
  * `test_structural.py:435-437`).
  *
  * Distributed algorithm: h-index fixpoint (Montresor, De Pellegrini &
  * Miorandi, "Distributed k-core decomposition", IEEE TPDS 24(2), 2013 —
  * public). Start from core(v) = deg(v); repeatedly set core(v) to the
  * h-index of its neighbors' current core estimates (the largest h such
  * that ≥ h neighbors have core ≥ h, capped at the current estimate).
  * The sequence is monotonically non-increasing and converges to the exact
  * coreness in a number of rounds bounded by the peel depth in practice
  * (tens of rounds on web graphs) — versus the naive peel's
  * O(max-coreness × peel-passes) sequential supersteps. One join + two
  * aggregates per round; the only window is partitioned per vertex
  * (≤ #distinct neighbor-core values ≤ degree rows per partition key).
  */
object KCore {

  /** (id, coreness) for every vertex (isolated vertices get 0). */
  def coreness(g: LinkGraph, smallThreshold: Long = 8000000L): DataFrame = {
    val adj = g.bidirected.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .select(col("src").as("v"), col("dst").as("nbr"))
      .repartition(col("nbr")).persist() // partitioned by the FIRST per-round
      // join key: each h-index round joins neighbor core estimates on `nbr`,
      // so the cached partitioning is reused and the round's only O(2|E|)
      // shuffle is the joined frame moving to `v` for the own-core cap +
      // h-index aggregate (which then reuse that v-partitioning)
    val nEdges = adj.count()

    // adaptive small-input fast path (the WCC posture: decided by a runtime
    // COUNT, never by assumption). The h-index fixpoint needs tens of
    // rounds — ~6 scheduled jobs each — on a graph that fits in one task;
    // under the gate one collect + Batagelj-Zaveršnik bucket peel (exact
    // coreness, O(E), the same value the fixpoint converges to) replaces
    // ~350 jobs with 3 (StageProbe, sf0.1 q_kcore). The default gate is 8M
    // adjacency rows ≈ 128 MB collected — one healthy shuffle partition's
    // worth, and a graph the single-machine reference peels instantly.
    // Above the gate — any real web-scale run — the frontier loop below is
    // unchanged (and pinned by the smallThreshold=0 spec).
    if (nEdges <= smallThreshold) {
      val spark = g.spark
      import spark.implicits._
      // the pairs are symmetric, so every vertex is a src and its out-degree
      // in the CSR of the collected pairs is its degree
      val lg = graft.core.LocalGraph.collect(adj, None)
      adj.unpersist()
      val (ids, n) = (lg.ids, lg.n)
      val csr = lg.out()
      val (off, nbrs) = (csr.off, csr.nbr)
      val deg0 = Array.tabulate(n)(i => off(i + 1) - off(i))
      // Batagelj-Zaveršnik bucket peel in nondecreasing-degree order
      val maxDeg = if (n == 0) 0 else deg0.max
      val bin = new Array[Int](maxDeg + 2)
      deg0.foreach(d => bin(d) += 1)
      var start = 0
      var d = 0
      while (d <= maxDeg) { val c = bin(d); bin(d) = start; start += c; d += 1 }
      val vert = new Array[Int](n); val pos = new Array[Int](n)
      val dcur = deg0.clone()
      var i = 0
      while (i < n) { pos(i) = bin(dcur(i)); vert(pos(i)) = i; bin(dcur(i)) += 1; i += 1 }
      d = maxDeg
      while (d >= 1) { bin(d) = bin(d - 1); d -= 1 }
      bin(0) = 0
      var k = 0
      while (k < n) {
        val v = vert(k)
        var j = off(v)
        while (j < off(v + 1)) {
          val u = nbrs(j)
          if (dcur(u) > dcur(v)) { // move u one bucket down
            val du = dcur(u); val pu = pos(u)
            val pw = bin(du); val vw = vert(pw)
            if (u != vw) { pos(u) = pw; vert(pu) = vw; pos(vw) = pu; vert(pw) = u }
            bin(du) += 1; dcur(u) = du - 1
          }
          j += 1
        }
        k += 1
      }
      // parallelize, don't toDF: a driver Seq toDF embeds an up-to-8M-row
      // LocalRelation into the downstream join plan (same rule as multiBfs)
      val coreDf = spark.createDataset(spark.sparkContext.parallelize(
        ids.indices.map(i2 => (ids(i2), dcur(i2).toLong)))).toDF("id", "coreness")
      return g.vertices.join(coreDf, Seq("id"), "left")
        .select(col("id"), coalesce(col("coreness"), lit(0L)).as("coreness"))
    }

    // second persisted copy partitioned by `v`: the frontier restriction
    // below needs "all edges of the touched vertices" — a semi-join on `v` —
    // which this copy answers without re-shuffling the edge frame
    val adjByV = adj.repartition(col("v")).persist()
    val deg = adj.groupBy("v").agg(count(lit(1)).as("core"))

    var core = deg.transform(graft.core.Lineage.cut)
    // change-propagation frontier (Montresor et al. §IV): a vertex can only
    // lower its h-index when some NEIGHBOR's estimate dropped last round, so
    // each round recomputes h only for neighbors-of-changed — per-round
    // shuffle shrinks with the frontier (the bulk of the fixpoint's rounds
    // touch a small tail of the graph) instead of staying O(2|E|) for every
    // round. Round 1 starts with every vertex changed (estimate = degree).
    var changedV = core.select(col("v"))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      require(rounds <= 1000, s"h-index coreness failed to converge in $rounds rounds")
      // vertices with >= 1 changed neighbor (adj's nbr-partitioning reused;
      // the frontier side is the small one)
      val touched = adj.join(changedV.select(col("v").as("nbr")), Seq("nbr"))
        .select(col("v")).distinct()
      // all edges of touched vertices (adjByV partitioning reused), then
      // neighbor core estimates, capped at own estimate (h-index ≤ own core)
      val capped = adjByV.join(touched, Seq("v"), "left_semi")
        .join(core.select(col("v").as("nbr"), col("core").as("nc")), Seq("nbr"))
        .join(core, Seq("v"))
        .select(col("v"), least(col("nc"), col("core")).as("c"))
        .groupBy("v", "c").agg(count(lit(1)).as("cnt"))
      // ge(c) = #neighbors with capped value >= c (descending running sum);
      // h-index = max over distinct values c of min(c, ge(c))
      val w = Window.partitionBy("v").orderBy(col("c").desc)
      val h = capped
        .withColumn("ge", sum("cnt").over(w))
        .groupBy("v").agg(max(least(col("c"), col("ge"))).as("h"))
      // old estimate rides as a column: the convergence count is a scan of
      // the checkpointed frame, not a shuffle join per round
      // untouched vertices have no h row this round and KEEP their estimate
      val next = core.join(h, Seq("v"), "left")
        .select(col("v"), coalesce(col("h"), col("core")).as("core"), col("core").as("old"))
        .transform(graft.core.Lineage.cut)
      changed = next.where(col("core") =!= col("old")).count()
      changedV = next.where(col("core") =!= col("old")).select("v")
      core = next.select("v", "core")
    }
    adj.unpersist()
    adjByV.unpersist()
    g.vertices.join(core.select(col("v").as("id"), col("core")), Seq("id"), "left")
      .select(col("id"), coalesce(col("core"), lit(0L)).as("coreness"))
  }

  /** Vertex set of the k-core (max subgraph with min degree >= k). */
  def kCoreVertices(g: LinkGraph, k: Int): DataFrame =
    coreness(g).where(col("coreness") >= k).select("id")

  /** Edge set of the k-core subgraph (ids preserved). */
  def kCore(g: LinkGraph, k: Int): LinkGraph =
    graft.core.GraphOps.inducedSubgraph(g, kCoreVertices(g, k))
}
