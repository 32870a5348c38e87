package graft.algos

import graft.core.{Lineage, LinkGraph, Mode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Betweenness / edge-betweenness / closeness centrality — distributed
  * Brandes over the frontier-join shortest-path machinery.
  *
  * Reference: `betweenness` (`graphobject.c:3846`, registration 13124),
  * `edge_betweenness` (4681 / 13413), `closeness` (4198 / 13178); goldens
  * `tests/test_structural.py:239-266` (incl. cutoff and weighted variants).
  *
  * Algorithm (Brandes 2001, "A faster algorithm for betweenness
  * centrality", J. Math. Sociol. 25 — public):
  *  1. multi-source shortest-path relax loop → (origin, v, dist) state,
  *     all sources advance together, one join + min-aggregate per round;
  *  2. the shortest-path predecessor DAG is ONE three-way join:
  *     dag(origin, u, v) where dist(u) + w(u,v) = dist(v);
  *  3. path counts σ sweep the DAG by ascending distance level, one
  *     join+sum per level;
  *  4. dependencies δ sweep descending: δ(v) = Σ_succ σ(v)/σ(w)·(1+δ(w));
  *  5. B(v) = Σ_origins δ(origin, v), eb(u,v) = Σ σ(u)/σ(w)·(1+δ(w)) —
  *     halved on undirected graphs (each unordered pair counted from both
  *     endpoints).
  *
  * Scale: exact all-sources is O(n·m) work spread over level-synchronized
  * joins — right for bounded graphs / vertex subsets; at web scale pass a
  * sampled `sources` frame (the standard Brandes-sampling estimator:
  * results scale by n/|sources|). Rounds per sweep = #distinct distance
  * values (diameter for unweighted). Weighted mode requires strictly
  * positive weights (a 0-weight edge breaks the level ordering).
  */
object Betweenness {

  final case class BrandesTables(dist: DataFrame, sigma: DataFrame, delta: DataFrame, dag: DataFrame)

  /** Core Brandes sweep; returns the per-origin tables for the wrappers.
    * dist: (origin, v, dist) — double; sigma: (origin, v, sigma);
    * delta: (origin, v, delta); dag: (origin, u, v).
    */
  def brandesTables(
      g: LinkGraph,
      weighted: Boolean = false,
      cutoff: Option[Double] = None,
      sources: Option[DataFrame] = None
  ): BrandesTables = {
    val adjRaw = (if (g.directed) g.weighted else g.bidirected)
      .where(col("src") =!= col("dst"))
    val adj = (if (weighted) adjRaw.groupBy("src", "dst").agg(min("weight").as("w"))
               else adjRaw.select(col("src"), col("dst")).distinct().withColumn("w", lit(1.0)))
      .repartition(col("src")).persist()
    adj.count()
    if (weighted) {
      val minW = adj.agg(min("w")).head.getDouble(0)
      require(minW > 0.0, s"weighted betweenness needs strictly positive weights (min = $minW)")
    }

    // --- 1. multi-source relax loop -------------------------------------
    val srcDf = sources.getOrElse(g.vertices).select(col("id").as("origin"))
    var dist = srcDf.select(col("origin"), col("origin").as("v"), lit(0.0).as("dist"))
      .transform(Lineage.cut)
    var frontier = dist
    var active = true
    while (active) {
      var cand = frontier.join(adj, frontier("v") === adj("src"))
        .select(col("origin"), col("dst").as("v"), (col("dist") + col("w")).as("nd"))
        .groupBy("origin", "v").agg(min("nd").as("nd"))
      cutoff.foreach(c => cand = cand.where(col("nd") <= c))
      val improved = cand.join(dist.select(col("origin"), col("v"), col("dist").as("cur")),
        Seq("origin", "v"), "left")
        .where(col("cur").isNull || col("nd") < col("cur"))
        .select(col("origin"), col("v"), col("nd").as("dist"))
        .transform(Lineage.cut)
      if (improved.isEmpty) active = false
      else {
        dist = dist.join(improved.select("origin", "v"), Seq("origin", "v"), "left_anti")
          .union(improved).transform(Lineage.cut)
        frontier = improved
      }
    }

    // --- 2. predecessor DAG ----------------------------------------------
    val du = dist.select(col("origin"), col("v").as("u"), col("dist").as("d_u"))
    val dv = dist.select(col("origin"), col("v"), col("dist").as("d_v"))
    val dag = du.join(adj, du("u") === adj("src"))
      .select(col("origin"), col("u"), col("dst").as("v"), (col("d_u") + col("w")).as("via"))
      .join(dv, Seq("origin", "v"))
      .where(abs(col("via") - col("d_v")) < 1e-9)
      .select("origin", "u", "v")
      .transform(Lineage.cut)
    adj.unpersist()

    // Per-origin DAG levels: dense_rank of distance WITHIN each origin
    // (partitioned window, never global). Any per-origin topological order
    // of the shortest-path DAG is valid for the σ/δ sweeps; ranking within
    // origin bounds the sweep count by max distinct distances FROM ONE
    // origin (≤ n−1) instead of global distinct distance values (≈ #pairs
    // on weighted graphs — the round-2 scale-killer).
    val wLvl = org.apache.spark.sql.expressions.Window.partitionBy("origin").orderBy("dist")
    val distL = dist.withColumn("lvl", dense_rank().over(wLvl)).persist()
    val maxLvl = distL.agg(max("lvl")).head.getInt(0)
    lastLevelCount = maxLvl
    require(maxLvl.toLong <= g.vcount(),
      s"Brandes level count $maxLvl exceeds vertex count — per-origin ranking broken")

    // --- 3. σ by ascending level ------------------------------------------
    var sigma = distL.where(col("lvl") === 1)
      .select(col("origin"), col("v"), lit(1.0).as("sigma"))
      .transform(Lineage.cut)
    for (l <- 2 to maxLvl) {
      val atL = distL.where(col("lvl") === l).select("origin", "v")
      val s = dag.join(atL, Seq("origin", "v"), "left_semi")
        .join(sigma.select(col("origin"), col("v").as("u"), col("sigma").as("s_u")), Seq("origin", "u"))
        .groupBy("origin", "v").agg(sum("s_u").as("sigma"))
      sigma = sigma.union(s.select("origin", "v", "sigma")).transform(Lineage.cut)
    }

    // --- 4. δ by descending level -----------------------------------------
    var delta = dist.limit(0).select(col("origin"), col("v"), col("dist").as("delta"))
    for (l <- maxLvl to 2 by -1) { // level-1 vertices (the origins) get δ but send nothing
      val wAtL = distL.where(col("lvl") === l).select("origin", "v")
      val wDelta = wAtL.join(delta, Seq("origin", "v"), "left")
        .select(col("origin"), col("v"), coalesce(col("delta"), lit(0.0)).as("d_w"))
      val contrib = dag.join(wDelta, Seq("origin", "v"))
        .join(sigma.select(col("origin"), col("v").as("u"), col("sigma").as("s_u")), Seq("origin", "u"))
        .join(sigma.select(col("origin"), col("v"), col("sigma").as("s_w")), Seq("origin", "v"))
        .select(col("origin"), col("u").as("v"), (col("s_u") / col("s_w") * (lit(1.0) + col("d_w"))).as("c"))
        .groupBy("origin", "v").agg(sum("c").as("inc"))
      delta = delta.join(contrib, Seq("origin", "v"), "full")
        .select(col("origin"), col("v"),
          (coalesce(col("delta"), lit(0.0)) + coalesce(col("inc"), lit(0.0))).as("delta"))
        .transform(Lineage.cut)
    }
    distL.unpersist()

    BrandesTables(dist, sigma, delta, dag)
  }

  /** Sweep-level count of the last [[brandesTables]] call (diagnostics /
    * tests: must stay ≤ n, never ≈ #(origin,v) pairs on weighted graphs).
    */
  @volatile private[graft] var lastLevelCount: Int = 0

  /** Gated driver Brandes (2001) over the collected adjacency — the
    * WCC/multiBfs posture for the O(n·m) exact sweep, which is only ever
    * run on bounded inputs anyway. Returns raw (unscaled) per-vertex deltas
    * and per-DAG-edge contributions, or None above the gate (the
    * distributed level-sweep machinery then runs unchanged, pinned by the
    * smallThreshold=0 parity spec). FP summation order differs from the
    * distributed sweep in the last ulps — the same class of difference the
    * DuckDB oracle already absorbs at its 4-decimal rounding.
    */
  private def brandesKernel(g: LinkGraph, smallThreshold: Long)
      : Option[(Array[(Long, Double)], java.util.HashMap[(Long, Long), Double])] = {
    val adjDf = (if (g.directed) g.weighted else g.bidirected)
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val rows = adjDf.limit((smallThreshold + 1).toInt).collect()
    if (rows.length > smallThreshold) return None
    val lg = graft.core.LocalGraph(rows)
    val (ids, n) = (lg.ids, lg.n)
    val csr = lg.out()
    val (off, nbrs) = (csr.off, csr.nbr)
    val vb = new Array[Double](n)
    val eb = new java.util.HashMap[(Long, Long), Double]()
    val dist = new Array[Int](n); val sigma = new Array[Double](n)
    val delta = new Array[Double](n); val order = new Array[Int](n)
    val queue = new Array[Int](n)
    val predHead = new Array[Int](n)   // per-vertex pred list head into predEdge
    val predNext = new Array[Int](rows.length)
    val predFrom = new Array[Int](rows.length)
    var s = 0
    while (s < n) {
      java.util.Arrays.fill(dist, -1); java.util.Arrays.fill(sigma, 0.0)
      java.util.Arrays.fill(delta, 0.0); java.util.Arrays.fill(predHead, -1)
      var predCnt = 0
      dist(s) = 0; sigma(s) = 1.0
      var head = 0; var tail = 0; var ordCnt = 0
      queue(tail) = s; tail += 1
      while (head < tail) {
        val u = queue(head); head += 1
        order(ordCnt) = u; ordCnt += 1
        var j = off(u)
        while (j < off(u + 1)) {
          val w = nbrs(j)
          if (dist(w) < 0) { dist(w) = dist(u) + 1; queue(tail) = w; tail += 1 }
          if (dist(w) == dist(u) + 1) {
            sigma(w) += sigma(u)
            predFrom(predCnt) = u; predNext(predCnt) = predHead(w)
            predHead(w) = predCnt; predCnt += 1
          }
          j += 1
        }
      }
      var k = ordCnt - 1
      while (k >= 0) {
        val w = order(k)
        var p = predHead(w)
        while (p >= 0) {
          val u = predFrom(p)
          val c = sigma(u) / sigma(w) * (1.0 + delta(w))
          delta(u) += c
          val key = if (g.directed) (ids(u), ids(w))
                    else (math.min(ids(u), ids(w)), math.max(ids(u), ids(w)))
          eb.merge(key, c, java.lang.Double.sum)
          p = predNext(p)
        }
        if (w != s) vb(w) += delta(w)
        k -= 1
      }
      s += 1
    }
    Some((ids.indices.map(i => (ids(i), vb(i))).toArray, eb))
  }

  /** Per-vertex betweenness (id, betweenness). Exact when `sources` is None. */
  def vertexBetweenness(
      g: LinkGraph,
      weighted: Boolean = false,
      cutoff: Option[Double] = None,
      sources: Option[DataFrame] = None,
      smallThreshold: Long = 8000000L
  ): DataFrame = {
    val scale = if (g.directed) 1.0 else 0.5
    if (!weighted && cutoff.isEmpty && sources.isEmpty) {
      brandesKernel(g, smallThreshold).foreach { case (vb, _) =>
        val spark = g.spark
        import spark.implicits._
        val raw = spark.createDataset(spark.sparkContext.parallelize(
          vb.toSeq, math.max(1, spark.sparkContext.defaultParallelism / 4))).toDF("id", "b")
        return g.vertices.join(raw, Seq("id"), "left")
          .select(col("id"), (coalesce(col("b"), lit(0.0)) * scale).as("betweenness"))
      }
    }
    val t = brandesTables(g, weighted, cutoff, sources)
    val raw = t.delta.where(col("origin") =!= col("v"))
      .groupBy(col("v").as("id")).agg(sum("delta").as("b"))
    g.vertices.join(raw, Seq("id"), "left")
      .select(col("id"), (coalesce(col("b"), lit(0.0)) * scale).as("betweenness"))
  }

  /** Per-edge betweenness. Undirected output is canonical (src < dst);
    * directed output follows edge direction. Edges on no shortest path
    * (never in any predecessor DAG) get 0 via the left join to the edge set.
    */
  def edgeBetweenness(
      g: LinkGraph,
      weighted: Boolean = false,
      cutoff: Option[Double] = None,
      sources: Option[DataFrame] = None,
      smallThreshold: Long = 8000000L
  ): DataFrame = {
    if (!weighted && cutoff.isEmpty && sources.isEmpty) {
      brandesKernel(g, smallThreshold).foreach { case (_, eb) =>
        val spark = g.spark
        import spark.implicits._
        val scale = if (g.directed) 1.0 else 0.5
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        eb.forEach((k, v) => buf += ((k._1, k._2, v * scale)))
        val agg = spark.createDataset(spark.sparkContext.parallelize(
          buf.toSeq, math.max(1, spark.sparkContext.defaultParallelism / 4)))
          .toDF("src", "dst", "betweenness")
        val edgeSet =
          if (g.directed) g.weighted.select("src", "dst").where(col("src") =!= col("dst")).distinct()
          else g.weighted.where(col("src") =!= col("dst"))
            .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst")).distinct()
        return edgeSet.join(agg, Seq("src", "dst"), "left")
          .select(col("src"), col("dst"), coalesce(col("betweenness"), lit(0.0)).as("betweenness"))
      }
    }
    val t = brandesTables(g, weighted, cutoff, sources)
    val wDelta = t.dag
      .join(t.delta, Seq("origin", "v"), "left")
      .select(col("origin"), col("u"), col("v"), coalesce(col("delta"), lit(0.0)).as("d_w"))
    val contrib = wDelta
      .join(t.sigma.select(col("origin"), col("v").as("u"), col("sigma").as("s_u")), Seq("origin", "u"))
      .join(t.sigma.select(col("origin"), col("v"), col("sigma").as("s_w")), Seq("origin", "v"))
      .select(col("origin"), col("u"), col("v"), (col("s_u") / col("s_w") * (lit(1.0) + col("d_w"))).as("c"))
    val (canon, scale) =
      if (g.directed) (contrib.select(col("u").as("src"), col("v").as("dst"), col("c")), 1.0)
      else (contrib.select(least(col("u"), col("v")).as("src"), greatest(col("u"), col("v")).as("dst"), col("c")), 0.5)
    val agg = canon.groupBy("src", "dst").agg((sum("c") * scale).as("betweenness"))
    val edgeSet =
      if (g.directed) g.weighted.select("src", "dst").where(col("src") =!= col("dst")).distinct()
      else g.weighted.where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst")).distinct()
    edgeSet.join(agg, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), coalesce(col("betweenness"), lit(0.0)).as("betweenness"))
  }

  /** Closeness centrality (id, closeness): reachable/Σdist over vertices at
    * finite (≤ cutoff) distance — igraph's disconnected-graph convention
    * (per-vertex underestimate, `graphobject.c:13177-13208`). Vertices that
    * reach nothing get NaN (igraph returns NaN there too). `mode` governs
    * distance direction (Out = distances from v along edges); undirected
    * graphs use All.
    *
    * Under the [[Distances.distanceSums]] gate this is a projection of its
    * per-vertex fold, a local n-row frame from one collect; above it, one
    * aggregate over the distributed [[distanceTable]] (pinned against the
    * fold by the `smallThreshold = 0` spec).
    */
  def closeness(
      g: LinkGraph,
      weighted: Boolean = false,
      cutoff: Option[Double] = None,
      mode: Mode = Mode.All,
      smallThreshold: Long = 8000000L
  ): DataFrame = {
    val effMode = if (!g.directed) Mode.All else mode
    Distances.distanceSums(g, effMode, weighted, cutoff, smallThreshold) match {
      case Some(sums) =>
        val spark = g.spark
        import spark.implicits._
        sums.toSeq.map(s => (s.id, if (s.reached == 0) Double.NaN else s.reached / s.sumDist))
          .toDF("id", "closeness")
      case None =>
        val agg = distanceTable(g, weighted, cutoff, effMode, g.vcount()).where(col("dist") > 0)
          .groupBy(col("origin").as("id"))
          .agg(count(lit(1)).cast("double").as("reached"), sum("dist").as("sumd"))
        g.vertices.join(agg, Seq("id"), "left")
          .select(col("id"),
            when(col("reached").isNull, lit(Double.NaN))
              .otherwise(col("reached") / col("sumd")).as("closeness"))
    }
  }

  /** `harmonic_centrality` (`graphobject.c:4274-4300`; goldens
    * `test_structural.py:358-387`): mean of 1/d(v, u) over all other
    * vertices (unreachable contribute 0). Same two paths as [[closeness]]:
    * a projection of the [[Distances.distanceSums]] fold under its gate,
    * else one aggregate over the distributed [[distanceTable]].
    */
  def harmonicCentrality(
      g: LinkGraph,
      weighted: Boolean = false,
      cutoff: Option[Double] = None,
      mode: Mode = Mode.All,
      smallThreshold: Long = 8000000L
  ): DataFrame = {
    val effMode = if (!g.directed) Mode.All else mode
    Distances.distanceSums(g, effMode, weighted, cutoff, smallThreshold) match {
      case Some(sums) =>
        val spark = g.spark
        import spark.implicits._
        val norm = math.max(1L, sums.length - 1L).toDouble
        sums.toSeq.map(s => (s.id, s.sumInvDist / norm)).toDF("id", "harmonic")
      case None =>
        val n = g.vcount()
        val agg = distanceTable(g, weighted, cutoff, effMode, n).where(col("dist") > 0)
          .groupBy(col("origin").as("id"))
          .agg(sum(lit(1.0) / col("dist")).as("s"))
        g.vertices.join(agg, Seq("id"), "left")
          .select(col("id"),
            (coalesce(col("s"), lit(0.0)) / lit(math.max(1L, n - 1).toDouble)).as("harmonic"))
    }
  }

  /** The distributed multi-source distance table (origin, v, dist: double)
    * from all `n` vertices for closeness / harmonic above the
    * [[Distances.distanceSums]] gate: the layered BFS of
    * [[Distances.multiBfs]] (unweighted) or the relax loop of
    * [[Distances.multiDistancesWeighted]] (weighted), not the full
    * [[brandesTables]] machinery, which builds the O(n·m) shortest-path DAG
    * these never read. `cutoff` as a post-filter is equivalent to pruning
    * during the sweep: every prefix of a ≤-cutoff shortest path is itself
    * ≤ cutoff.
    */
  private def distanceTable(g: LinkGraph, weighted: Boolean, cutoff: Option[Double],
                            mode: Mode, n: Long): DataFrame = {
    val d =
      if (weighted) {
        Distances.guardAllOrigins(n, "exact weighted distance sweep")
        Distances.relaxLoop(g, mode, g.vertices)
      } else {
        Distances.guardAllOrigins(n, "exact BFS")
        Distances.bfsLoop(g, mode, g.vertices)
          .select(col("origin"), col("v"), col("dist").cast("double").as("dist"))
      }
    cutoff.map(c => d.where(col("dist") <= c)).getOrElse(d)
  }
}
