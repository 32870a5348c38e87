package graft.algos

import graft.core.{Lineage, LinkGraph, Mode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted single/multi-source shortest paths (non-negative weights,
  * 0-weight edges allowed).
  *
  * Reference: `shortest_paths(weights=...)` (`graphobject.c:13921`; golden
  * 10x10 matrix incl. 0-weight edges `test_structural.py:585-631`),
  * `get_shortest_paths(output=vpath)` parent tracking
  * (`graphobject.c:13522`; goldens `test_structural.py:633-644`).
  *
  * Distributed Bellman-Ford by rounds: relax every edge against the current
  * tentative-distance frontier, keep improvements, iterate to fixpoint.
  * Each round is one co-partitioned join + min-aggregate; rounds <= longest
  * shortest path's hop count. Negative weights are rejected (the reference
  * raises on them too for Dijkstra).
  */
object ShortestPaths {

  /** Tentative distances from every vertex in `sources`.
    * @return (origin, id, dist, parent) for reachable pairs; dist is Double.
    */
  def fromSources(g: LinkGraph, sources: Seq[Long], mode: Mode = Mode.Out): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val adj = (mode match {
      case Mode.Out => g.weighted
      case Mode.In  => g.weighted.select(col("dst").as("src"), col("src").as("dst"), col("weight"))
      case Mode.All => g.bidirected
    }).select(col("src"), col("dst"), col("weight"))
      .repartition(col("src")).persist()
    adj.count()
    // documented contract (and the reference's): negative weights rejected —
    // a negative cycle would spin the relax loop to the round cap and return
    // meaningless distances
    if (!adj.isEmpty) {
      val minW = adj.agg(min("weight")).head.getDouble(0)
      require(minW >= 0.0, s"negative edge weights not supported (min = $minW)")
    }

    var dist = sources.toDF("origin")
      .select(col("origin"), col("origin").as("id"), lit(0.0).as("dist"), lit(-1L).as("parent"))
      .transform(Lineage.cut)
    var frontier = dist
    var rounds = 0
    var active = true
    while (active && rounds < 10000) {
      rounds += 1
      // relax edges leaving the frontier
      val cand = frontier.join(adj, frontier("id") === adj("src"))
        .select(col("origin"), col("dst").as("id"),
          (col("dist") + col("weight")).as("nd"), frontier("id").as("np"))
        .groupBy("origin", "id")
        .agg(min(struct(col("nd"), col("np"))).as("best"))
        .select(col("origin"), col("id"), col("best.nd").as("nd"), col("best.np").as("np"))
      // improvements vs current best
      val improved = cand.join(dist.select(col("origin"), col("id"), col("dist").as("cur")),
        Seq("origin", "id"), "left")
        .where(col("cur").isNull || col("nd") < col("cur"))
        .select(col("origin"), col("id"), col("nd").as("dist"), col("np").as("parent"))
        .transform(Lineage.cut)
      if (improved.isEmpty) active = false
      else {
        dist = dist.join(improved.select(col("origin"), col("id")).withColumn("x", lit(1)),
          Seq("origin", "id"), "left_anti")
          .union(improved)
          .transform(Lineage.cut)
        frontier = improved
      }
    }
    adj.unpersist()
    dist
  }

  /** Distance matrix rows for the given sources; unreachable = +Infinity
    * (matches the reference's `inf`). Output (origin, id, dist).
    */
  def matrix(g: LinkGraph, sources: Seq[Long]): DataFrame = {
    val d = fromSources(g, sources)
    val all = g.spark.createDataFrame(
      for (o <- sources) yield Tuple1(o)).toDF("origin")
      .crossJoin(g.vertices)
    all.join(d.select("origin", "id", "dist"), Seq("origin", "id"), "left")
      .select(col("origin"), col("id"),
        coalesce(col("dist"), lit(Double.PositiveInfinity)).as("dist"))
  }

  /** `get_all_shortest_paths(v, to, weights, mode)`
    * (`graphobject.c:13546`; goldens `test_structural.py:646-702`): EVERY
    * shortest path from `source` to each target, as (target,
    * path array<long>) rows.
    *
    * Enumeration runs over the shortest-path parent DAG, not the graph: a
    * parent edge is any (u, v) with dist(u) + w(u,v) = dist(v), and paths
    * are grown backward from the targets one hop per round — each round is
    * one join of the live frontier against the parent DAG, so total work is
    * proportional to the number of (path, hop) pairs produced, bounded by
    * `maxPaths` (explosion fails loudly, never truncates silently).
    * Positive-weight graphs terminate because every hop strictly decreases
    * dist; a 0-weight CYCLE would make the path set infinite, so rounds are
    * also capped by the DAG's vertex count.
    */
  def allShortestPaths(g: LinkGraph, source: Long, targets: Seq[Long],
                       mode: Mode = Mode.Out, maxPaths: Long = 1000000L,
                       smallThreshold: Long = 4000000L): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val adj = (mode match {
      case Mode.Out => g.weighted
      case Mode.In  => g.weighted.select(col("dst").as("src"), col("src").as("dst"), col("weight"))
      case Mode.All => g.bidirected
    }).select(col("src"), col("dst"), col("weight")).persist()
    val nAdjRows = adj.count()

    // gated driver enumeration (the WCC/multiBfs posture): the distributed
    // formulation costs ~5 scheduled jobs per relax round PLUS ~5 per
    // backward hop (204 jobs on the 13-hop oracle fixture, StageProbe
    // q_allsp) while the whole adjacency fits in one task; under the gate a
    // driver Dijkstra + the identical parent-DAG walk (same relative
    // epsilon, same maxPaths / cycle guards) replaces both loops. Above the
    // gate the distributed path below is unchanged (spec-pinned).
    if (nAdjRows <= smallThreshold) {
      val rows = adj.collect()
      adj.unpersist()
      if (rows.nonEmpty)
        require(rows.map(_.getDouble(2)).min >= 0.0,
          s"negative edge weights not supported (min = ${rows.map(_.getDouble(2)).min})")
      val lg = graft.core.LocalGraph(rows, first = Array(source))
      val (ids, n) = (lg.ids, lg.n)
      val csr = lg.out(weighted = true)
      val (off, nbrs, ws) = (csr.off, csr.nbr, csr.w)
      val d = Array.fill(n)(Double.PositiveInfinity)
      val s0 = lg.slot(source); d(s0) = 0.0
      val pq = new java.util.PriorityQueue[(Double, Int)](
        (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
      pq.add((0.0, s0))
      while (!pq.isEmpty) {
        val (du, u) = pq.poll()
        if (du <= d(u)) {
          var j = off(u)
          while (j < off(u + 1)) {
            val v = nbrs(j); val nd = du + ws(j)
            if (nd < d(v)) { d(v) = nd; pq.add((nd, v)) }
            j += 1
          }
        }
      }
      // parent DAG: u -> v on a shortest path iff d(u) + w = d(v)
      // (identical relative epsilon to the distributed formulation)
      val pmap = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[Int]]()
      for (i <- 0 until lg.m) {
        val u = lg.src(i); val v = lg.dst(i); val w = lg.weight(i)
        if (d(u) < Double.PositiveInfinity && d(v) < Double.PositiveInfinity &&
            math.abs(d(u) + w - d(v)) <= 1e-9 * math.max(math.abs(d(v)), 1.0)) {
          val buf = pmap.computeIfAbsent(v, _ => scala.collection.mutable.ArrayBuffer.empty[Int])
          if (!buf.contains(u)) buf += u
        }
      }
      val reach = targets.distinct
        .filter(t => lg.contains(t) && d(lg.slot(t)) < Double.PositiveInfinity)
      val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
      var produced = 0L
      val capDepth = g.vcount() + 1
      // explicit stack: (target, head, path-so-far); List prepend shares tails
      val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, List[Long])]
      reach.foreach(t => stack += ((t, lg.slot(t), List(t))))
      while (stack.nonEmpty) {
        val (t, head, path) = stack.remove(stack.length - 1)
        if (head == s0) results += ((t, path))
        else {
          require(path.length <= capDepth,
            "allShortestPaths: 0-weight cycle on a shortest path — infinite path set")
          val ps = pmap.get(head)
          if (ps != null) ps.foreach { p =>
            produced += 1
            require(produced <= maxPaths,
              s"allShortestPaths: > $maxPaths partial paths — " +
                "the path set is combinatorial here; restrict targets or raise maxPaths")
            stack += ((t, p, ids(p) :: path))
          }
        }
      }
      return spark.createDataset(spark.sparkContext.parallelize(
        results.toSeq, spark.sparkContext.defaultParallelism))
        .toDF("target", "path")
    }

    val dist = fromSources(g, Seq(source), mode)
      .select(col("id"), col("dist")).persist()
    dist.count()
    // parent DAG: u -> v lies on a shortest path iff d(u) + w = d(v)
    // (relative epsilon for float weight sums)
    val parents = adj
      .join(dist.select(col("id").as("src"), col("dist").as("du")), Seq("src"))
      .join(dist.select(col("id").as("dst"), col("dist").as("dv")), Seq("dst"))
      .where(abs(col("du") + col("weight") - col("dv")) <= lit(1e-9) * greatest(abs(col("dv")), lit(1.0)))
      .select(col("dst").as("child"), col("src").as("parent"))
      .distinct()
      .persist()
    parents.count()
    adj.unpersist()
    val reachable = targets.distinct.toDF("target")
      .join(dist.withColumnRenamed("id", "target"), Seq("target"), "left_semi")

    // grow paths backward: (target, head, path); finished when head = source
    var live = reachable.select(col("target"), col("target").as("head"),
      array(col("target")).as("path")).transform(Lineage.cut)
    var done = live.where(col("head") === source).select("target", "path")
    live = live.where(col("head") =!= source)
    var rounds = 0
    val cap = g.vcount() + 1
    while (!live.isEmpty && rounds < cap) {
      rounds += 1
      live = live.join(parents, live("head") === parents("child"))
        .select(col("target"), col("parent").as("head"),
          concat(array(col("parent")), col("path")).as("path"))
        .transform(Lineage.cut)
      val n = live.count()
      require(n <= maxPaths,
        s"allShortestPaths: > $maxPaths live partial paths at hop $rounds — " +
          "the path set is combinatorial here; restrict targets or raise maxPaths")
      done = done.union(live.where(col("head") === source).select("target", "path"))
        .transform(Lineage.cut)
      live = live.where(col("head") =!= source)
    }
    require(rounds < cap, "allShortestPaths: 0-weight cycle on a shortest path — infinite path set")
    parents.unpersist(); dist.unpersist()
    done
  }

  /** `get_all_simple_paths(v, to, cutoff, mode)` (`graphobject.c:13567`;
    * goldens `test_structural.py:707-739`): every simple path source ->
    * target with at most `cutoff` edges (0 = no bound), as (target, path)
    * rows. Forward frontier extension with an `array_contains` simplicity
    * filter; inherently combinatorial (SURVEY P3), so `maxPaths` fails
    * loudly rather than truncating.
    */
  def allSimplePaths(g: LinkGraph, source: Long, targets: Seq[Long],
                     mode: Mode = Mode.Out, cutoff: Int = 0,
                     maxPaths: Long = 1000000L): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val adj = (mode match {
      case Mode.Out => g.weighted
      case Mode.In  => g.weighted.select(col("dst").as("src"), col("src").as("dst"), col("weight"))
      case Mode.All => g.bidirected
    }).select(col("src"), col("dst")).distinct().persist()
    adj.count()
    val tgt = targets.distinct.toDF("tid")
    val hops = if (cutoff > 0) cutoff else (g.vcount() - 1).toInt
    var live = spark.createDataFrame(Seq(Tuple2(source, Seq(source))))
      .toDF("head", "path").transform(Lineage.cut)
    var done = live.join(tgt, live("head") === tgt("tid"))
      .select(col("head").as("target"), col("path"))
    var rounds = 0
    while (!live.isEmpty && rounds < hops) {
      rounds += 1
      live = live.join(adj, live("head") === adj("src"))
        .where(!array_contains(col("path"), col("dst")))
        .select(col("dst").as("head"), concat(col("path"), array(col("dst"))).as("path"))
        .transform(Lineage.cut)
      val n = live.count()
      require(n <= maxPaths,
        s"allSimplePaths: > $maxPaths live partial paths at hop $rounds — " +
          "combinatorial blow-up; lower cutoff, restrict targets, or raise maxPaths")
      done = done.union(live.join(tgt, live("head") === tgt("tid"))
        .select(col("head").as("target"), col("path"))).transform(Lineage.cut)
    }
    adj.unpersist()
    done
  }

  /** Reconstruct the vertex path origin -> target by walking parents
    * (driver-side; paths are short). Returns empty if unreachable.
    */
  def path(g: LinkGraph, source: Long, target: Long, mode: Mode = Mode.Out): Seq[Long] = {
    val rows = fromSources(g, Seq(source), mode)
      .select("id", "parent").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (!rows.contains(target)) return Seq.empty
    val buf = scala.collection.mutable.ArrayBuffer(target)
    var cur = target
    while (cur != source && rows.getOrElse(cur, -1L) != -1L) {
      cur = rows(cur)
      buf += cur
    }
    buf.reverse.toSeq
  }
}
