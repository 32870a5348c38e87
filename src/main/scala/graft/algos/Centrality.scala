package graft.algos

import graft.core.{Lineage, LinkGraph, LocalGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spectral centralities by power iteration on the same message-passing
  * engine as PageRank.
  *
  * Reference: `eigenvector_centrality(scale=True)` (`graphobject.c:13457`;
  * ARPACK in the reference, `arpackobject.c` — power iteration here, same
  * fixpoint), `hub_score`/`authority_score` HITS (`graphobject.c:13602,
  * 13106`). Goldens: Star(11) evcent max 1.0 at hub, leaf/hub ratio 0.3162,
  * eigenvalue 3.162 (`test_structural.py:406-417`).
  */
object Centrality {

  final case class Spectral(scores: DataFrame, eigenvalue: Double, iterations: Int)

  /** Eigenvector centrality on the undirected (or out-) adjacency; scaled so
    * max = 1 like the reference default.
    *
    * Power iteration runs on (A + I): bipartite graphs (e.g. stars) have
    * eigenvalues ±λ1, so unshifted iteration oscillates with period 2; the
    * +I shift preserves eigenvectors and separates |λ1 + 1| > |−λ1 + 1|.
    * Reported eigenvalue = ||(A+I)x|| − 1.
    */
  /** @param fixedIters run exactly this many iterations and skip the
    *                    convergence delta (the oracle-mirrored mode).
    */
  def eigenvector(g: LinkGraph, tol: Double = 1e-9, maxIter: Int = 200,
                  fixedIters: Option[Int] = None,
                  smallThreshold: Long = 8000000L): Spectral = {
    val shift = 1.0
    // Gated driver kernel for the fixed-iteration mode (r6; the PageRank/
    // LPA kernel posture): 20 supersteps x ~3 scheduled jobs on a
    // gate-sized graph is pure driver overhead. Identical math — (A+I)
    // power step, L2 normalization, ||y||==0 early exit, final max-abs
    // scaling; per-sum IEEE order differs exactly as between two
    // distributed runs, parity spec pins 1e-9. Convergence mode stays
    // distributed at every size.
    if (fixedIters.isDefined && g.numVertices.forall(_ <= smallThreshold)) {
      val eDf = g.bidirected.select(col("src"), col("dst"), col("weight"))
      if (eDf.count() <= smallThreshold) {
        val spark = g.spark
        import spark.implicits._
        val lg = LocalGraph.collect(eDf, g.numVertices)
        val (vids, n, src, dst, w) = (lg.ids, lg.n, lg.src, lg.dst, lg.weight)
        var x = Array.fill(n)(1.0 / math.sqrt(n.toDouble))
        var lambda = 0.0
        var iter = 0
        val cap = fixedIters.get
        var broke = false
        while (iter < cap && !broke) {
          val y = new Array[Double](n)
          var j = 0
          while (j < lg.m) { y(dst(j)) += w(j) * x(src(j)); j += 1 }
          var v = 0
          while (v < n) { y(v) += shift * x(v); v += 1 }
          var n2 = 0.0
          v = 0
          while (v < n) { n2 += y(v) * y(v); v += 1 }
          val norm = math.sqrt(n2)
          if (norm == 0.0) { iter = cap; broke = true } // zero vector: no edges
          else {
            lambda = norm - shift
            v = 0
            while (v < n) { y(v) /= norm; v += 1 }
            x = y
            iter += 1
          }
        }
        var mx = 0.0
        var v = 0
        while (v < n) { if (math.abs(x(v)) > mx) mx = math.abs(x(v)); v += 1 }
        val scaled =
          if (mx == 0.0) vids.indices.map(i2 => (vids(i2), x(i2)))
          else vids.indices.map(i2 => (vids(i2), math.abs(x(i2)) / mx))
        val df = spark.createDataset(spark.sparkContext.parallelize(scaled.toSeq,
          spark.sparkContext.defaultParallelism)).toDF("id", "centrality")
        return Spectral(df, lambda, iter)
      }
    }
    val adj = g.bidirected.select(col("src"), col("dst"), col("weight"))
      .repartition(col("src")).persist()
    adj.count()
    val vertices = g.vertices.localCheckpoint(true)
    val n = vertices.count()
    var x = vertices.select(col("id"), lit(1.0 / math.sqrt(n.toDouble)).as("v"))
      .transform(Lineage.cut)
    var lambda = 0.0
    var iter = 0
    var delta = Double.MaxValue
    val cap = fixedIters.getOrElse(maxIter)
    while (iter < cap && (fixedIters.isDefined || delta > tol)) {
      val y = adj.join(x, adj("src") === x("id"))
        .groupBy(col("dst").as("id")).agg(sum(col("weight") * col("v")).as("y"))
      // previous value rides as `old` (x is already joined for the shift
      // term) so the convergence delta is a scan, not a join per iteration
      val yAll = vertices.join(y, Seq("id"), "left").join(x, Seq("id"))
        .select(col("id"), (coalesce(col("y"), lit(0.0)) + lit(shift) * col("v")).as("y"),
          col("v").as("old"))
        .transform(Lineage.cut)
      val norm = math.sqrt(yAll.agg(sum(col("y") * col("y"))).head.getDouble(0))
      if (norm == 0.0) { iter = cap; delta = 0.0 } // zero vector: no edges
      else {
        lambda = norm - shift // ||(A+I)x|| with ||x||=1 -> λ1 + shift
        if (fixedIters.isEmpty)
          delta = yAll.agg(max(abs(col("y") / norm - col("old")))).head.getDouble(0)
        x = yAll.select(col("id"), (col("y") / norm).as("v")).transform(Lineage.cut)
        iter += 1
      }
    }
    adj.unpersist()
    val mx = x.agg(max(abs(col("v")))).head.getDouble(0)
    val scaled =
      if (mx == 0.0) x.select(col("id"), col("v").as("centrality"))
      else x.select(col("id"), (abs(col("v")) / mx).as("centrality"))
    Spectral(scaled, lambda, iter)
  }

  /** HITS hubs & authorities (alternating power iteration), both scaled to
    * max = 1. Returns (id, hub, authority).
    */
  def hits(g: LinkGraph, tol: Double = 1e-9, maxIter: Int = 100,
           fixedIters: Option[Int] = None,
           smallThreshold: Long = 8000000L): DataFrame = {
    // gated driver kernel, fixed-iteration mode only (see eigenvector):
    // identical alternating updates — authority from in-neighbor hubs, L2
    // normalize (zero norm -> divide by 1), hub from out-neighbor
    // authorities, final per-column max scaling
    if (fixedIters.isDefined && g.numVertices.forall(_ <= smallThreshold)) {
      val eDf = (if (g.directed) g.weighted else g.bidirected)
        .select(col("src"), col("dst"), col("weight"))
      if (eDf.count() <= smallThreshold) {
        val spark = g.spark
        import spark.implicits._
        val lg = LocalGraph.collect(eDf, g.numVertices)
        val (vids, n, src, dst, w) = (lg.ids, lg.n, lg.src, lg.dst, lg.weight)
        var hub = Array.fill(n)(1.0 / math.sqrt(n.toDouble))
        var auth = hub.clone()
        var it2 = 0
        val cap = fixedIters.get
        while (it2 < cap) {
          val aRaw = new Array[Double](n)
          var j = 0
          while (j < lg.m) { aRaw(dst(j)) += w(j) * hub(src(j)); j += 1 }
          var an2 = 0.0
          var v = 0
          while (v < n) { an2 += aRaw(v) * aRaw(v); v += 1 }
          val an = math.sqrt(an2)
          val ad = if (an == 0) 1.0 else an
          v = 0
          while (v < n) { aRaw(v) /= ad; v += 1 }
          val hRaw = new Array[Double](n)
          j = 0
          while (j < lg.m) { hRaw(src(j)) += w(j) * aRaw(dst(j)); j += 1 }
          var hn2 = 0.0
          v = 0
          while (v < n) { hn2 += hRaw(v) * hRaw(v); v += 1 }
          val hn = math.sqrt(hn2)
          val hd = if (hn == 0) 1.0 else hn
          v = 0
          while (v < n) { hRaw(v) /= hd; v += 1 }
          hub = hRaw
          auth = aRaw
          it2 += 1
        }
        var hMax = 0.0; var aMax = 0.0
        var v = 0
        while (v < n) {
          if (hub(v) > hMax) hMax = hub(v)
          if (auth(v) > aMax) aMax = auth(v)
          v += 1
        }
        val hD = if (hMax == 0) 1.0 else hMax
        val aD = if (aMax == 0) 1.0 else aMax
        return spark.createDataset(spark.sparkContext.parallelize(
          vids.indices.map(i2 => (vids(i2), hub(i2) / hD, auth(i2) / aD)).toSeq,
          spark.sparkContext.defaultParallelism)).toDF("id", "hub", "authority")
      }
    }
    val e = (if (g.directed) g.weighted else g.bidirected)
      .select(col("src"), col("dst"), col("weight")).repartition(col("src")).persist()
    e.count()
    val vertices = g.vertices.localCheckpoint(true)
    val n = vertices.count()
    var hub = vertices.select(col("id"), lit(1.0 / math.sqrt(n.toDouble)).as("h"))
      .transform(Lineage.cut)
    var auth = hub.withColumnRenamed("h", "a")
    var iter = 0
    var delta = Double.MaxValue
    val cap = fixedIters.getOrElse(maxIter)
    while (iter < cap && (fixedIters.isDefined || delta > tol)) {
      // authority = sum of hub scores of in-neighbors
      val aRaw = e.join(hub, e("src") === hub("id"))
        .groupBy(col("dst").as("id")).agg(sum(col("weight") * col("h")).as("x"))
      val aNorm = normalize(vertices, aRaw)
      // hub = sum of authority scores of out-neighbors; the old hub score
      // rides through the normalization join so the convergence delta is a
      // scan of the checkpointed frame, not a join per iteration
      val a2 = aNorm.select(col("id").as("aid"), col("v").as("a2"))
      val hRaw = e.join(a2, e("dst") === a2("aid"))
        .groupBy(e("src").as("id")).agg(sum(col("weight") * col("a2")).as("x"))
      val hAll = vertices.join(hRaw, Seq("id"), "left").join(hub, Seq("id"))
        .select(col("id"), coalesce(col("x"), lit(0.0)).as("x"), col("h").as("old"))
        .transform(Lineage.cut)
      val hn = math.sqrt(hAll.agg(sum(col("x") * col("x"))).head.getDouble(0))
      val hd = if (hn == 0) 1.0 else hn
      if (fixedIters.isEmpty)
        delta = hAll.agg(max(abs(col("x") / hd - col("old")))).head.getDouble(0)
      hub = hAll.select(col("id"), (col("x") / hd).as("h")).transform(Lineage.cut)
      auth = aNorm.withColumnRenamed("v", "a")
      iter += 1
    }
    e.unpersist()
    val hMax = hub.agg(max(col("h"))).head.getDouble(0)
    val aMax = auth.agg(max(col("a"))).head.getDouble(0)
    hub.join(auth, Seq("id"))
      .select(col("id"),
        (col("h") / (if (hMax == 0) 1.0 else hMax)).as("hub"),
        (col("a") / (if (aMax == 0) 1.0 else aMax)).as("authority"))
  }

  private def normalize(vertices: DataFrame, raw: DataFrame): DataFrame = {
    val all = vertices.join(raw, Seq("id"), "left")
      .select(col("id"), coalesce(col("x"), lit(0.0)).as("x"))
      .transform(Lineage.cut)
    val norm = math.sqrt(all.agg(sum(col("x") * col("x"))).head.getDouble(0))
    all.select(col("id"), (col("x") / (if (norm == 0) 1.0 else norm)).as("v"))
      .transform(Lineage.cut)
  }
}
