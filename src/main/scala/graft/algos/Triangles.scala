package graft.algos

import graft.core.{GraphOps, LinkGraph, LocalGraph}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{count => cnt}

/** Triangle counting and the transitivity (clustering-coefficient) family.
  *
  * Reference semantics (`graphobject.c:14051-14111`; goldens
  * `test_structural.py:67-98`): direction is ignored, multi-edges and loops
  * are dropped, transitivity = 3*triangles / wedges with
  * wedges = sum_v d_v (d_v - 1) / 2.
  *
  * Scale design: the canonical degree-ordered orientation — orient each
  * undirected edge from the (degree, id)-smaller endpoint to the larger,
  * self-join oriented edges on the shared lower endpoint to form wedges,
  * then semi-join wedge closures against the oriented edge set. Orientation
  * bounds per-vertex fan-out by O(sqrt(m)) (arboricity), which is what kills
  * hub skew on power-law web graphs; the two joins shuffle on edge keys and
  * broadcast nothing, so the pipeline survives 100x scale-up unchanged.
  */
object Triangles {

  /** Undirected simple edge view canonicalized to src < dst. A
    * builder-asserted canonical-simple graph (the co-part build) skips the
    * filter + least/greatest + distinct — a full shuffle of the edge table
    * the construction already paid for.
    */
  private def simpleEdges(g: LinkGraph): DataFrame =
    if (g.canonicalSimple) g.edges.select(col("src"), col("dst"))
    else g.edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
      .distinct()

  /** Gated driver triangle kernel (r6; Brandes/Louvain-kernel posture):
    * per-vertex and global triangle counts are INTEGERS — a driver count
    * over the collected canonical edge list is exactly the distributed
    * count with none of its ~8 scheduled jobs (deg join, orientation cut,
    * adjacency aggregate cut, intersect join). Orientation and intersection
    * replicate the distributed math one-for-one: orient low (deg, id) ->
    * high, triangles = common out-neighbors per oriented edge. Returns
    * (ids, per-vertex counts) over the edge-endpoint vertex set; callers attach
    * isolated vertices exactly as they do for the distributed path.
    */
  private def kernelCounts(edges: Array[Row]): (Array[Long], Array[Long]) = {
    val lg = LocalGraph(edges)
    val (vids, n, m) = (lg.ids, lg.n, lg.m)
    val deg = new Array[Int](n)
    for (i <- 0 until m) { deg(lg.src(i)) += 1; deg(lg.dst(i)) += 1 }
    // orient low (deg, id) -> high (deg, id); CSR of out-neighbors
    val lo = new Array[Int](m); val hi = new Array[Int](m)
    var i = 0
    while (i < m) {
      val a = lg.src(i); val b = lg.dst(i)
      val aFirst = deg(a) < deg(b) || (deg(a) == deg(b) && vids(a) < vids(b))
      lo(i) = if (aFirst) a else b
      hi(i) = if (aFirst) b else a
      i += 1
    }
    val csr = LocalGraph.csr(n, lo, hi)
    val (off, nbr) = (csr.off, csr.nbr)
    i = 0
    while (i < n) { java.util.Arrays.sort(nbr, off(i), off(i + 1)); i += 1 }
    val tri = new Array[Long](n)
    i = 0
    while (i < m) {
      val u = lo(i); val v = hi(i)
      var p = off(u); var q = off(v)
      while (p < off(u + 1) && q < off(v + 1)) {
        val x = nbr(p); val y = nbr(q)
        if (x == y) { tri(u) += 1; tri(v) += 1; tri(x) += 1; p += 1; q += 1 }
        else if (x < y) p += 1
        else q += 1
      }
      i += 1
    }
    (vids, tri)
  }

  /** Canonical simple edges, cut once; Left(collected rows) under the gate,
    * Right(the cut frame) above it — so the distributed path reuses the
    * same materialization instead of cutting twice.
    */
  private def collectedSimple(g: LinkGraph, smallThreshold: Long)
      : Either[Array[Row], DataFrame] = {
    val e = preparedEdges(g)
    if (e.count() > smallThreshold) Right(e) else Left(e.collect())
  }

  /** Canonical simple edges, materialized exactly once (a canonical-simple
    * builder already materialized them; everything else pays one cut).
    */
  private def preparedEdges(g: LinkGraph): DataFrame = {
    val e0 = simpleEdges(g)
    if (g.canonicalSimple) e0 else e0.transform(graft.core.Lineage.cut)
  }

  /** All triangles as (a, b, c) rows, each triangle exactly once. */
  def triangleTriples(g: LinkGraph): DataFrame = triplesFrom(preparedEdges(g))

  private def triplesFrom(e: DataFrame): DataFrame = {
    // total degree on the simple graph, for the orientation order
    val deg = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .groupBy("v").agg(cnt(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.withColumnRenamed("v", "src").withColumnRenamed("deg", "sdeg"), Seq("src"))
      .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("deg", "ddeg"), Seq("dst"))
    // orient low (deg, id) -> high (deg, id)
    val oriented = withDeg.select(
      when(col("sdeg") < col("ddeg") || (col("sdeg") === col("ddeg") && col("src") < col("dst")), col("src"))
        .otherwise(col("dst")).as("lo"),
      when(col("sdeg") < col("ddeg") || (col("sdeg") === col("ddeg") && col("src") < col("dst")), col("dst"))
        .otherwise(col("src")).as("hi"))
      .transform(graft.core.Lineage.cut)
    // adjacency-intersect instead of wedge-join: each oriented edge (u,v)
    // closes one triangle per COMMON out-neighbor of u and v, and every
    // triangle is found exactly once (its (deg,id)-lowest vertex is the only
    // one with out-degree 2 inside the triangle, and only its lowest edge
    // sees the third vertex in both lists). Shuffle is edge-scale — two
    // adjacency-list joins of ~|E| rows — instead of wedge-scale
    // (sum of squared oriented out-degrees): a 379 MB -> ~token shuffle at
    // sf0.1 (StageProbe), and the gap widens with skew at web scale.
    // Orientation still bounds every array by O(sqrt m) (arboricity), so no
    // row is hub-sized.
    // adj is referenced TWICE below (nlo and nhi side) — cut it so the
    // collect_list aggregate runs once, not once per reference (the
    // duplicated-subtree plan the r06 before-dump shows for q_local_cc)
    val adj = oriented.groupBy(col("lo")).agg(collect_list(col("hi")).as("nbrs"))
      .transform(graft.core.Lineage.cut)
    oriented
      .join(adj.select(col("lo"), col("nbrs").as("nlo")), Seq("lo"))
      .join(adj.select(col("lo").as("hi"), col("nbrs").as("nhi")), Seq("hi"))
      .select(col("lo").as("a"), col("hi").as("b"),
        explode(array_intersect(col("nlo"), col("nhi"))).as("c"))
  }

  /** Global triangle count (= `cliques(3,3)` size, `graphobject.c:15738`). */
  def count(g: LinkGraph, smallThreshold: Long = 8000000L): Long =
    collectedSimple(g, smallThreshold) match {
      case Left(edges) => kernelCounts(edges)._2.sum / 3
      case Right(e) => triplesFrom(e).count()
    }

  /** Per-vertex triangle count (id, triangles); zero for triangle-free. */
  def perVertex(g: LinkGraph, smallThreshold: Long = 8000000L): DataFrame = {
    val counts = collectedSimple(g, smallThreshold) match {
      case Left(edges) =>
        // kernel counts cover the simple-edge endpoint set; the vertex join
        // below attaches isolated / loop-only vertices with 0 exactly like
        // the distributed path's left join
        val spark = g.spark
        import spark.implicits._
        val (vids, tri) = kernelCounts(edges)
        spark.createDataset(spark.sparkContext.parallelize(vids.toSeq.zip(tri),
          spark.sparkContext.defaultParallelism)).toDF("id", "triangles")
      case Right(e) =>
        val t = triplesFrom(e)
        // ONE traversal of the triple stream: explode each triangle into its
        // 3 corners in the same projection. The previous union of three
        // selects referenced `t` three times, which re-ran the whole
        // adjacency-join pipeline per reference (r06 before-plan: triple
        // SortMergeJoin subtree).
        val ends = t.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
        ends.groupBy("id").agg(cnt(lit(1)).as("triangles"))
    }
    g.vertices.join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Global transitivity = 3T / wedges (`graphobject.c:14051-14077`;
    * goldens 1.0 / 0.0 / 0.75, `test_structural.py:67-70`).
    */
  def transitivityGlobal(g: LinkGraph): Double = {
    val e = simpleEdges(g)
    val deg = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .groupBy("v").agg(cnt(lit(1)).as("deg"))
    val wedges = deg.agg(sum(col("deg") * (col("deg") - 1) / 2)).head.get(0) match {
      case null                      => 0.0
      case d: java.math.BigDecimal   => d.doubleValue()
      case d: Double                 => d
      case l: Long                   => l.toDouble
    }
    if (wedges == 0.0) Double.NaN else 3.0 * count(g) / wedges
  }

  /** Per-vertex clustering coefficient t_v / (d_v (d_v - 1) / 2)
    * (`graphobject.c:14078-14111`; goldens [2/3, 2/3, 1, 1],
    * `test_structural.py:72-91`). `zeroMode`: degree<2 vertices get 0.0
    * (mode="zero") or NaN (reference default).
    */
  def transitivityLocal(g: LinkGraph, zeroMode: Boolean = false): DataFrame = {
    val e = simpleEdges(g)
    val deg = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .groupBy("id").agg(cnt(lit(1)).as("deg"))
    val undef = if (zeroMode) lit(0.0) else lit(Double.NaN)
    perVertex(g).join(deg, Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("deg"), lit(0L)) < 2, undef)
          .otherwise(col("triangles") * 2.0 / (col("deg") * (col("deg") - 1))).as("cc"))
  }

  /** Mean of defined local coefficients (`graphobject.c:14112`; golden 5/6,
    * `test_structural.py:93-98`).
    */
  def transitivityAvgLocal(g: LinkGraph): Double = {
    val loc = transitivityLocal(g, zeroMode = false).where(!isnan(col("cc")))
    if (loc.isEmpty) Double.NaN else loc.agg(avg("cc")).head.getDouble(0)
  }

  /** Weighted local clustering coefficient, Barrat et al. variant as the
    * reference implements it (golden 0.25 for Full(4)+pendant-weight-5,
    * `test_structural.py:82-91`): over ordered neighbor pairs (j,h) closing
    * a triangle with i, sum (w_ij + w_ih)/2, normalized by s_i (k_i - 1).
    */
  def transitivityLocalWeighted(g: LinkGraph): DataFrame = {
    val und = GraphOps.simplify(g, multiple = true, loops = true, combine = "sum")
    val e = und.bidirected.select(col("src"), col("dst"), col("weight")) // both directions
    val strengthK = e.groupBy(col("src").as("id"))
      .agg(sum("weight").as("s"), cnt(lit(1)).as("k"))
    // ordered neighbor pairs (i->j, i->h), j != h, closed by edge (j,h)
    val ij = e.select(col("src").as("i"), col("dst").as("j"), col("weight").as("wij"))
    val ih = e.select(col("src").as("i"), col("dst").as("h"), col("weight").as("wih"))
    val closure = e.select(col("src").as("j"), col("dst").as("h"))
    val tri = ij.join(ih, Seq("i")).where(col("j") =!= col("h"))
      .join(closure, Seq("j", "h"), "left_semi")
    val contrib = tri.groupBy(col("i").as("id"))
      .agg(sum((col("wij") + col("wih")) / 2.0).as("num"))
    g.vertices.join(contrib, Seq("id"), "left").join(strengthK, Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("k"), lit(0L)) < 2, lit(Double.NaN))
          .otherwise(coalesce(col("num"), lit(0.0)) / (col("s") * (col("k") - 1))).as("cc"))
  }
}
