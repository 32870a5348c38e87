package graft.algos

import graft.core.{GraphOps, Lineage, LinkGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Louvain community detection (`community_multilevel`, Blondel et al.
  * 2008 J. Stat. Mech. P10008 — cited by the reference docstring
  * `__init__.py:1324`; goldens `tests/test_decomposition.py:286-328`).
  *
  * Distributed shape: the local-move phase is a synchronous sweep — every
  * vertex evaluates the standard modularity gain of joining each neighbor
  * community in ONE join+window round (vs the reference's sequential
  * vertex-by-vertex scan); moves apply when they strictly beat staying,
  * ties to the smallest community label. Contraction between levels is
  * `contract_vertices` + weight-summing simplify (self-loops carry the
  * intra-community weight). Each level's membership is composed back onto
  * the ORIGINAL vertex ids and scored with [[Modularity.modularity]].
  *
  * Scale: each sweep is two aggregates + three joins on (id, label) keys;
  * levels shrink geometrically, so the whole run is a handful of passes
  * over the edge table — the natural Spark expression of Louvain.
  */
object Louvain {

  /** One level's result: membership over the original vertex ids (dense
    * labels, canonical min-member order) and its modularity on the input.
    */
  final case class Level(membership: DataFrame, q: Double)

  /** Local-move phase: (id, label) after synchronous gain sweeps.
    * Gain of v joining community c (Blondel eq. 2, constant terms dropped):
    * k_{v,c} − Σtot(c∖v)·k_v / 2m, compared against staying put.
    */
  /** @param fixedSweeps run EXACTLY this many sweeps with plain id-parity
    *        scheduling (SQL-expressible; the q_louvain DuckDB oracle unrolls
    *        it) instead of seeded-parity-until-converged.
    */
  def localMove(g: LinkGraph, sweepCap: Int = 20, minGain: Double = 1e-12,
                fixedSweeps: Option[Int] = None,
                smallThreshold: Long = 8000000L): DataFrame = {
    val e = g.weighted.persist()

    // gated driver kernel for the DETERMINISTIC fixed-sweep mode (the
    // oracle-mirrored mode: plain id-parity scheduling, synchronous
    // updates): replicates the distributed sweep's math exactly — same
    // stay/move gains, same argmax tie-break (max gain, tie min label),
    // same parity gate — over collected arrays, replacing ~20 scheduled
    // jobs per sweep. On integer-weight graphs every aggregate is exact, so
    // labels are bit-identical to the distributed sweep (pinned by spec).
    // The seeded-parity CONVERGENCE mode stays distributed at every size:
    // its per-sweep coin is a Spark xxhash64 expression, and replicating
    // that bit-for-bit in scala is a maintenance trap.
    if (fixedSweeps.isDefined && e.count() <= smallThreshold
        && g.numVertices.forall(_ <= smallThreshold)) {
      val spark = g.spark
      import spark.implicits._
      // vertex set from the collected rows + explicit numVertices (the
      // g.vertices derivation is a full distinct over the bidirected
      // endpoint union - one more scheduled job the kernel doesn't need;
      // WCC small-path precedent). Kernel output does not depend on vids
      // order: sweeps are synchronous over the previous membership.
      val lg = graft.core.LocalGraph.collect(e.select("src", "dst", "weight"), g.numVertices)
      e.unpersist()
      val (vids, n) = (lg.ids, lg.n)
      // total weight from the collected rows (saves the pre-gate aggregate
      // job; exact on integer-weight graphs, where any summation order
      // yields the identical double — the same caveat every kernel
      // aggregate in this file carries)
      var totalW = 0.0
      lg.weight.foreach(totalW += _)
      val m2 = 2.0 * totalW
      // totalW == 0 degenerate (weightless graph): own-id labels, matching
      // the distributed early return below
      if (totalW == 0.0)
        return spark.createDataset(spark.sparkContext.parallelize(
          vids.toSeq.map(v => (v, v)),
          spark.sparkContext.defaultParallelism)).toDF("id", "label")
      val k = new Array[Double](n)
      for (i <- 0 until lg.m) { k(lg.src(i)) += lg.weight(i); k(lg.dst(i)) += lg.weight(i) }
      // non-loop adjacency, both directions, CSR
      val csr = lg.undirected(weighted = true)
      val (off, nbrs, ws) = (csr.off, csr.nbr, csr.w)
      val membIdx = Array.tabulate(n)(identity)
      val nextIdx = new Array[Int](n)
      // label state as INDICES into vids (every label is a vertex id) with
      // stamped scratch arrays instead of per-vertex HashMaps: the boxed
      // Long->Double merges dominated the kernel wall (~2 s of the query).
      // Accumulation order per label (adjacency scan order) and the argmax
      // rule (max gain, tie -> smaller label VALUE) are unchanged, so the
      // labels stay bit-identical to the HashMap form and to the pinned
      // distributed sweep.
      val tot = new Array[Double](n)
      val kvcArr = new Array[Double](n)
      val stamp = Array.fill(n)(-1)
      val touched = new Array[Int](n)
      var stampC = 0
      val cap2 = fixedSweeps.get
      var sweep = 0
      while (sweep < cap2) {
        java.util.Arrays.fill(tot, 0.0)
        var i = 0
        while (i < n) { tot(membIdx(i)) += k(i); i += 1 }
        i = 0
        while (i < n) {
          val own = membIdx(i)
          stampC += 1
          var nt = 0
          stamp(own) = stampC; touched(nt) = own; nt += 1; kvcArr(own) = 0.0
          var j = off(i)
          while (j < off(i + 1)) {
            val l = membIdx(nbrs(j))
            if (stamp(l) != stampC) {
              stamp(l) = stampC; touched(nt) = l; nt += 1; kvcArr(l) = 0.0
            }
            kvcArr(l) += ws(j)
            j += 1
          }
          val stayGain = kvcArr(own) - (tot(own) - k(i)) * k(i) / m2
          var bestGain = Double.NaN; var bestLabelIdx = -1; var has = false
          var t = 0
          while (t < nt) {
            val l = touched(t)
            if (l != own) {
              val gain = kvcArr(l) - tot(l) * k(i) / m2
              // min struct(-gain, clabel): max gain, tie -> min label
              if (!has || gain > bestGain
                  || (gain == bestGain && vids(l) < vids(bestLabelIdx))) {
                has = true; bestGain = gain; bestLabelIdx = l
              }
            }
            t += 1
          }
          // floorMod, not %: Spark's pmod(id, 2) is non-negative for negative
          // ids, and the kernel must match the distributed sweep bit-for-bit
          val mayMove = math.floorMod(vids(i), 2L) == (sweep % 2).toLong
          nextIdx(i) = if (mayMove && has && bestGain > stayGain + minGain) bestLabelIdx else own
          i += 1
        }
        System.arraycopy(nextIdx, 0, membIdx, 0, n)
        sweep += 1
      }
      return spark.createDataset(spark.sparkContext.parallelize(
        vids.indices.map(i => (vids(i), vids(membIdx(i)))).toSeq,
        spark.sparkContext.defaultParallelism)).toDF("id", "label")
    }

    val totalW = e.agg(sum("weight")).head.getDouble(0)
    if (totalW == 0.0) { e.unpersist(); return g.vertices.select(col("id"), col("id").as("label")) }
    val m2 = 2.0 * totalW

    // strength incl. self-loops counted twice (both endpoints)
    val kv = e.select(col("src").as("id"), col("weight"))
      .union(e.select(col("dst").as("id"), col("weight")))
      .groupBy("id").agg(sum("weight").as("k"))
    val kvAll = g.vertices.join(kv, Seq("id"), "left")
      .select(col("id"), coalesce(col("k"), lit(0.0)).as("k"))
      .transform(Lineage.cut)
    val nb = e.where(col("src") =!= col("dst"))
      .select(col("src").as("v"), col("dst").as("nbr"), col("weight").as("w"))
      .union(e.where(col("src") =!= col("dst"))
        .select(col("dst").as("v"), col("src").as("nbr"), col("weight").as("w")))
      .repartition(col("nbr")).persist() // partitioned by the JOIN key: the only
      // per-sweep use is the membership join on `nbr`, so the cached
      // partitioning is reused and each sweep shuffles only the vertex-sized
      // membership frame, never this O(2|E|) frame
    nb.count()

    var memb = g.vertices.select(col("id"), col("id").as("label")).transform(Lineage.cut)
    var lastMoves = 1L
    var moves = 1L
    var sweep = 0
    // alternating-parity scheduling: only half the vertices may move per
    // sweep. A fully synchronous sweep lets adjacent singletons SWAP labels
    // (u adopts v's community while v adopts u's) and never merge — the
    // known distributed-Louvain pathology; parity breaks the symmetry.
    // Converged when a full even+odd cycle produces no move.
    val cap = fixedSweeps.getOrElse(sweepCap)
    while ((fixedSweeps.isDefined || moves + lastMoves > 0) && sweep < cap) {
      // (id, label, k) once per sweep — both ctot and the gain scoring hang
      // off it, so the membership⋈strength join happens once, not four times
      val mk = memb.join(kvAll, Seq("id"))
      val ctot = mk.groupBy("label").agg(sum("k").as("tot"))
      // kvc with a guaranteed OWN-community row per vertex: union a zero row
      // (id, own label, 0) before the aggregate, so the stay-gain term needs
      // no separate left join — isolated vertices and vertices with no
      // own-community neighbor get kvc_own = 0 exactly as the old
      // coalesce(kvc_own, 0) path did
      val kvcAug = nb.join(mk.select(col("id").as("nbr"), col("label").as("clabel")), Seq("nbr"))
        .select(col("v").as("id"), col("clabel"), col("w"))
        .union(mk.select(col("id"), col("label").as("clabel"), lit(0.0).as("w")))
        .groupBy("id", "clabel").agg(sum("w").as("kvc"))
      // one scored frame carries BOTH the stay row (clabel == own label,
      // gain = kvc_own − (tot−k)·k/2m) and every move candidate
      // (gain = kvc − tot·k/2m) — the old separate base/cand paths fused
      val scored = kvcAug
        .join(ctot.select(col("label").as("clabel"), col("tot")), Seq("clabel"))
        .join(mk, Seq("id"))
      val own = col("clabel") === col("label")
      val moveGain = col("kvc") - col("tot") * col("k") / m2
      // argmax(gain, tie -> min clabel) as a hash aggregate (map-side
      // partial combine), NOT a sort-based window — same selection, no
      // per-vertex sort of the full candidate set; min/max skip the NULL
      // branch of the when(), so each vertex folds its stay row and its
      // move candidates in ONE aggregate
      val best = scored.groupBy("id").agg(
        max(when(own, col("kvc") - (col("tot") - col("k")) * col("k") / m2)).as("stay_gain"),
        min(when(!own, struct(negate(moveGain).as("ng"), col("clabel"), moveGain.as("gain")))).as("b"))
      // seeded parity (not plain id parity): a 2-cycle between two same-
      // parity neighbors (e.g. both odd) would otherwise swap labels forever.
      // Fixed-sweep oracle mode uses plain id parity (deterministic + SQL).
      val mayMove =
        if (fixedSweeps.isDefined) pmod(col("id"), lit(2L)) === lit((sweep % 2).toLong)
        else pmod(xxhash64(lit(42L), lit(sweep), col("id")), lit(2L)) === 0L
      // old label rides as a column so the convergence count below is a
      // scan of the checkpointed frame, not a shuffle join per sweep;
      // every vertex has a stay row, so the join is inner, not left
      val next = memb.join(best, Seq("id"))
        .select(col("id"), col("label").as("old"),
          when(mayMove && col("b").isNotNull && col("b.gain") > col("stay_gain") + minGain,
            col("b.clabel")).otherwise(col("label")).as("label"))
        .transform(Lineage.cut)
      lastMoves = moves
      if (fixedSweeps.isEmpty)
        moves = next.where(col("label") =!= col("old")).count()
      memb = next.select("id", "label")
      sweep += 1
    }
    nb.unpersist()
    e.unpersist()
    memb
  }

  /** Sequential local-move kernel (reference parity): visit vertices in id
    * order with immediate updates, exactly the scan order the reference's
    * sequential implementation uses — this is what pins the
    * `test_decomposition.py:286-328` golden memberships. Driver-side over
    * collected arrays; used automatically below `seqThreshold` vertices
    * (the contracted levels of even a huge run shrink into this regime —
    * the distributed sweeps are the level-0 scale path).
    */
  def localMoveSequential(g: LinkGraph, maxPasses: Int = 50): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val edges = g.weighted.select("src", "dst", "weight").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = g.vertices.select("id").collect().map(_.getLong(0)).sorted
    val m = edges.map(_._3).sum
    if (m == 0.0) return ids.toSeq.map(i => (i, i)).toDF("id", "label")
    val m2 = 2.0 * m
    val k = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    edges.foreach { case (u, v, w) =>
      k(u) += w; k(v) += w
      if (u != v) {
        adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty) += ((v, w))
        adj.getOrElseUpdate(v, scala.collection.mutable.ArrayBuffer.empty) += ((u, w))
      }
    }
    val comm = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    val tot = scala.collection.mutable.Map(ids.map(i => i -> k(i)): _*).withDefaultValue(0.0)
    var moved = true
    var pass = 0
    while (moved && pass < maxPasses) {
      moved = false
      for (v <- ids) {
        val own = comm(v)
        val kvc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        adj.getOrElse(v, Nil).foreach { case (u, w) => kvc(comm(u)) += w }
        tot(own) -= k(v) // evaluate with v removed
        var bestC = own
        var bestGain = kvc(own) - tot(own) * k(v) / m2
        for ((c, w) <- kvc.toSeq.sortBy(_._1) if c != own) {
          val gain = w - tot(c) * k(v) / m2
          if (gain > bestGain + 1e-12) { bestGain = gain; bestC = c }
        }
        tot(bestC) += k(v)
        if (bestC != own) { comm(v) = bestC; moved = true }
      }
      pass += 1
    }
    ids.toSeq.map(i => (i, comm(i))).toDF("id", "label")
  }

  /** Below this vertex count the sequential reference-parity kernel runs;
    * above it, the distributed parity sweeps.
    */
  val seqThreshold = 4096L

  /** Full multilevel run. Returns one [[Level]] per level (memberships over
    * original ids, modularity strictly increasing), like the reference's
    * `community_multilevel(return_levels=True)`.
    */
  def run(g: LinkGraph, maxLevels: Int = 10, sweepCap: Int = 20): Seq[Level] = {
    val und = LinkGraph(g.weighted, directed = false, g.numVertices)
    var cur = und
    var mapping = und.vertices.select(col("id").as("orig"), col("id")).transform(Lineage.cut)
    val levels = scala.collection.mutable.ArrayBuffer.empty[Level]
    var lastQ = Double.NegativeInfinity
    var done = false
    var level = 0
    while (!done && level < maxLevels) {
      level += 1
      val memb =
        if (cur.vcount() <= seqThreshold) localMoveSequential(cur)
        else localMove(cur, sweepCap)
      val dense = GraphOps.canonicalizeMembership(memb).transform(Lineage.cut)
      val origMemb = mapping.join(dense, Seq("id"))
        .select(col("orig").as("id"), col("label")).transform(Lineage.cut)
      val q = Modularity.modularity(und, origMemb)
      val nComm = dense.select("label").distinct().count()
      val nVert = dense.count()
      if (levels.nonEmpty && q <= lastQ + 1e-9) done = true
      else {
        levels += Level(origMemb, q)
        lastQ = q
        if (nComm == nVert) done = true // nothing merged: fixpoint
        else {
          val ec = GraphOps.contractVertices(cur, dense)
            .select(least(col("src"), col("dst")).as("src"),
              greatest(col("src"), col("dst")).as("dst"), col("weight"))
            .groupBy("src", "dst").agg(sum("weight").as("weight"))
          cur = LinkGraph(ec.transform(Lineage.cut), directed = false, Some(nComm))
          mapping = mapping.join(dense, Seq("id"))
            .select(col("orig"), col("label").as("id")).transform(Lineage.cut)
        }
      }
    }
    levels.toSeq
  }

  /** Final (highest-modularity) membership — `community_multilevel` default. */
  def communityMultilevel(g: LinkGraph, maxLevels: Int = 10): DataFrame =
    run(g, maxLevels).last.membership
}
