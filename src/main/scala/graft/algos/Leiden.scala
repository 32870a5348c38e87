package graft.algos

import graft.core.{GraphOps, Lineage, LinkGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Leiden community detection (`community_leiden`, Traag, Waltman & van Eck
  * 2019 Sci. Rep. 9:5233 — the reference's docstring citation,
  * `__init__.py:1549-1609`; C glue `graphobject.c:11909-12020`; goldens
  * `tests/test_decomposition.py:436-483`).
  *
  * Objectives, following the reference wrapper exactly
  * (`__init__.py:1594-1603`):
  *  - CPM: node weights default to 1, effective resolution = γ. Gain of
  *    moving v into community c: k_{v→c} − γ·n_v·N_c.
  *  - modularity: node weights = strength, effective resolution
  *    γ / Σ(strength) = γ / 2m — which makes the same gain formula reduce
  *    to the classic Louvain modularity gain.
  *
  * One Leiden *iteration* (one `igraph_community_leiden` call) is the full
  * multilevel loop: fast local move (queue) → refinement (randomized
  * constrained merge within each community, randomness controlled by
  * `beta`) → aggregation on the REFINED partition with the move partition
  * as the aggregate's initial membership. `community_leiden(n_iterations)`
  * repeats the whole thing; `-1` repeats until quality stops improving
  * (`graphobject.c:11989-12012`).
  *
  * Distributed shape: levels above [[seqThreshold]] vertices run the same
  * synchronous seeded-parity gain sweeps as [[Louvain.localMove]]
  * (generalized to the parametric gain above), with refinement expressed
  * as the identical sweep CONSTRAINED to candidate communities inside the
  * same parent community — a pure join restriction, no new machinery.
  * Contracted levels shrink geometrically into the sequential
  * reference-parity kernel, exactly like [[Louvain.run]].
  */
object Leiden {

  sealed trait Objective
  /** Constant Potts Model (reference default). */
  case object CPM extends Objective
  /** Modularity objective (`normalize_resolution=True` path). */
  case object ModularityObj extends Objective

  val seqThreshold = 4096L

  // ---------------------------------------------------------------- helpers

  /** (nodeWeight per id, effective gamma). CPM: (1, γ). modularity:
    * (strength, γ/Σstrength) — `graphobject.c:11968-11986`.
    */
  private def weightsAndGamma(
      g: LinkGraph, objective: Objective, resolution: Double): (DataFrame, Double) = {
    val e = g.weighted
    objective match {
      case CPM =>
        (g.vertices.select(col("id"), lit(1.0).as("nw")), resolution)
      case ModularityObj =>
        val k = e.select(col("src").as("id"), col("weight"))
          .union(e.select(col("dst").as("id"), col("weight")))
          .groupBy("id").agg(sum("weight").as("nw"))
        val nw = g.vertices.join(k, Seq("id"), "left")
          .select(col("id"), coalesce(col("nw"), lit(0.0)).as("nw"))
        val tot = e.agg(sum("weight")).head.getDouble(0) * 2.0
        (nw, if (tot == 0.0) resolution else resolution / tot)
    }
  }

  /** CPM-family quality used for the `n_iterations = -1` stopping rule:
    * Σ_c [ e_c − γ'·(N_c² − Σ_{v∈c} n_v²)/2 ]  (distinct-pair form; for the
    * modularity objective this is modularity·m up to the constant Σk_v²/2m
    * term, so "stops improving" coincides).
    */
  def quality(g: LinkGraph, membership: DataFrame,
              objective: Objective = CPM, resolution: Double = 1.0): Double = {
    val (nw, gammaEff) = weightsAndGamma(g, objective, resolution)
    val m = membership.select(col("id"), col("label"))
    val internal = g.weighted
      .join(m.select(col("id").as("src"), col("label").as("ls")), Seq("src"))
      .join(m.select(col("id").as("dst"), col("label").as("ld")), Seq("dst"))
      .where(col("ls") === col("ld"))
      .agg(coalesce(sum("weight"), lit(0.0))).head.getDouble(0)
    val pen = m.join(nw, Seq("id")).groupBy("label")
      .agg(sum("nw").as("nc"), sum(col("nw") * col("nw")).as("nsq"))
      .agg(coalesce(sum((col("nc") * col("nc") - col("nsq")) / 2.0), lit(0.0)))
      .head.getDouble(0)
    internal - gammaEff * pen
  }

  // ---------------------------------------------- sequential faithful kernel

  /** One full Leiden iteration on a collected graph (reference parity: queue
    * local move in ascending-id order with immediate updates; refinement
    * merges singletons with probability ∝ exp(Δ/β) over non-negative-gain,
    * well-connected candidates — Traag et al. §B, the reference's core
    * behavior). Used below [[seqThreshold]] and by the contracted top levels
    * of the distributed run.
    */
  private final class SeqGraph(
      val n: Int,
      val adj: Array[Array[(Int, Double)]], // undirected adjacency w/o self-loops
      val selfLoop: Array[Double],
      val nw: Array[Double])

  private def collectSeq(g: LinkGraph, objective: Objective,
                         nodeWeights: Option[Map[Long, Double]] = None): (Array[Long], SeqGraph, Double) = {
    val ids = g.vertices.select("id").collect().map(_.getLong(0)).sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val edges = g.weighted.select("src", "dst", "weight").collect()
      .map(r => (idx(r.getLong(0)), idx(r.getLong(1)), r.getDouble(2)))
    val nbr = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])
    val selfLoop = new Array[Double](n)
    val strength = new Array[Double](n)
    var totW = 0.0
    edges.foreach { case (u, v, w) =>
      totW += w
      strength(u) += w; strength(v) += w
      if (u == v) selfLoop(u) += w
      else { nbr(u) += ((v, w)); nbr(v) += ((u, w)) }
    }
    // Explicit node weights (aggregate-level call: Σ member weights) win —
    // re-deriving CPM weights as 1 at a contracted level loses community
    // sizes and mis-prices the γ·n_v·N_c penalty (ADVICE r2).
    val nw = nodeWeights match {
      case Some(m) => ids.map(i => m.getOrElse(i, 1.0))
      case None => objective match {
        case CPM => Array.fill(n)(1.0)
        case ModularityObj => strength
      }
    }
    (ids, new SeqGraph(n, nbr.map(_.toArray), selfLoop, nw), totW)
  }

  /** Queue-based fast local move (Leiden Alg. 3). Mutates `comm`. */
  private def moveNodesFast(sg: SeqGraph, comm: Array[Int], gammaEff: Double): Unit = {
    val n = sg.n
    val csize = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    (0 until n).foreach(v => csize(comm(v)) += sg.nw(v))
    val queue = scala.collection.mutable.Queue(0 until n: _*)
    val inQueue = Array.fill(n)(true)
    // fresh labels for moves-to-empty; must not collide with existing labels
    // (a previous iteration may already have produced labels ≥ n)
    var nextLabel = math.max(n, if (n == 0) 0 else comm.max + 1)
    while (queue.nonEmpty) {
      val v = queue.dequeue(); inQueue(v) = false
      val own = comm(v)
      val kvc = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
      sg.adj(v).foreach { case (u, w) => kvc(comm(u)) += w }
      val stay = kvc(own) - gammaEff * sg.nw(v) * (csize(own) - sg.nw(v))
      // candidates: neighbor communities + the empty community (gain 0)
      var bestC = -1; var bestGain = 0.0 // -1 = empty community
      kvc.toSeq.sortBy(_._1).foreach { case (c, w) =>
        if (c != own) {
          val gain = w - gammaEff * sg.nw(v) * csize(c)
          if (gain > bestGain + 1e-12) { bestGain = gain; bestC = c }
        }
      }
      if (bestGain > stay + 1e-12) {
        val target = if (bestC == -1) { val t = nextLabel; nextLabel += 1; t } else bestC
        csize(own) -= sg.nw(v); csize(target) += sg.nw(v)
        comm(v) = target
        sg.adj(v).foreach { case (u, _) =>
          if (comm(u) != target && !inQueue(u)) { queue.enqueue(u); inQueue(u) = true }
        }
      }
    }
  }

  /** Refinement (Leiden Alg. 4): within each community of `comm`, merge
    * singleton refined communities into well-connected refined communities,
    * sampled ∝ exp(Δ/β) over Δ ≥ 0 candidates (argmax when β = 0).
    * Returns the refined labels.
    */
  private def refine(sg: SeqGraph, comm: Array[Int], gammaEff: Double,
                     beta: Double, rng: scala.util.Random): Array[Int] = {
    val n = sg.n
    val refined = Array.tabulate(n)(identity)
    val rsize = Array.tabulate(n)(v => sg.nw(v))
    val singleton = Array.fill(n)(true)
    // parent community total node weight
    val psize = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    (0 until n).foreach(v => psize(comm(v)) += sg.nw(v))
    // k_{R→parent∖R} per refined community (connectivity to rest of parent)
    val rconn = new Array[Double](n)
    (0 until n).foreach { v =>
      sg.adj(v).foreach { case (u, w) => if (comm(u) == comm(v)) rconn(v) += w }
    }
    for (v <- 0 until n if singleton(v)) {
      val p = comm(v)
      // v must be well connected within its parent community
      if (rconn(v) >= gammaEff * sg.nw(v) * (psize(p) - sg.nw(v)) - 1e-12) {
        val kvr = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
        sg.adj(v).foreach { case (u, w) => if (comm(u) == p) kvr(refined(u)) += w }
        val cands = kvr.toSeq.sortBy(_._1).flatMap { case (r, w) =>
          if (r == refined(v)) None
          else {
            val wellConn = rconn(r) >= gammaEff * rsize(r) * (psize(p) - rsize(r)) - 1e-12
            val gain = w - gammaEff * sg.nw(v) * rsize(r)
            if (wellConn && gain >= -1e-12) Some((r, gain)) else None
          }
        }
        if (cands.nonEmpty) {
          val pick =
            if (beta <= 1e-12) cands.maxBy(_._2)._1
            else {
              val maxG = cands.map(_._2).max
              val ws = cands.map { case (r, g) => (r, math.exp((g - maxG) / beta)) }
              val tot = ws.map(_._2).sum
              var x = rng.nextDouble() * tot
              var picked = ws.last._1
              val it = ws.iterator
              var done = false
              while (it.hasNext && !done) {
                val (r, w) = it.next()
                x -= w
                if (x <= 0) { picked = r; done = true }
              }
              picked
            }
          // merge v into refined community `pick`
          val old = refined(v)
          refined(v) = pick
          rsize(pick) += sg.nw(v); rsize(old) -= sg.nw(v)
          singleton(pick) = false; singleton(v) = false
          // rconn updates: edges v→pick move inside; edges v→(parent∖pick) add
          var toPick = 0.0; var toParentRest = 0.0
          sg.adj(v).foreach { case (u, w) =>
            if (comm(u) == p) { if (refined(u) == pick) toPick += w else toParentRest += w }
          }
          rconn(pick) += toParentRest - toPick
        }
      }
    }
    refined
  }

  /** One full multilevel Leiden iteration, sequential (driver) kernel.
    * `membership` maps dense index → community label; mutated in place.
    */
  private def leidenIterationSeq(sg0: SeqGraph, gammaEff: Double, beta: Double,
                                 membership: Array[Int], rng: scala.util.Random): Unit = {
    var sg = sg0
    var comm = membership.clone()
    // downMap(level-node) = list of original vertices it contains
    var members: Array[Array[Int]] = Array.tabulate(sg.n)(v => Array(v))
    var progressing = true
    while (progressing) {
      moveNodesFast(sg, comm, gammaEff)
      // write current flat membership back to original ids
      for (v <- 0 until sg.n; o <- members(v)) membership(o) = comm(v)
      val refined = refine(sg, comm, gammaEff, beta, rng)
      val rLabels = refined.distinct.sorted
      if (rLabels.length == sg.n) progressing = false
      else {
        val rIdx = rLabels.zipWithIndex.toMap
        val na = rLabels.length
        // aggregate graph over refined partition
        val selfLoop = new Array[Double](na)
        val nw = new Array[Double](na)
        val eAgg = scala.collection.mutable.Map.empty[(Int, Int), Double].withDefaultValue(0.0)
        for (v <- 0 until sg.n) {
          val rv = rIdx(refined(v))
          nw(rv) += sg.nw(v)
          selfLoop(rv) += sg.selfLoop(v)
          sg.adj(v).foreach { case (u, w) =>
            if (u > v) {
              val ru = rIdx(refined(u))
              if (ru == rv) selfLoop(rv) += w
              else {
                val key = if (rv < ru) (rv, ru) else (ru, rv)
                eAgg(key) += w
              }
            }
          }
        }
        val nbrA = Array.fill(na)(scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])
        eAgg.foreach { case ((a, b), w) => nbrA(a) += ((b, w)); nbrA(b) += ((a, w)) }
        val membersA = Array.fill(na)(scala.collection.mutable.ArrayBuffer.empty[Int])
        for (v <- 0 until sg.n) membersA(rIdx(refined(v))) ++= members(v)
        // aggregate node starts in the (shared) community of its members:
        // refined ⊆ comm, so any level-node in the refined set determines it
        val commA = new Array[Int](na)
        for (v <- 0 until sg.n) commA(rIdx(refined(v))) = comm(v)
        sg = new SeqGraph(na, nbrA.map(_.toArray), selfLoop, nw)
        comm = commA
        members = membersA.map(_.toArray)
      }
    }
    for (v <- 0 until sg.n; o <- members(v)) membership(o) = comm(v)
  }

  /** Sequential `community_leiden` (reference parity below [[seqThreshold]]).
    * Returns (id, label) with canonical dense labels.
    */
  def communityLeidenSequential(
      g: LinkGraph,
      objective: Objective = CPM,
      resolution: Double = 1.0,
      beta: Double = 0.01,
      initialMembership: Option[Map[Long, Long]] = None,
      nIterations: Int = 2,
      seed: Long = 42L,
      nodeWeights: Option[Map[Long, Double]] = None): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val (ids, sg, totW) = collectSeq(g, objective, nodeWeights)
    val gammaEff = objective match {
      case CPM => resolution
      case ModularityObj => if (totW == 0.0) resolution else resolution / (2.0 * totW)
    }
    val idx = ids.zipWithIndex.toMap
    val membership: Array[Int] = initialMembership match {
      case Some(m) =>
        // compress arbitrary initial labels to dense ints
        val labs = m.values.toSeq.distinct.sorted.zipWithIndex.toMap
        ids.map(i => labs(m(i)))
      case None => Array.tabulate(sg.n)(identity)
    }
    val rng = new scala.util.Random(seed)
    def flatQuality(memb: Array[Int]): Double = {
      val csz = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
      val csq = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
      (0 until sg.n).foreach { v => csz(memb(v)) += sg.nw(v); csq(memb(v)) += sg.nw(v) * sg.nw(v) }
      var internal = (0 until sg.n).map(sg.selfLoop).sum
      for (v <- 0 until sg.n; (u, w) <- sg.adj(v) if u > v && memb(u) == memb(v)) internal += w
      internal - gammaEff * csz.keys.map(c => (csz(c) * csz(c) - csq(c)) / 2.0).sum
    }
    if (nIterations >= 0) {
      for (_ <- 0 until nIterations) leidenIterationSeq(sg, gammaEff, beta, membership, rng)
    } else {
      var prevQ = Double.NegativeInfinity
      var q = flatQuality(membership)
      var guard = 0
      while (prevQ < q - 1e-12 && guard < 200) {
        prevQ = q
        leidenIterationSeq(sg, gammaEff, beta, membership, rng)
        q = flatQuality(membership)
        guard += 1
      }
    }
    // canonical dense labels in min-member order (reference clustering order)
    val firstSeen = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    membership.foreach(c => if (!firstSeen.contains(c)) firstSeen(c) = firstSeen.size)
    ids.indices.map(i => (ids(i), firstSeen(membership(i)).toLong)).toDF("id", "label")
  }

  // -------------------------------------------------------- distributed path

  /** Distributed local-move sweep with the parametric Leiden gain
    * (k_{v→c} − γ'·n_v·N_c). Identical scheduling to [[Louvain.localMove]]
    * (seeded-parity symmetric-swap breaking; plain id parity + fixed sweep
    * count in oracle mode). `restrictTo`: optional (id, parent) table that
    * constrains moves to candidate communities with the same parent —
    * this single join restriction IS the Leiden refinement phase.
    */
  def localMove(g: LinkGraph, nodeWeights: DataFrame, gammaEff: Double,
                initial: Option[DataFrame] = None,
                restrictTo: Option[DataFrame] = None,
                sweepCap: Int = 20, fixedSweeps: Option[Int] = None,
                smallThreshold: Long = 8000000L): DataFrame = {
    val e = g.weighted.persist()

    // gated driver kernel for the DETERMINISTIC fixed-sweep mode (plain
    // id-parity, no refinement restriction, singleton start) — the same
    // posture and bit-for-bit contract as Louvain.localMove's kernel: CPM
    // gains (kvc − γ·nw·tot(c) vs kvc_own − γ·nw·(tot(own) − nw)), argmax
    // tie min label, synchronous parity sweeps. Seeded-parity convergence
    // mode and the restricted refinement sweeps stay distributed.
    if (fixedSweeps.isDefined && restrictTo.isEmpty && initial.isEmpty
        && e.count() <= smallThreshold
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
      val nwMap = new java.util.HashMap[Long, Double]()
      nodeWeights.select("id", "nw").collect()
        .foreach(r => nwMap.put(r.getLong(0), r.getDouble(1)))
      val nw = Array.tabulate(n)(i => nwMap.getOrDefault(vids(i), 1.0))
      val csr = lg.undirected(weighted = true)
      val (off, nbrs, ws) = (csr.off, csr.nbr, csr.w)
      val membIdx = Array.tabulate(n)(identity)
      val nextIdx = new Array[Int](n)
      // index-based labels + stamped scratch instead of per-vertex HashMaps
      // (see the Louvain kernel note: same accumulation order, same argmax
      // rule on label VALUES, bit-identical labels, ~2 s less driver time)
      val tot = new Array[Double](n)
      val kvcArr = new Array[Double](n)
      val stamp = Array.fill(n)(-1)
      val touched = new Array[Int](n)
      var stampC = 0
      var sweep = 0
      while (sweep < fixedSweeps.get) {
        java.util.Arrays.fill(tot, 0.0)
        var i = 0
        while (i < n) { tot(membIdx(i)) += nw(i); i += 1 }
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
          val stayGain = kvcArr(own) - gammaEff * nw(i) * (tot(own) - nw(i))
          var bestGain = Double.NaN; var bestLabelIdx = -1; var has = false
          var t = 0
          while (t < nt) {
            val l = touched(t)
            if (l != own) {
              val gain = kvcArr(l) - gammaEff * nw(i) * tot(l)
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
          nextIdx(i) = if (mayMove && has && bestGain > stayGain + 1e-12) bestLabelIdx else own
          i += 1
        }
        System.arraycopy(nextIdx, 0, membIdx, 0, n)
        sweep += 1
      }
      return spark.createDataset(spark.sparkContext.parallelize(
        vids.indices.map(i => (vids(i), vids(membIdx(i)))).toSeq,
        spark.sparkContext.defaultParallelism)).toDF("id", "label")
    }

    val nb = e.where(col("src") =!= col("dst"))
      .select(col("src").as("v"), col("dst").as("nbr"), col("weight").as("w"))
      .union(e.where(col("src") =!= col("dst"))
        .select(col("dst").as("v"), col("src").as("nbr"), col("weight").as("w")))
      .repartition(col("nbr")).persist() // partitioned by the JOIN key: the only
      // per-sweep use is the membership join on `nbr`, so the cached
      // partitioning is reused and each sweep shuffles only the vertex-sized
      // membership frame, never this O(2|E|) frame
    nb.count()
    val nwAll = g.vertices.join(nodeWeights, Seq("id"), "left")
      .select(col("id"), coalesce(col("nw"), lit(1.0)).as("nw"))
      .transform(Lineage.cut)

    // Refinement invariant: the refinement call starts from singleton labels
    // (label = vertex id) and only ever moves a vertex into a community
    // whose members share its parent — so every community labeled `c`
    // consists of vertices with parent(c), the label's founding vertex's
    // parent. The community→parent map is therefore STATIC: derived once
    // from `restrictTo` keyed by label, not re-aggregated from the evolving
    // membership every sweep (round-2 verdict: hoisted out of the loop).
    val commParent = restrictTo.map { parents =>
      val cp = parents
        .select(col("id").as("clabel"), col("parent").as("cparent"))
        .transform(Lineage.cut).persist()
      cp.count()
      cp
    }

    var memb = initial.getOrElse(g.vertices.select(col("id"), col("id").as("label")))
      .select(col("id"), col("label")).transform(Lineage.cut)
    var lastMoves = 1L
    var moves = 1L
    var sweep = 0
    val cap = fixedSweeps.getOrElse(sweepCap)
    while ((fixedSweeps.isDefined || moves + lastMoves > 0) && sweep < cap) {
      // (id, label, nw) once per sweep — ctot and the gain scoring both hang
      // off it (same 8-joins→5 fusion as Louvain.localMove)
      val mk = memb.join(nwAll, Seq("id"))
      val ctot = mk.groupBy("label").agg(sum("nw").as("tot"))
      // kvc with a guaranteed OWN-community row per vertex (zero row unioned
      // before the aggregate, replacing the old stay-side left join)
      val kvcBase = nb.join(mk.select(col("id").as("nbr"), col("label").as("clabel")), Seq("nbr"))
        .select(col("v").as("id"), col("clabel"), col("w"))
        .union(mk.select(col("id"), col("label").as("clabel"), lit(0.0).as("w")))
        .groupBy("id", "clabel").agg(sum("w").as("kvc"))
      // refinement restriction: candidate community must live in the same
      // parent (static community→parent map hoisted above). Own rows always
      // survive it — a vertex's own community shares its parent by the
      // refinement invariant — so the stay row is never dropped here
      val kvc = (restrictTo, commParent) match {
        case (Some(parents), Some(cp)) =>
          kvcBase.join(parents, Seq("id"))
            .join(cp, Seq("clabel"))
            .where(col("parent") === col("cparent"))
            .select(col("id"), col("clabel"), col("kvc"))
        case _ => kvcBase
      }
      // one scored frame carries the stay row AND every move candidate
      val scored = kvc
        .join(ctot.select(col("label").as("clabel"), col("tot")), Seq("clabel"))
        .join(mk, Seq("id"))
      val own = col("clabel") === col("label")
      val moveGain = col("kvc") - lit(gammaEff) * col("nw") * col("tot")
      // argmax(gain, tie -> min clabel) as a hash aggregate — identical
      // selection to a desc-gain/asc-clabel window, with map-side combine;
      // min/max skip the NULL when() branch, so stay and move fold in ONE
      // aggregate
      val best = scored.groupBy("id").agg(
        max(when(own,
          col("kvc") - lit(gammaEff) * col("nw") * (col("tot") - col("nw")))).as("stay_gain"),
        min(when(!own, struct(negate(moveGain).as("ng"), col("clabel"), moveGain.as("gain")))).as("b"))
      val mayMove =
        if (fixedSweeps.isDefined) pmod(col("id"), lit(2L)) === lit((sweep % 2).toLong)
        else pmod(xxhash64(lit(43L), lit(sweep), col("id")), lit(2L)) === 0L
      // old label rides as a column so the convergence count below is a
      // scan of the checkpointed frame, not a shuffle join per sweep;
      // every vertex has a stay row, so the join is inner, not left
      val next = memb.join(best, Seq("id"))
        .select(col("id"), col("label").as("old"),
          when(mayMove && col("b").isNotNull && col("b.gain") > col("stay_gain") + 1e-12,
            col("b.clabel")).otherwise(col("label")).as("label"))
        .transform(Lineage.cut)
      lastMoves = moves
      if (fixedSweeps.isEmpty)
        moves = next.where(col("label") =!= col("old")).count()
      memb = next.select("id", "label")
      sweep += 1
    }
    nb.unpersist(); e.unpersist(); commParent.foreach(_.unpersist())
    memb
  }

  /** Full distributed `community_leiden`. Level-0 (and any level above
    * [[seqThreshold]]) runs distributed move + constrained-refine sweeps;
    * contracted levels fall into the sequential reference-parity kernel.
    * Returns (id, label), canonical dense labels.
    */
  def communityLeiden(
      g: LinkGraph,
      objective: Objective = CPM,
      resolution: Double = 1.0,
      beta: Double = 0.01,
      nIterations: Int = 2,
      seed: Long = 42L,
      seqThreshold: Long = Leiden.seqThreshold): DataFrame = {
    val und = LinkGraph(g.weighted, directed = false, g.numVertices)
    if (und.vcount() <= seqThreshold)
      return communityLeidenSequential(und, objective, resolution, beta, None, nIterations, seed)

    val (nw0, gammaEff) = weightsAndGamma(und, objective, resolution)
    // Distributed levels: move phase → constrained refinement → contract,
    // LOOPED until the contracted graph fits the sequential kernel (round-2
    // verdict: one-shot contraction left nAgg > threshold on the driver).
    // Nothing is ever collected to the driver until n ≤ seqThreshold.
    var curG = und
    var curNw = nw0                               // (id, nw) of the current level
    var curInit: Option[DataFrame] = None         // initial membership at this level
    // mapping: original id → current level's node id
    var mapping = und.vertices.select(col("id"), col("id").as("cur")).transform(Lineage.cut)
    var n = und.vcount()
    var shrinking = true
    while (n > seqThreshold && shrinking) {
      val moved = localMove(curG, curNw, gammaEff, initial = curInit)
      val parents = moved.select(col("id"), col("label").as("parent")).transform(Lineage.cut)
      val refined = GraphOps.canonicalizeMembership(
        localMove(curG, curNw, gammaEff,
          initial = Some(curG.vertices.select(col("id"), col("id").as("label"))),
          restrictTo = Some(parents), sweepCap = 8)).transform(Lineage.cut)
      val nAgg = refined.select("label").distinct().count()
      if (nAgg >= n) {
        // no shrink (e.g. >threshold mutually disconnected communities):
        // the move-phase labels are the fixpoint at this level
        shrinking = false
        curInit = Some(moved)
      } else {
        val ec = GraphOps.contractVertices(curG, refined)
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"), col("weight"))
          .groupBy("src", "dst").agg(sum("weight").as("weight"))
        // aggregate node weight = Σ member node weights (ADVICE r2: CPM must
        // carry community sizes through contraction, not re-derive 1.0)
        val aggNw = refined.join(curNw, Seq("id"))
          .groupBy(col("label").as("id")).agg(sum("nw").as("nw")).transform(Lineage.cut)
        // aggregate node starts in the parent community of its members
        val aggInit = refined.join(parents, Seq("id"))
          .groupBy(col("label").as("id")).agg(min("parent").as("label")).transform(Lineage.cut)
        mapping = mapping.join(refined.select(col("id").as("cur"), col("label").as("ncur")), Seq("cur"))
          .select(col("id"), col("ncur").as("cur")).transform(Lineage.cut)
        curG = LinkGraph(ec.transform(Lineage.cut), directed = false, Some(nAgg))
        curNw = aggNw
        curInit = Some(aggInit)
        n = nAgg
      }
    }
    val aggMemb =
      if (n <= seqThreshold) {
        // ONLY driver materialization: ≤ seqThreshold rows by construction
        val initMap = curInit.map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        val nwMap = curNw.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        communityLeidenSequential(curG, objective, resolution, beta, initMap,
          nIterations, seed, Some(nwMap))
      } else // shrink stalled above threshold: move-phase labels stand
        GraphOps.canonicalizeMembership(curInit.get)
    GraphOps.canonicalizeMembership(
      mapping.join(aggMemb.select(col("id").as("cur"), col("label").as("flabel")), Seq("cur"))
        .select(col("id"), col("flabel").as("label")))
  }
}
