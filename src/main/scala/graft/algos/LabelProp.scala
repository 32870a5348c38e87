package graft.algos

import graft.core.{CheckpointStore, Iterate, LinkGraph}
import org.apache.spark.sql.DataFrame

import org.apache.spark.sql.functions._

/** Label-propagation community detection (Raghavan-Albert-Kumara, Phys Rev E
  * 76:036106 — cited by the reference docstring `__init__.py:1313-1317`).
  *
  * The reference (`graphobject.c:11620-11666`) updates asynchronously in
  * random order with random tie-breaks — inherently nondeterministic; its own
  * tests accept a *set* of outcomes (`test_decomposition.py:279-284`). Our
  * engine is **synchronous** with a seeded, partition-stable tie-break
  * (hash(seed, iter, id, label)), so distributed runs are bit-reproducible at
  * any parallelism — the design answer to igraph's RNG indirection
  * (`random.c:33-60`). An oscillation guard freezes 2-cycles (known
  * synchronous-LPA artifact on bipartite-ish structures).
  *
  * Contract matched against the reference: `initial` labels (< 0 = unlabeled,
  * docstring `__init__.py:1286-1322`), `fixed` seed pinning, weighted
  * dominance = sum of incident edge weights per label; unlabeled neighbors
  * send no message; still-unlabeled vertices at convergence get their own id
  * as label. Golden: chain 0-1-2-3, weights [2,1,2], initial [0,-1,-1,1],
  * fixed -> membership [0,0,1,1] (`test_decomposition.py:274-284`).
  */
object LabelProp {

  /** @param initial optional (id, label) with label < 0 meaning unlabeled;
    *                absent vertices start unlabeled... every vertex starts
    *                with its own unique label when `initial` is None (the
    *                standard RAK initialization).
    * @param fixed   optional (id) set of vertices whose label never changes.
    * @param fixedIters run EXACTLY this many synchronous sweeps (no
    *                convergence/oscillation checks — also skips the per-iter
    *                changed-count job): the deterministic mode mirrored by
    *                the DuckDB oracle's unrolled SQL.
    * @param minTieBreak break mass ties by smallest label instead of the
    *                seeded hash — SQL-expressible (oracle mode); the default
    *                hash tie-break avoids the systematic small-id bias.
    * @return (id, label) membership, labels canonical-dense via min-member.
    */
  def run(
      g: LinkGraph,
      initial: Option[DataFrame] = None,
      fixed: Option[DataFrame] = None,
      seed: Long = 42L,
      maxIter: Int = 50,
      store: Option[CheckpointStore] = None,
      fixedIters: Option[Int] = None,
      minTieBreak: Boolean = false,
      smallThreshold: Long = 8000000L
  ): DataFrame = {
    // Gated driver kernel for the DETERMINISTIC mode (fixedIters +
    // minTieBreak, no initial/fixed/store — exactly the oracle-mirrored
    // q_lpa shape; r5/r6 kernel posture): each distributed sweep costs ~4
    // scheduled jobs (votes join, argmax aggregate, update join, cut) on a
    // gate-sized graph — replaced by one collect + array sweeps. Same math:
    // synchronous updates, weighted mass, argmax with exact-equality tie to
    // the smallest label (bit-exact on integer-weight graphs, where mass
    // sums are exact in any order; the parity spec pins label-for-label
    // equality). The seeded-hash tie-break mode and the convergence/
    // oscillation-guard mode stay distributed at every size.
    if (fixedIters.isDefined && minTieBreak && initial.isEmpty && fixed.isEmpty
        && store.isEmpty && g.numVertices.forall(_ <= smallThreshold)) {
      val eDf = g.bidirected.select(col("src"), col("dst"), col("weight"))
      if (eDf.count() <= smallThreshold) {
        val spark = g.spark
        import spark.implicits._
        val lg = graft.core.LocalGraph.collect(eDf, g.numVertices)
        val (vids, n) = (lg.ids, lg.n)
        // non-loop arcs as parallel arrays (bidirected already carries both
        // directions; vote flows src -> dst)
        val plain = Array.range(0, lg.m).filter(i => lg.src(i) != lg.dst(i))
        val (aSrc, aDst, aW) = (plain.map(lg.src(_)), plain.map(lg.dst(_)), plain.map(lg.weight(_)))
        var memb: Array[Long] = vids.clone()
        var it = 0
        val iters = fixedIters.get
        while (it < iters) {
          val votes = Array.fill(n)(null: java.util.HashMap[Long, Double])
          var j = 0
          while (j < plain.length) {
            val d = aDst(j)
            if (votes(d) == null) votes(d) = new java.util.HashMap[Long, Double]()
            votes(d).merge(memb(aSrc(j)), aW(j), java.lang.Double.sum)
            j += 1
          }
          val next = new Array[Long](n)
          var v = 0
          while (v < n) {
            if (votes(v) == null) next(v) = memb(v)
            else {
              var bestLabel = Long.MaxValue; var bestMass = Double.NegativeInfinity
              val itr = votes(v).entrySet().iterator()
              while (itr.hasNext) {
                val en = itr.next()
                if (en.getValue > bestMass
                    || (en.getValue == bestMass && en.getKey < bestLabel)) {
                  bestMass = en.getValue; bestLabel = en.getKey
                }
              }
              next(v) = bestLabel
            }
            v += 1
          }
          memb = next
          it += 1
        }
        return spark.createDataset(spark.sparkContext.parallelize(
          vids.indices.map(i2 => (vids(i2), memb(i2))).toSeq,
          spark.sparkContext.defaultParallelism)).toDF("id", "label")
      }
    }
    val adj = g.bidirected.select(col("src"), col("dst"), col("weight"))
      .where(col("src") =!= col("dst"))
      .repartition(col("src"))
      .persist()
    adj.count()

    val fixedDf = fixed.map(_.select(col("id")).withColumn("is_fixed", lit(true)))
    val start = initial match {
      case Some(init) =>
        g.vertices.join(init, Seq("id"), "left")
          .select(col("id"),
            when(col("label").isNull || col("label") < 0, lit(null).cast("long"))
              .otherwise(col("label").cast("long")).as("label"))
      case None =>
        g.vertices.select(col("id"), col("id").as("label"))
    }
    // `old` (label one step back) and `p2` (two steps back) ride as columns
    // so the convergence + oscillation counts are ONE scan of the
    // checkpointed frame — no shuffle joins against previous states
    var labels = (fixedDf match {
      case Some(f) => start.join(f, Seq("id"), "left")
        .select(col("id"), col("label"), coalesce(col("is_fixed"), lit(false)).as("is_fixed"))
      case None => start.withColumn("is_fixed", lit(false))
    }).withColumn("old", lit(null).cast("long"))
      .withColumn("p2", lit(null).cast("long"))
      .transform(graft.core.Lineage.cut)

    var iter = 0
    var changed = 1L
    val iterCap = fixedIters.getOrElse(maxIter)
    while ((fixedIters.isDefined || changed > 0) && iter < iterCap) {
      val t0 = System.currentTimeMillis()
      // weighted label mass arriving at each vertex, labeled neighbors only
      val votes = adj.join(labels.select(col("id").as("src"), col("label")), Seq("src"))
        .where(col("label").isNotNull)
        .groupBy(col("dst").as("id"), col("label"))
        .agg(sum("weight").as("mass"))
      // deterministic argmax as a map-side-combinable hash aggregate:
      // min(struct(-mass, tiebreak, label)) == "mass desc, tiebreak, label"
      // without sorting each vertex's full vote set (the Louvain/Leiden
      // argmax shape — a row_number window here was the one benched query
      // that regressed in round 2)
      val bestStruct =
        if (minTieBreak) struct(negate(col("mass")).as("nm"), col("label").as("l"))
        else struct(negate(col("mass")).as("nm"),
          xxhash64(lit(seed), lit(iter), col("id"), col("label")).as("h"),
          col("label").as("l"))
      val best = votes.groupBy(col("id")).agg(min(bestStruct).as("b"))
        .select(col("id"), col("b.l").as("new_label"))

      val next = labels.join(best, Seq("id"), "left")
        .select(col("id"),
          when(col("is_fixed") || col("new_label").isNull, col("label"))
            .otherwise(col("new_label")).as("label"),
          col("is_fixed"),
          col("label").as("old"), // one step back
          col("old").as("p2"))    // two steps back
      val cut = Iterate.cut(next, iter + 1, store, t0)
      if (fixedIters.isEmpty) {
        // ONE scan job for both convergence and the 2-cycle oscillation
        // guard (p2 null in the first two iterations -> counts as diff,
        // so the freeze can't trigger before a genuine 2-cycle exists)
        val r = cut.agg(
          sum(when(!(col("label") <=> col("old")), 1L).otherwise(0L)).as("ch"),
          sum(when(!(col("label") <=> col("p2")), 1L).otherwise(0L)).as("osc"))
          .head
        changed = r.getLong(0)
        if (changed > 0 && r.getLong(1) == 0) changed = 0 // frozen 2-cycle
      }
      labels = cut
      iter += 1
    }
    adj.unpersist()
    // unlabeled leftovers (isolated, or unlabeled islands) -> own id
    labels.select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }
}
