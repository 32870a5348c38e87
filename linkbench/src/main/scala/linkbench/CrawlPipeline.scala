package linkbench

import graft.algos.{Components, PageRank}
import graft.core.{CheckpointStore, LinkGraph}
import graft.ingest.{Page, Pages}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** crawl_pipeline: the north-star path end to end, pages to a ranked,
  * componentized graph. It is the only workload that runs ingest, the url
  * dictionary, the edge-table write and the durable checkpoint store, and
  * its checkpointed superstep loop runs at a size where per-job scheduling
  * shows.
  *
  * One op: generate the seeded corpus and write it as parquet, check
  * extraction, build the dictionary and edge table, write the edge table,
  * PageRank to 1e-6 through a `CheckpointStore` (EdgeJoin), then WCC with
  * its default gate (the driver union-find at this size; graph_queries'
  * q_wcc times the distributed loop). Each op writes under its own fresh
  * directories.
  *
  * Input: the corpus' link structure is `Pages`' generator at the fixed
  * seed [[Inputs.Structure]]; `--seed` picks the site count, which renames
  * every url and so reorders the url dictionary, the id assignment and the
  * partitioning (see [[Inputs]] for why the structure stays fixed).
  */
object CrawlPipeline {
  val NPages = 16000L
  val WarmPages = 2000L
  /** The warm-up's PageRank stops here, short of convergence. */
  val WarmIters = 1
  val AvgDeg = 10
  val Parts = 8

  final case class Outputs(n: Long, violations: Long, dict: DataFrame, edgesDir: String,
      pr: PageRank.Result, wcc: DataFrame, ckptDir: String)

  def sites(seed: Long): Long = 50 + java.lang.Long.remainderUnsigned(Pages.mix64(seed), 100L)

  def pipeline(r: Run, n: Long, maxIter: Int = 100): Outputs = {
    val spark = r.spark
    import spark.implicits._
    val corpus = r.fresh("corpus")
    val edgesDir = r.fresh("edges")
    val ckptDir = r.fresh("checkpoint")
    r.call("ingest.generate") {
      Pages.generate(spark, n, Inputs.Structure, sites(r.seed), AvgDeg, Parts).write.parquet(corpus)
    }
    val pages = spark.read.parquet(corpus).as[Page]
    val violations = r.call("ingest.extract_check")(Pages.extractionViolations(pages))
    val (dict, g0) = r.call("core.to_graph")(Pages.toGraph(pages, Parts))
    r.call("core.edge_write")(g0.edges.write.parquet(edgesDir))
    val g = LinkGraph(spark.read.parquet(edgesDir), directed = true, g0.numVertices)
    val pr = r.call("algos.pagerank_ckpt") {
      PageRank.run(g, tol = 1e-6, maxIter = maxIter, store = Some(new CheckpointStore(ckptDir, "linkbench")))
    }
    val wcc = r.call("algos.wcc")(Components.wcc(g))
    Outputs(n, violations, dict, edgesDir, pr, wcc, ckptDir)
  }

  /** Every output check of one op; each failure is recorded. */
  def verify(r: Run, o: Outputs): Boolean = {
    val spark = r.spark
    import spark.implicits._
    val n = o.n
    val dict = o.dict.select("id", "url").as[(Long, String)].collect()
    val ids = dict.map(_._1).sorted
    val urls = dict.map(_._2).toSet
    val expectEdges = (0L until n).map(i => Pages.outDegree(Inputs.Structure, i, AvgDeg).toLong).sum
    val edges = spark.read.parquet(o.edgesDir).select("src", "dst").as[(Long, Long)].collect()
    val ranks = o.pr.ranks.agg(sum("rank")).head.getDouble(0)
    // driver-side union-find with union-by-min: the min-id label per component
    val parent = Array.tabulate(n.toInt)(identity)
    def find(x: Int): Int = {
      var a = x
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    edges.foreach { case (s, d) =>
      val (a, b) = (find(s.toInt), find(d.toInt))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val labels = o.wcc.select("id", "comp").as[(Long, Long)].collect()
    Seq(
      r.check(o.violations == 0, s"${o.violations} extraction violations"),
      r.check(ids.sameElements(0L until n), "dictionary ids are not exactly 0..n-1"),
      r.check(urls == (0L until n).map(Pages.urlOf(_, sites(r.seed))).toSet, "dictionary urls differ from the corpus"),
      r.check(edges.length == expectEdges, s"edge count ${edges.length} != $expectEdges"),
      r.check(math.abs(ranks - 1.0) <= 1e-9, s"ranks sum to $ranks"),
      r.check(o.pr.delta < 1e-6, s"final delta ${o.pr.delta}"),
      r.check(labels.length == n && labels.forall { case (v, c) => find(v.toInt) == c },
        "wcc labels differ from union-find")
    ).forall(identity)
  }

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().map(c => dirBytes(c.getPath)).sum else f.length()
  }

  def run(r: Run): Unit = {
    // the corpus is made inside the timed op (generating and writing it is
    // the pipeline's first step), so set-up is the session and the warm-up
    r.setUp(())(pipeline(r, WarmPages, WarmIters))
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val iters = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ckptBytes = scala.collection.mutable.ArrayBuffer.empty[Double]
    r.measure(r.seconds) { _ =>
      val (o, wall) = Stats.timed(pipeline(r, NPages))
      walls += wall
      iters += o.pr.iterations
      ckptBytes += dirBytes(o.ckptDir)
      verify(r, o)
    }
    r.put("wall_s", Stats.median(walls.toSeq), "s")
    val calls = Seq("ingest.generate", "ingest.extract_check", "core.to_graph",
      "core.edge_write", "algos.pagerank_ckpt", "algos.wcc")
    Layers.report(r, calls, walls.toSeq, calls.toSet)
    r.put("algos.pagerank_ckpt_iters", Stats.median(iters.toSeq), "count")
    r.put("core.checkpoint_bytes", Stats.median(ckptBytes.toSeq), "bytes")
    if (r.traced) {
      val loopJobs = r.tracer.spans.filter(_.name == "algos.pagerank_ckpt").map(_.jobs.toDouble)
      r.put("spark.superstep_jobs", Stats.median(loopJobs.toSeq) / Stats.median(iters.toSeq), "count")
    }
  }
}
