package graft

import graft.algos.{PageRank, PageRankGrid}
import graft.core.{CheckpointStore, LinkGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

/** GridBlocks ([[PageRankGrid]]) as a physical plan: its job floor, its
  * cache lifecycle, its dense-id contract and durable resume. Rank parity
  * with the other strategies lives in [[StrategySpec]].
  */
class PageRankGridSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // 300 vertices, 2500 edges; remainderUnsigned leaves some ids dangling
  private def randomGraph: LinkGraph = {
    val edges = (0 until 2500).map { k =>
      val a = graft.ingest.Pages.mix64(42L + k)
      (java.lang.Long.remainderUnsigned(a, 300L),
        java.lang.Long.remainderUnsigned(graft.ingest.Pages.mix64(a), 300L))
    }
    LinkGraph(spark, 300, edges, directed = true)
  }

  private def personalized(n: Int): Option[DataFrame] =
    Some((0 until n).map(i => (i.toLong, if (i % 7 == 0) 1.0 else 0.0)).toDF("id", "reset"))

  test("GridBlocks job floor: one job per superstep, at most 2 for the build") {
    val g = randomGraph
    // tol 0 never stops early, so two runs differ only in supersteps
    def jobs(reset: Option[DataFrame], iters: Int): Int = {
      val (r, ids) = JobCounter(spark)(
        PageRank.run(g, tol = 0.0, maxIter = iters, reset = reset, strategy = PageRank.GridBlocks(5)))
      assert(r.iterations == iters)
      r.ranks.unpersist()
      ids.size
    }
    // outside the supersteps, measured at local[4] with AQE: a uniform run
    // has the build and the output scan; a personalized one adds the one job
    // for R, RH, H and the reset total
    for ((name, reset, setUp) <- Seq(("uniform", None, 2), ("personalized", personalized(300), 3))) {
      val (j2, j6) = (jobs(reset, 2), jobs(reset, 6))
      info(s"$name reset: ${(j6 - j2) / 4.0} jobs per superstep, ${j2 - 2} outside them")
      assert((j6 - j2) / 4.0 == 1.0, s"$name reset")
      assert(j2 - 2 <= setUp, s"$name reset")
    }
    val (_, build) = JobCounter(spark)(
      PageRankGrid.build(spark, g.outView, 300L, 5, unweighted = true).unpersist())
    info(s"build: ${build.size} jobs")
    assert(build.size <= 2)
  }

  test("GridBlocks releases each superstep's state: the cache grows alike after 2 and 12 supersteps") {
    val g = randomGraph
    val sc = spark.sparkContext
    def growth(iters: Int): Int = {
      val before = sc.getPersistentRDDs.keySet
      val r = PageRank.run(g, tol = 0.0, maxIter = iters, strategy = PageRank.GridBlocks(5))
      assert(r.iterations == iters)
      val grown = sc.getPersistentRDDs.keys.count(id => !before.contains(id))
      r.ranks.unpersist()
      grown
    }
    val (g2, g12) = (growth(2), growth(12))
    info(s"persisted RDDs left: $g2 after 2 supersteps, $g12 after 12")
    assert(g2 == g12)
    assert(g12 <= 1) // the cached result
  }

  test("GridBlocks durable run, then resume, reproduces the uninterrupted run") {
    val g = danglingGraph
    for (reset <- Seq(None, personalized(7))) {
      val strategy = PageRank.GridBlocks(3)
      val full = PageRank.run(g, tol = 1e-10, maxIter = 300, reset = reset, strategy = strategy)
      val store = new CheckpointStore(
        java.nio.file.Files.createTempDirectory("graft-grid-ckpt").toString, "grid")
      PageRank.run(g, tol = 1e-10, maxIter = 300, reset = reset, fixedIters = Some(5),
        store = Some(store), strategy = strategy)
      assert(store.latestIter(spark).contains(5))
      val resumed = PageRank.resume(g, store, tol = 1e-10, maxIter = 300, reset = reset, strategy = strategy)
      assert(resumed.iterations == full.iterations, s"reset = ${reset.isDefined}")
      assert(resumed.delta < 1e-10)
      val vFull = TestSession.vector(full.ranks, "rank")
      val vRes = TestSession.vector(resumed.ranks, "rank")
      assert(vFull.indices.map(i => math.abs(vFull(i) - vRes(i))).max < 1e-9, s"reset = ${reset.isDefined}")
    }
  }

  test("GridBlocks: an edge outside [0, n) fails the build naming the edge and n") {
    for ((bad, shown) <- Seq((1L, 5L) -> "1 -> 5", (-1L, 0L) -> "-1 -> 0")) {
      val g = LinkGraph(Seq((0L, 1L), bad).toDF("src", "dst"), directed = true, Some(3L))
      val e = intercept[IllegalArgumentException](
        PageRank.run(g, tol = 1e-8, strategy = PageRank.GridBlocks(2)))
      assert(e.getMessage.contains("[0, 3)") && e.getMessage.contains(shown), e.getMessage)
    }
  }

  // a cycle with a tail and a dangling page (6)
  private def danglingGraph = LinkGraph(spark, 7,
    Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (2L, 4L), (4L, 5L), (5L, 2L), (1L, 6L)), directed = true)

  private def tempStore(runId: String): (java.nio.file.Path, CheckpointStore) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-grid-snap")
    (dir, new CheckpointStore(dir.toString, runId))
  }

  private def partFiles(dir: java.nio.file.Path, iter: Int): Seq[String] = {
    dir.resolve("state").resolve(s"iter=$iter").toFile.list().filter(_.startsWith("part-")).sorted.toSeq
  }

  private def rankMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("task-written snapshot: load(K) == an in-memory run stopped at K, metrics sum to n rows per iteration") {
    val g = danglingGraph
    for (reset <- Seq(None, personalized(7))) {
      val (_, store) = tempStore("snap")
      val strategy = PageRank.GridBlocks(3)
      val dur = PageRank.run(g, tol = 0.0, maxIter = 4, reset = reset, store = Some(store), strategy = strategy)
      assert(dur.iterations == 4 && store.latestIter(spark).contains(4))
      for (k <- 1 to 4) {
        val mem = rankMap(PageRank.run(g, fixedIters = Some(k), reset = reset, strategy = strategy).ranks)
        val snap = rankMap(store.load(spark, k))
        assert(snap.keySet == mem.keySet, s"iter $k")
        assert(mem.keys.map(id => math.abs(snap(id) - mem(id))).max < 1e-12, s"iter $k, reset = ${reset.isDefined}")
      }
      assert(store.load(spark, 4).schema.map(f => (f.name, f.dataType.simpleString)) ==
        Seq("id" -> "bigint", "rank" -> "double"))
      val rows = store.metrics(spark).groupBy("iter").agg(sum("rows")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(rows == (1 to 4).map(_ -> 7L).toMap)
    }
  }

  test("task-written snapshot: block files without _SUCCESS are no resume candidate; resume redoes that iteration") {
    val g = danglingGraph
    val strategy = PageRank.GridBlocks(3)
    val full = PageRank.run(g, tol = 1e-10, maxIter = 300, strategy = strategy)
    val (dir, store) = tempStore("crash")
    PageRank.run(g, fixedIters = Some(3), store = Some(store), strategy = strategy)
    // a superstep whose tasks wrote their blocks but whose commit never ran
    java.nio.file.Files.delete(dir.resolve("state").resolve("iter=3").resolve("_SUCCESS"))
    assert(partFiles(dir, 3).nonEmpty)
    assert(store.latestIter(spark).contains(2))
    val resumed = PageRank.resume(g, store, tol = 1e-10, maxIter = 300, strategy = strategy)
    assert(resumed.iterations == full.iterations)
    val (a, b) = (rankMap(full.ranks), rankMap(resumed.ranks))
    assert(a.keys.map(id => math.abs(a(id) - b(id))).max < 1e-9)
    assert(store.latestIter(spark).contains(full.iterations))
    assert(java.nio.file.Files.exists(dir.resolve("state").resolve("iter=3").resolve("_SUCCESS")))
  }

  test("task-written snapshot: a second durable run into the same root leaves no stale part file") {
    val g = danglingGraph
    val (dir, first) = tempStore("p5")
    PageRank.run(g, fixedIters = Some(3), store = Some(first), strategy = PageRank.GridBlocks(5))
    // n = 7 at P = 5: stride 2, blocks 0..3 hold vertices
    assert(partFiles(dir, 2) == (0 to 3).map(b => f"part-$b%05d.parquet"))
    val second = new CheckpointStore(dir.toString, "p2")
    val r = PageRank.run(g, fixedIters = Some(3), store = Some(second), strategy = PageRank.GridBlocks(2))
    val want = rankMap(r.ranks)
    for (k <- 1 to 3) {
      // P = 2: stride 4, blocks 0 and 1
      assert(partFiles(dir, k) == Seq("part-00000.parquet", "part-00001.parquet"), s"iter $k")
      assert(second.load(spark, k).count() == 7, s"iter $k")
    }
    assert(rankMap(second.load(spark, 3)).forall { case (id, v) => math.abs(v - want(id)) < 1e-12 })
  }
}
