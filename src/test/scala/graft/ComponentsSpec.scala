package graft

import graft.algos.Components
import graft.core.{GraphOps, LinkGraph}
import org.scalatest.funsuite.AnyFunSuite

/** Component goldens from /root/reference/tests/test_decomposition.py. */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("WCC on Full(4)+Full(4)+Full(3)+Full(2) (test_decomposition.py:213-215)") {
    val g = Seq(4, 4, 3, 2).map(LinkGraph.full(spark, _)).reduce(GraphOps.disjointUnion)
    val labels = GraphOps.canonicalizeMembership(Components.wcc(g))
    val m = TestSession.longVector(labels, "label").toSeq
    assert(TestSession.reindex(m) == Seq(0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 3, 3))
  }

  test("canonicalizeMembership: gated driver renumber == distributed path, row for row") {
    // adversarial labels: negative, non-dense, shared across id ranges
    import spark.implicits._
    val memb = Seq((0L, 7L), (1L, -3L), (2L, 7L), (3L, 100L), (4L, -3L),
      (5L, 5L), (6L, 5L), (7L, 100L), (8L, 42L)).toDF("id", "cl")
      .repartition(4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val small = rows(GraphOps.canonicalizeMembership(memb))
    val dist = rows(GraphOps.canonicalizeMembership(memb, smallThreshold = 0L))
    assert(small == dist)
    // dense 0..k-1 by ascending min member id: -3 (min 1) ... wait min ids:
    // 7->0, -3->1, 100->3, 5->5, 42->8 => ranks by min id: 7=>0, -3=>1,
    // 100=>2, 5=>3, 42=>4
    assert(small == Seq((0L, 0L), (1L, 1L), (2L, 0L), (3L, 2L), (4L, 1L),
      (5L, 3L), (6L, 3L), (7L, 2L), (8L, 4L)))
  }

  test("WCC ignores direction; isolated vertices are their own components") {
    val g = LinkGraph(spark, 6, Seq((0L, 1L), (2L, 1L), (3L, 4L)), directed = true)
    val m = TestSession.longVector(Components.wcc(g), "comp").toSeq
    assert(TestSession.reindex(m) == Seq(0, 0, 0, 1, 1, 2))
  }

  test("WCC on a long path converges (pointer-jumping)") {
    val n = 200
    val g = LinkGraph(spark, n, (0 until n - 1).map(i => (i.toLong, i + 1L)), directed = false)
    val m = TestSession.longVector(Components.wcc(g, maxIter = 30), "comp").toSeq
    assert(m.forall(_ == 0L))
  }

  test("giant() picks the largest component (clustering.py:411-428)") {
    val g = GraphOps.disjointUnion(LinkGraph.full(spark, 3), LinkGraph.full(spark, 5))
    val ids = Components.giant(g).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(3L, 4L, 5L, 6L, 7L))
  }

  test("SCC: gdir is one strong component") {
    val gdir = LinkGraph(spark, 4,
      Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 1L), (0L, 3L), (1L, 3L), (3L, 0L)), directed = true)
    val m = TestSession.longVector(Components.scc(gdir), "comp").toSeq
    assert(m == Seq(0L, 0L, 0L, 0L))
  }

  test("SCC: DAG -> all singletons; two cycles + bridge -> two SCCs") {
    val dag = LinkGraph(spark, 4, Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)), directed = true)
    assert(TestSession.longVector(Components.scc(dag), "comp").toSeq == Seq(0L, 1L, 2L, 3L))
    // cycle {0,1,2} -> cycle {3,4,5}
    val two = LinkGraph(spark, 6,
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L)), directed = true)
    val m = TestSession.longVector(Components.scc(two), "comp").toSeq
    assert(m == Seq(0L, 0L, 0L, 3L, 3L, 3L))
  }

  test("SCC chain robustness: 1M-vertex descending path resolves in <=4 rounds (round-3 verdict #8)") {
    // the descending path (every edge high id -> low id) was the O(n)-round
    // worst case of the previous coloring implementation: one color class,
    // one peel per round. The pair-split algorithm must clear it in ~2
    // rounds — maxRounds = 4 IS the assertion (scc throws past it).
    import org.apache.spark.sql.functions._
    val n = 1000000L
    val edges = spark.range(1L, n).select(col("id").as("src"), (col("id") - 1).as("dst"))
    val g = LinkGraph(edges, directed = true, Some(n))
    val m = Components.scc(g, maxRounds = 4)
    // all singletons: every label distinct
    assert(m.select("comp").distinct().count() == n)
  }

  test("SCC chain robustness: ascending path + random sparse digraph parity vs round bound") {
    import org.apache.spark.sql.functions._
    val n = 100000L
    val asc = spark.range(0L, n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    assert(Components.scc(LinkGraph(asc, directed = true, Some(n)), maxRounds = 4)
      .select("comp").distinct().count() == n)
    // mixed structure: cycles chained in DESCENDING id order (each round-3
    // color class spanned multiple SCCs) — still a handful of rounds
    val cyc = (0 until 40).flatMap { c =>
      val base = c * 5L
      (0 until 5).map(i => (base + i, base + (i + 1) % 5)) :+ ((c * 5L + 204L) % 200L, base)
    }.distinct
    val g2 = LinkGraph(spark, 200L, cyc.map { case (a, b) => (a, b) }, directed = true)
    val m2 = TestSession.longVector(Components.scc(g2, maxRounds = 8), "comp")
    // each 5-block is one SCC labeled by its min id — unless the chord wiring
    // merged blocks; verify against the defining property via mutual reach on
    // the driver (200 vertices)
    val adj = Array.fill(200)(scala.collection.mutable.Set.empty[Int])
    cyc.foreach { case (a, b) => adj(a.toInt) += b.toInt }
    def reach(s: Int): Set[Int] = {
      val seen = scala.collection.mutable.Set(s)
      val q = scala.collection.mutable.Queue(s)
      while (q.nonEmpty) { val x = q.dequeue(); adj(x).foreach(y => if (seen.add(y)) q += y) }
      seen.toSet
    }
    val r = (0 until 200).map(reach)
    for (i <- 0 until 200; j <- 0 until 200)
      assert((m2(i) == m2(j)) == (r(i).contains(j) && r(j).contains(i)),
        s"scc membership disagrees with mutual reachability at ($i,$j)")
  }

  test("WCC small-input union-find kernel == distributed min-label loop") {
    // seeded random sparse digraph: many components, loops, isolated tails
    val rnd = new scala.util.Random(7)
    val n = 300
    val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val g = LinkGraph(spark, n, edges, directed = true)
    val fast = TestSession.longVector(Components.wcc(g), "comp").toSeq
    val dist = TestSession.longVector(Components.wcc(g, smallThreshold = 0L), "comp").toSeq
    assert(fast == dist) // identical min-id labels, not just same partition
    // negative, sparse ids and no numVertices: the vertex set is the
    // endpoints, and the labels are still the min id of each component
    import spark.implicits._
    val sparse = edges.map { case (a, b) => ((a - 150) * 1000003L, (b - 150) * 1000003L) }
    val gs = LinkGraph(sparse.toDF("src", "dst"), directed = true, None)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("id", "comp").as[(Long, Long)].collect().sorted.toSeq
    val fastS = rows(Components.wcc(gs))
    assert(fastS == rows(Components.wcc(gs, smallThreshold = 0L)))
    assert(fastS.map(_._1) == sparse.flatMap(e => Seq(e._1, e._2)).distinct.sorted)
    assert(fastS.exists(_._2 < 0) && fastS.forall { case (id, c) => c <= id })
  }

  test("WCC distributed path: a shuffled-id long path converges in O(log n) rounds, one job each") {
    // plain pointer jumping needs O(n) rounds when ids do not increase along
    // the path; parent hooking keeps it logarithmic
    val n = 2000
    val perm = new scala.util.Random(11).shuffle((0L until n.toLong).toVector)
    val g = LinkGraph(spark, n, (0 until n - 1).map(i => (perm(i), perm(i + 1))), directed = false)
    val (m, jobs) = JobCounter(spark)(
      TestSession.longVector(Components.wcc(g, maxIter = 16, smallThreshold = 0L), "comp").toSeq)
    info(s"${jobs.size} jobs")
    assert(m.forall(_ == 0L))
    assert(jobs.size <= 16 + 4) // rounds + the gate count, the output collect
  }

  test("WCC: an endpoint outside [0, n) fails both paths naming n and the edge") {
    import spark.implicits._
    val g = LinkGraph(Seq((0L, 1L), (5L, -1L), (7L, 12L), (2L, 12L)).toDF("src", "dst"),
      directed = false, Some(10L))
    val shown = Seq("5 -> -1", "-1 -> 5", "7 -> 12", "12 -> 7", "2 -> 12", "12 -> 2")
    for (gate <- Seq(1000000L, 0L)) {
      val e = intercept[IllegalArgumentException](Components.wcc(g, smallThreshold = gate).collect())
      assert(e.getMessage.contains("[0, 10)") && shown.exists(e.getMessage.contains), e.getMessage)
    }
  }

  test("WCC durable run: one snapshot and one metrics set per round, last snapshot == result") {
    val rnd = new scala.util.Random(3)
    val n = 120
    val edges = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val g = LinkGraph(spark, n, edges, directed = false)
    val store = new graft.core.CheckpointStore(
      java.nio.file.Files.createTempDirectory("graft-wcc-ckpt").toString, "wcc")
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("id", "comp").as[(Long, Long)].collect().sorted.toSeq
    val durable = rows(Components.wcc(g, store = Some(store)))
    assert(durable == rows(Components.wcc(g)))
    val rounds = store.latestIter(spark).get
    // the run converged in exactly `rounds` rounds: one fewer does not
    assert(intercept[IllegalArgumentException](
      Components.wcc(g, smallThreshold = 0L, maxIter = rounds - 1)).getMessage.contains("did not converge"))
    assert(rows(store.load(spark, rounds)) == durable)
    val metrics = store.metrics(spark).groupBy("iter").agg(org.apache.spark.sql.functions.sum("rows"))
      .as[(Int, Long)].collect().sorted.toSeq
    assert(metrics == (1 to rounds).map(i => (i, n.toLong)))
  }

  test("SCC refines WCC (property)") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (4L, 5L), (5L, 4L), (6L, 6L))
    val g = LinkGraph(spark, 8, edges, directed = true)
    val wcc = TestSession.longVector(Components.wcc(g), "comp")
    val scc = TestSession.longVector(Components.scc(g), "comp")
    // same SCC implies same WCC
    for (i <- scc.indices; j <- scc.indices if scc(i) == scc(j))
      assert(wcc(i) == wcc(j))
  }
}
