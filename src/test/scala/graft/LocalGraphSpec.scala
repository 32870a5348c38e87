package graft

import graft.core.{LocalGraph, Mode}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The collected-graph format of the driver kernels: numbering rules, CSR
  * fill order and the out-of-range `require` on plain arrays, and the
  * packed-column collect against `collect()`'s rows.
  */
class LocalGraphSpec extends AnyFunSuite {

  private def rows(es: (Long, Long, Double)*): Array[Row] = es.map(e => Row(e._1, e._2, e._3)).toArray

  test("numbering: range, first-seen over (src, dst), explicit ids first") {
    val rs = rows((5L, 3L, 1.0), (3L, 7L, 1.0), (7L, 5L, 1.0), (9L, 9L, 1.0))
    val seen = LocalGraph(rs)
    assert(seen.ids.toSeq == Seq(5L, 3L, 7L, 9L))
    assert(seen.src.toSeq == Seq(0, 1, 2, 3) && seen.dst.toSeq == Seq(1, 2, 0, 3))
    assert(LocalGraph.numbered(rs, None).ids.toSeq == seen.ids.toSeq)

    val first = LocalGraph(rs, first = Array(7L, 42L))
    assert(first.ids.toSeq == Seq(7L, 42L, 5L, 3L, 9L))
    assert(first.src.toSeq == Seq(2, 3, 0, 4) && first.dst.toSeq == Seq(3, 0, 2, 4))
    assert(first.slot(42L) == 1 && first.contains(5L) && !first.contains(6L))

    val range = LocalGraph.numbered(rs, Some(11L))
    assert(range.ids.toSeq == (0L until 11L) && range.n == 11 && range.m == 4)
    assert(range.src.toSeq == Seq(5, 3, 7, 9) && range.dst.toSeq == Seq(3, 7, 5, 9))
    assert(range.contains(10L) && !range.contains(11L) && !range.contains(-1L))
  }

  test("out and undirected views fill in row order; undirected skips loops") {
    val lg = LocalGraph.numbered(
      rows((0L, 2L, 1.0), (1L, 0L, 2.0), (0L, 1L, 3.0), (2L, 2L, 4.0), (0L, 2L, 5.0)), Some(3L))
    assert(lg.weight.toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0))

    val out = lg.out(weighted = true)
    assert(out.off.toSeq == Seq(0, 3, 4, 5))
    assert(out.nbr.toSeq == Seq(2, 1, 2, 0, 2))
    assert(out.w.toSeq == Seq(1.0, 3.0, 5.0, 2.0, 4.0))
    assert(lg.out().w == null)

    // row i adds src -> dst, then dst -> src
    val und = lg.undirected(weighted = true)
    assert(und.off.toSeq == Seq(0, 4, 6, 8))
    assert(und.nbr.toSeq == Seq(2, 1, 1, 2, 0, 0, 0, 0))
    assert(und.w.toSeq == Seq(1.0, 2.0, 3.0, 5.0, 2.0, 3.0, 1.0, 5.0))
    assert(lg.undirected().nbr.toSeq == und.nbr.toSeq && lg.undirected().w == null)

    // mode views of the distance kernels: non-loop rows, Out as stored, In reversed
    val outArcs = lg.arcs(Mode.Out, weighted = true)
    assert(outArcs.off.toSeq == Seq(0, 3, 4, 4))
    assert(outArcs.nbr.toSeq == Seq(2, 1, 2, 0) && outArcs.w.toSeq == Seq(1.0, 3.0, 5.0, 2.0))
    val inArcs = lg.arcs(Mode.In, weighted = true)
    assert(inArcs.off.toSeq == Seq(0, 1, 2, 4))
    assert(inArcs.nbr.toSeq == Seq(1, 0, 0, 0) && inArcs.w.toSeq == Seq(2.0, 3.0, 1.0, 5.0))
    assert(lg.arcs(Mode.All).nbr.toSeq == und.nbr.toSeq && lg.arcs(Mode.In).w == null)
  }

  test("oriented build: the generic CSR over caller-chosen (from, to) arcs") {
    // edges oriented by a caller rule (here: higher slot -> lower slot)
    val lg = LocalGraph(rows((10L, 20L, 1.0), (30L, 10L, 1.0), (20L, 30L, 1.0)))
    val lo = lg.src.indices.map(i => math.max(lg.src(i), lg.dst(i))).toArray
    val hi = lg.src.indices.map(i => math.min(lg.src(i), lg.dst(i))).toArray
    val csr = LocalGraph.csr(lg.n, lo, hi)
    assert(csr.off.toSeq == Seq(0, 0, 1, 3))
    assert(csr.nbr.toSeq == Seq(0, 0, 1))
    assert(csr.w == null)
    assert(LocalGraph.csr(0, Array.emptyIntArray, Array.emptyIntArray).off.toSeq == Seq(0))
  }

  test("an endpoint outside the range fails naming the id and n") {
    val e = intercept[IllegalArgumentException](
      LocalGraph.numbered(rows((0L, 1L, 1.0), (1L, 5L, 1.0)), Some(3L)))
    assert(e.getMessage.contains("endpoint 5") && e.getMessage.contains("n = 3"), e.getMessage)
    val lg = LocalGraph(rows((0L, 1L, 1.0)))
    val e2 = intercept[IllegalArgumentException](lg.slot(5L))
    assert(e2.getMessage.contains("endpoint 5") && e2.getMessage.contains("n = 2"), e2.getMessage)
  }

  test("packed-column collect == numbered(collect()): several partitions, sparse ids, one job") {
    val spark = TestSession.spark
    import org.apache.spark.sql.types._
    val es = Seq((1000L, -7L, 2.0), (-7L, 3L, 1.0), (3L, 1000L, 0.5), (12L, -7L, 1.0), (-40L, 12L, 3.0),
      (3L, -40L, 1.0), (1000L, 77L, 1.0), (-40L, 77L, 1.0), (77L, 77L, 4.0))
    val schema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType),
      StructField("weight", DoubleType)))
    // 12 slices for 9 rows: some partitions are empty; unweighted rows carry weight 1.0
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows(es: _*).toSeq, 12), schema)
    val unit = spark.createDataFrame(spark.sparkContext.parallelize(rows(es.map(e => (e._1, e._2, 1.0)): _*).toSeq, 5), schema)
    for (frame <- Seq(df, unit)) {
      val want = LocalGraph.numbered(frame.collect(), None)
      val (got, jobs) = JobCounter(spark)(LocalGraph.collect(frame, None))
      assert(jobs.size == 1)
      assert(got.ids.toSeq == want.ids.toSeq && got.ids.toSeq == Seq(1000L, -7L, 3L, 12L, -40L, 77L))
      assert(got.src.toSeq == want.src.toSeq && got.dst.toSeq == want.dst.toSeq)
      assert(got.weight.toSeq == want.weight.toSeq)
    }
    val pairs = LocalGraph.collect(df.select("src", "dst"), None)
    assert(pairs.src.toSeq == LocalGraph.numbered(df.collect(), None).src.toSeq)
    assert(intercept[IllegalArgumentException](pairs.weight).getMessage.contains("no weight column"))

    val dense = spark.createDataFrame(spark.sparkContext.parallelize(rows((0L, 2L, 1.0), (2L, 1L, 1.0), (1L, 0L, 2.0)).toSeq, 3), schema)
    val range = LocalGraph.collect(dense, Some(4L))
    assert(range.ids.toSeq == (0L until 4L) && range.src.toSeq == Seq(0, 2, 1) && range.dst.toSeq == Seq(2, 1, 0))
    val e = intercept[IllegalArgumentException](LocalGraph.collect(dense, Some(2L)))
    assert(e.getMessage.contains("endpoint 2") && e.getMessage.contains("n = 2"), e.getMessage)
  }
}
