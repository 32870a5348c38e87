package graft

import graft.algos.Paths
import graft.core.{LinkGraph, Mode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** `bfs(vid, mode)` / `subcomponent(v, mode)` on a small digraph: hop
  * distances per mode, the source at distance 0, no row for a vertex the
  * source cannot reach.
  */
class PathsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  // 0 -> 1 -> 2 -> 4, 0 -> 3 -> 2, 5 -> 0, and a separate 8 -> 9; vertex 7
  // has no edges at all
  lazy val g: LinkGraph = {
    val s = spark
    import s.implicits._
    LinkGraph(Seq((0L, 1L), (1L, 2L), (0L, 3L), (3L, 2L), (2L, 4L), (5L, 0L), (8L, 9L))
      .toDF("src", "dst"), directed = true)
  }

  private def dists(df: DataFrame): Map[Long, Long] = {
    assert(df.columns.toSeq == Seq("id", "dist"))
    assert(df.schema("dist").dataType == LongType)
    val rows = df.collect()
    val m = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == rows.length, s"duplicate ids in ${rows.toSeq}")
    m
  }

  private def ids(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  test("bfs Out/In/All: (id, dist: bigint), source at 0, unreachable vertices absent") {
    assert(dists(Paths.bfs(g, 0L, Mode.Out)) == Map(0L -> 0L, 1L -> 1L, 3L -> 1L, 2L -> 2L, 4L -> 3L))
    assert(dists(Paths.bfs(g, 2L, Mode.In)) == Map(2L -> 0L, 1L -> 1L, 3L -> 1L, 0L -> 2L, 5L -> 3L))
    assert(dists(Paths.bfs(g, 4L, Mode.All)) ==
      Map(4L -> 0L, 2L -> 1L, 1L -> 2L, 3L -> 2L, 0L -> 3L, 5L -> 4L))
  }

  test("bfs from a source with no edges (or no out-edges) is that source alone") {
    Seq(Mode.Out, Mode.In, Mode.All).foreach { m =>
      assert(dists(Paths.bfs(g, 7L, m)) == Map(7L -> 0L), s"mode $m")
    }
    assert(dists(Paths.bfs(g, 4L, Mode.Out)) == Map(4L -> 0L))
  }

  test("subcomponent Out/In/All") {
    assert(ids(Paths.subcomponent(g, 0L, Mode.Out)) == Set(0L, 1L, 2L, 3L, 4L))
    assert(ids(Paths.subcomponent(g, 0L, Mode.In)) == Set(0L, 5L))
    assert(ids(Paths.subcomponent(g, 0L, Mode.All)) == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(ids(Paths.subcomponent(g, 9L, Mode.All)) == Set(8L, 9L))
    assert(ids(Paths.subcomponent(g, 7L)) == Set(7L))
  }
}
