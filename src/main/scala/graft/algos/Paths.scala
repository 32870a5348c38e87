package graft.algos

import graft.core.{LinkGraph, Mode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Traversal operators: BFS distances / reachability.
  *
  * Reference: `bfs(vid, mode)` (`graphobject.c:14758-14790`),
  * `subcomponent(v, mode)` (`graphobject.c:14003-14017`),
  * unweighted `shortest_paths` rows (`graphobject.c:13921`).
  *
  * BFS is [[Distances.multiBfs]] from one origin: a collected-array sweep
  * under its gate, else one frontier join per level with the visited set
  * anti-joined and the lineage cut per round.
  */
object Paths {

  /** Minimal hop distance from `source` to every reachable vertex: a
    * one-origin [[Distances.multiBfs]] (its gated kernel, else its layered
    * frontier loop).
    * @return (id, dist) — unreachable vertices are absent.
    */
  def bfs(g: LinkGraph, source: Long, mode: Mode = Mode.Out): DataFrame =
    Distances.multiBfs(g, mode, Some(g.spark.range(1).select(lit(source).as("id"))))
      .select(col("v").as("id"), col("dist"))

  /** Vertices reachable from v (mode=Out), reaching v (In), or in the same
    * weak component (All) — the reference's `subcomponent`.
    */
  def subcomponent(g: LinkGraph, v: Long, mode: Mode = Mode.All): DataFrame =
    bfs(g, v, mode).select("id")

  /** `dfsiter(vid, mode)` (`dfsiter.c:1-294`): preorder DFS sequence with
    * smallest-neighbor-first tie-break. DFS is inherently sequential —
    * driver-side over a collected adjacency (small/ego-graph utility; the
    * distributed traversal primitive is [[bfs]]).
    */
  def dfsIter(g: LinkGraph, source: Long, mode: Mode = Mode.Out): Seq[Long] = {
    val adjDf = (mode match {
      case Mode.Out => g.weighted
      case Mode.In  => g.weighted.select(col("dst").as("src"), col("src").as("dst"))
      case Mode.All => g.bidirected
    }).select("src", "dst").distinct()
    val adj = adjDf.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    def visit(v: Long): Unit = {
      if (!seen.contains(v)) {
        seen += v
        adj.getOrElse(v, Nil).foreach(visit)
      }
    }
    visit(source)
    seen.toSeq
  }
}
