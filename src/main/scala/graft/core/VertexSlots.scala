package graft.core

/** A driver kernel's vertex index: `vids(i)` owns slot `i`. Looking up an id
  * that is not one of `vids` fails with a `require` naming the id and n, so
  * an edge endpoint outside a graph's `numVertices` range cannot land
  * silently on slot 0.
  */
final class VertexSlots(vids: Array[Long]) {
  val n: Int = vids.length
  private val idx = new java.util.HashMap[Long, Int](n * 2)
  vids.zipWithIndex.foreach { case (id, i) => idx.put(id, i) }

  def contains(id: Long): Boolean = idx.containsKey(id)

  def apply(id: Long): Int = {
    val s = idx.getOrDefault(id, -1)
    require(s >= 0, s"edge endpoint $id is outside the vertex ids 0..${n - 1} (n = $n)")
    s
  }
}
