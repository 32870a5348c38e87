package org.apache.spark.sql.execution

import org.apache.spark.sql.Row
import org.apache.spark.sql.classic.Dataset

/** Support shim for [[graft.core.Lineage.cut]] (must live under
  * `org.apache.spark.sql` to reach the `private[sql]` pieces it rewraps).
  *
  * `Dataset.localCheckpoint(eager = true)` is exactly the right lineage cut
  * for an iterative superstep loop — it checkpoints the INTERNAL UnsafeRow
  * RDD (no InternalRow -> Row -> InternalRow codec round-trip) and the
  * resulting `LogicalRDD` keeps the physical plan's output partitioning, so
  * a loop whose state is already hash-partitioned on the next join key
  * re-enters the join with no new Exchange. But since SPARK-39748 the
  * `LogicalRDD` it builds also CARRIES THE ORIGIN PLAN'S STATISTICS, and
  * join-size estimates are *products* of child `sizeInBytes`: chained
  * across supersteps the captured estimate's digit count doubles every
  * iteration, and by iteration ~20 Catalyst burns whole minutes multiplying
  * million-digit BigInts (observed twice in this repo: an LPA run on a
  * 10-vertex graph, and round 6's first localCheckpoint-based cut hanging
  * the distributed-Leiden suite in `BigInteger.multiplyToomCook3`).
  *
  * [[dropOriginStats]] rebuilds the checkpoint's `LogicalRDD` with
  * `originStats = None` (and no inherited constraints): planning falls back
  * to the flat leaf default estimate — O(1) digits per superstep, like the
  * pre-checkpoint `createDataFrame(rdd, schema)` cut — while the
  * checkpointed internal rows are kept. The output partitioning and
  * ordering are dropped as well (reason below).
  */
object GraftLogicalRdd {
  def dropOriginStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    ds.queryExecution.logical match {
      case lr: LogicalRDD =>
        // outputPartitioning/outputOrdering are dropped along with the
        // stats: a preserved partitioning makes every downstream Project
        // re-derive alias-mapped partitioning candidates
        // (PartitioningPreservingUnaryExecNode.outputPartitioning), and a
        // q_louvain probe caught the driver burning ~7 s of pure CPU in
        // that expansion — far more than the occasional saved Exchange is
        // worth on these loop shapes.
        Dataset.ofRows(ds.sparkSession,
          LogicalRDD(lr.output, lr.rdd)(ds.sparkSession, None, None))
      case _ => df
    }
  }
}
