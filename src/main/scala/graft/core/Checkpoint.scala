package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.RecordConsumer
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType

/** Versioned vertex-state checkpoint store for iterative algorithms.
  *
  * Every iteration of PageRank/WCC/LPA writes its vertex state plus
  * per-partition lineage/metrics rows to a snapshot directory, so a run can
  * resume mid-computation (BASELINE.json north_rule: "resumable from
  * checkpoint with per-partition lineage + metrics"). The layout is an
  * Iceberg-style snapshot log realized on plain parquet because the sandbox
  * ships no Iceberg runtime; on a real cluster the same writes target
  * `writeTo(table).overwritePartitions()` with `iter` as partition column.
  *
  * Layout:
  *   root/state/iter=K/        vertex state parquet for iteration K; only a
  *                             directory with a `_SUCCESS` marker is a
  *                             resume candidate
  *   root/metrics/iter-K-<uuid>.json
  *                             one JSON-lines file per saved iteration, one
  *                             line per written part file:
  *                             (partition, rows, run_id, iter, ms)
  *
  * Two ways to write iteration K:
  *   - [[save]] writes a DataFrame through Spark's parquet writer, which
  *     commits `_SUCCESS`; `partition` is the part file's index and `rows`
  *     comes from its parquet footer. It starts no Spark job beyond the
  *     write, and the re-read carries the state's schema (no inference job).
  *   - part-written snapshots (PageRank), in two flavours that share the
  *     layout. The driver empties `iter=K` with [[clear]], the blocks'
  *     `(id, rank)` rows are written with [[CheckpointStore.writePart]] to
  *     `part-<block>.parquet`, and then [[commit]] writes the metrics file
  *     from the row counts the writers returned (`partition` = block, no
  *     footer reads) and then `_SUCCESS`, the commit point. On GridBlocks
  *     each task of the superstep writes its block (a retried task
  *     overwrites its own file) and the commit follows the superstep's
  *     action; the driver kernel writes its contiguous slot blocks itself,
  *     one thread per block, and commits when they are all written.
  *
  * Metrics are one small file written through the Hadoop `FileSystem` on the
  * driver (no shuffle, no parquet append), under a `_tmp-` name and then
  * renamed, so a crash mid-write leaves only a name that Spark's file
  * listing skips.
  */
final class CheckpointStore(val root: String, val runId: String) {
  import CheckpointStore._

  private def stateDir(iter: Int) = s"$root/state/iter=$iter"
  private def metricsDir = s"$root/metrics"
  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write state for iteration `iter` and its metrics file; returns the
    * re-read DataFrame, which also truncates plan lineage (the driver-loop
    * analog of Pregel superstep barriers).
    */
  def save(spark: SparkSession, iter: Int, state: DataFrame, startedAtMs: Long): DataFrame = {
    state.write.mode(SaveMode.Overwrite).parquet(stateDir(iter))
    val conf = spark.sparkContext.hadoopConfiguration
    val files = fs(spark).listStatus(new Path(stateDir(iter))).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.getName)
    val rows = files.zipWithIndex.map { case (f, i) =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try (i, reader.getRecordCount) finally reader.close()
    }
    writeMetrics(spark, iter, rows.toSeq, startedAtMs)
    spark.read.schema(state.schema).parquet(stateDir(iter))
  }

  /** Empty iteration `iter`'s state directory for a task-written snapshot
    * (a stale commit marker or part file of an earlier run would otherwise
    * survive); returns the directory the tasks write to.
    */
  def clear(spark: SparkSession, iter: Int): String = {
    val dir = new Path(stateDir(iter))
    val out = fs(spark)
    out.delete(dir, true)
    out.mkdirs(dir)
    stateDir(iter)
  }

  /** Commit a task-written snapshot: the metrics file from `(block, rows)`
    * as the part files' writers reported them, then `_SUCCESS`.
    */
  def commit(spark: SparkSession, iter: Int, rows: Seq[(Int, Long)], startedAtMs: Long): Unit = {
    writeMetrics(spark, iter, rows, startedAtMs)
    fs(spark).create(new Path(stateDir(iter), "_SUCCESS"), true).close()
  }

  private def writeMetrics(spark: SparkSession, iter: Int, rows: Seq[(Int, Long)], startedAtMs: Long): Unit = {
    val ms = System.currentTimeMillis() - startedAtMs
    val lines = rows.map { case (part, n) =>
      new GenericRowWithSchema(Array[Any](part, n, runId, iter, ms), MetricsSchema).json + "\n"
    }
    // no '=' in the temporary name: Spark's listing keeps `_`-prefixed
    // names that contain one (partition directories)
    val out = fs(spark)
    val uuid = java.util.UUID.randomUUID()
    val tmp = new Path(metricsDir, s"_tmp-$uuid.json")
    val dst = new Path(metricsDir, s"iter-$iter-$uuid.json")
    val w = out.create(tmp, false)
    try w.write(lines.mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally w.close()
    if (!out.rename(tmp, dst)) throw new java.io.IOException(s"could not rename $tmp to $dst")
  }

  /** Latest checkpointed iteration, if any — the resume point. */
  def latestIter(spark: SparkSession): Option[Int] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$root/state")
    if (!fs.exists(p)) None
    else {
      // only fully committed snapshots are resume candidates: a crash during
      // a state write leaves a partial iter=K dir with no _SUCCESS marker;
      // resuming from it would silently misattribute missing vertices' mass
      val iters = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("iter="))
        .filter(name => fs.exists(new org.apache.hadoop.fs.Path(s"$root/state/$name/_SUCCESS")))
        .map(_.stripPrefix("iter=").toInt)
      if (iters.isEmpty) None else Some(iters.max)
    }
  }

  def load(spark: SparkSession, iter: Int): DataFrame =
    spark.read.parquet(stateDir(iter))

  /** Every metrics line of every run written to this root. */
  def metrics(spark: SparkSession): DataFrame =
    spark.read.schema(MetricsSchema).json(metricsDir)
}

object CheckpointStore {
  private val MetricsSchema: StructType =
    StructType.fromDDL("partition INT, rows BIGINT, run_id STRING, iter INT, ms BIGINT")

  /** The snapshot schema of a task-written part file, as Spark reads it:
    * `(id BIGINT, rank DOUBLE)`.
    */
  private val SnapshotSchema = MessageTypeParser.parseMessageType(
    "message spark_schema { required int64 id; required double rank; }")

  /** One `(id, rank)` row, reused across a part file's records. */
  private final class IdRank { var id = 0L; var rank = 0.0 }

  private final class IdRankWrite extends WriteSupport[IdRank] {
    private var out: RecordConsumer = _
    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(SnapshotSchema, java.util.Collections.emptyMap[String, String]())
    override def prepareForWrite(rc: RecordConsumer): Unit = out = rc
    override def write(r: IdRank): Unit = {
      out.startMessage()
      out.startField("id", 0); out.addLong(r.id); out.endField("id", 0)
      out.startField("rank", 1); out.addDouble(r.rank); out.endField("rank", 1)
      out.endMessage()
    }
  }

  private final class IdRankWriter(file: Path) extends ParquetWriter.Builder[IdRank, IdRankWriter](file) {
    override protected def self(): IdRankWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[IdRank] = new IdRankWrite
  }

  /** Write one block of a task-written snapshot (executor side): rows
    * `(id(i), rank(i))` for `i < rows` to `dir/part-<block>.parquet`,
    * replacing the file an earlier attempt of the same task left. Returns
    * the number of rows written, the count [[CheckpointStore.commit]] logs.
    */
  def writePart(conf: Configuration, dir: String, block: Int, rows: Int,
                id: Int => Long, rank: Int => Double): Long = {
    val w = new IdRankWriter(new Path(dir, f"part-$block%05d.parquet"))
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withDictionaryEncoding(false)
      .build()
    try {
      val r = new IdRank
      var i = 0
      while (i < rows) { r.id = id(i); r.rank = rank(i); w.write(r); i += 1 }
    } finally w.close()
    rows.toLong
  }
}

/** In-memory lineage truncation for iterative loops.
  *
  * NOT `localCheckpoint`: that rewrites the new LogicalRDD's statistics from
  * the origin plan, and join-size estimates are *products* of child
  * `sizeInBytes` — chained across supersteps the estimate's digit count
  * doubles every iteration, and by iteration ~20 Catalyst burns CPU
  * multiplying million-digit BigInts (observed: Toom-Cook multiplication
  * dominating an LPA run on a 10-vertex graph). Persisting the RDD and
  * wrapping it in a fresh `createDataFrame` resets stats to the default
  * leaf estimate each superstep, keeping planning O(1) per iteration.
  */
object Lineage {
  def cut(df: DataFrame): DataFrame =
    // Dataset.localCheckpoint(eager=true) truncates BOTH the logical plan
    // (flat LogicalRDD — constant plan depth per superstep) and the RDD
    // lineage, exactly like the previous `df.rdd` + `createDataFrame` pair,
    // and it checkpoints the INTERNAL UnsafeRow RDD, so there is no
    // per-superstep InternalRow -> external Row -> InternalRow codec
    // round-trip (DeserializeToObject/SerializeFromObject pairs disappear
    // from every iterative plan; guide §1.4/§2.4).
    // The raw checkpoint must NOT be returned as-is: since SPARK-39748 its
    // LogicalRDD carries the origin plan's statistics, and chained across
    // supersteps those estimates compound multiplicatively until Catalyst
    // spends minutes on million-digit BigInt products (the failure mode
    // this object's docstring documents — it bit again the first time cut
    // used localCheckpoint directly). dropOriginStats rebuilds the
    // LogicalRDD with fresh leaf stats and deliberately DROPS the output
    // partitioning and ordering too (see GraftLogicalRdd: a preserved
    // partitioning cost seconds of driver CPU per plan in alias-mapped
    // partitioning expansion), so the next superstep's join may add an
    // Exchange on the small state side; only the rows are kept.
    org.apache.spark.sql.execution.GraftLogicalRdd.dropOriginStats(
      df.localCheckpoint(true))

  /** Cheap materialization without plan truncation: persist + count. The
    * cached InMemoryRelation carries REAL size stats (no estimate
    * compounding), so joins against it broadcast when it is genuinely
    * small. ONLY for state computed once and reused (a loop that soft-cuts
    * its per-iteration state keeps full lineage: a state referenced twice
    * per step doubles the logical plan every iteration, and analysis /
    * cache-canonicalization cost grows exponentially — observed as an
    * effective hang by sweep ~12).
    */
  def soft(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** Hard [[cut]] that collapses provably tiny state to a driver-local
    * relation. The superstep state is materialized exactly as in [[cut]];
    * if its schema-estimated size is at most `maxLocalBytes` (default 4 MB,
    * under the 10 MB autoBroadcastJoinThreshold) the rows are pulled to the
    * driver and re-emitted as a LocalRelation, whose REAL tiny stats make
    * every downstream join a static broadcast-hash-join — no exchange on
    * either side when the other side is cached. Otherwise this IS [[cut]].
    *
    * Use ONLY for state that is tiny BY CONSTRUCTION (k-means centroids:
    * k·d rows regardless of corpus size — [[graft.sim.KMeans]]). Do NOT
    * use it for corpus-sized loop state that merely happens to be small at
    * the test scale: an A/B at sf0.1 showed Louvain's per-sweep membership
    * through this path regressing 21.9 s -> 38.1 s (the per-sweep
    * collect + single-slice LocalRelation costs more than the distributed
    * cut it replaced), so Louvain/Leiden stay on [[cut]].
    */
  def cutAdaptive(df: DataFrame, maxLocalBytes: Long = 4L << 20): DataFrame = {
    val spark = df.sparkSession
    val rowBytes = df.schema.map(_.dataType.defaultSize).sum.max(1)
    val maxRows = maxLocalBytes / rowBytes
    // checkpoint once (one full execution); the count and the tiny-case
    // collect both read the checkpointed UnsafeRows, so they are cheap
    // cache-scan jobs, not re-executions of the plan
    val cp = org.apache.spark.sql.execution.GraftLogicalRdd.dropOriginStats(
      df.localCheckpoint(true))
    if (cp.count() <= maxRows) {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(cp.collect().toSeq.asJava, df.schema)
    } else cp
  }

  /** Collect-to-LocalRelation cut for state that is tiny BY CONSTRUCTION
    * (k-means centroids: k·d rows at any corpus size; PQ codebooks). ONE
    * job, and the LocalRelation's real tiny stats make every downstream
    * join a static broadcast. Never use for corpus-sized state.
    */
  def cutLocal(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }
}

/** Driver-side loop helper: lineage truncation for in-memory iteration
  * (tests / benchmarks), optional durable store.
  */
object Iterate {

  /** Truncate lineage; durable when a store is given, in-memory otherwise. */
  def cut(state: DataFrame, iter: Int, store: Option[CheckpointStore], t0: Long): DataFrame =
    store match {
      case Some(s) => s.save(state.sparkSession, iter, state, t0)
      case None    => Lineage.cut(state)
    }
}
