package linkbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.data.Tables
import graft.ingest.Pages
import org.apache.spark.sql.{Row, SparkSession}

/** graph_queries: the `algos` layer used the other way, through
  * `SparkEntry.queries` on small graphs: gated driver kernels (PageRank,
  * Louvain, triangles), the distributed WCC loop (q_wcc pins it), Brandes
  * sweeps (q_harmonic) and the `data` graph build `Tables.copartGraph`, which
  * runs under q_triangles and q_louvain. It runs none of ingest and no
  * GridCsr.
  *
  * Input: seeded `events` and `lineitem` tables with the columns and
  * distributions of the TPC-H-style test tables, at scale `Scale`. One op is
  * one query; a pass runs all five. Each query's rows are written out and
  * checked against `SparkEntry.oracleSql` in DuckDB by run.py.
  */
object GraphQueries {
  val Queries = Seq("q_pagerank", "q_wcc", "q_triangles", "q_louvain", "q_harmonic")
  val Scale = 0.005

  private def unit(seed: Long, key: Long): Double =
    ((Pages.mix64(seed ^ Pages.mix64(key)) >>> 11) + 1).toDouble / (1L << 53).toDouble

  /** events(event_id, user_id, value) and lineitem(l_orderkey,
    * l_linenumber, l_partkey) as single-file parquet tables under `dir`:
    * 1e6·scale events over 15000·scale users with exponential values
    * (mean 50); 1.5e6·scale orders of 1 to 7 lines over 2e5·scale parts.
    */
  def writeTables(spark: SparkSession, seed: Long, scale: Double, dir: String): Unit = {
    import spark.implicits._
    val users = (15000 * scale).toLong
    val parts = (200000 * scale).toLong
    spark.range(0, (1000000 * scale).toLong, 1, 4).map { i =>
      val user = (unit(seed, 2 * i) * users).toLong.min(users - 1)
      val value = math.round(-50.0 * math.log(unit(seed, 2 * i + 1)) * 100) / 100.0
      (i, user, value)
    }.toDF("event_id", "user_id", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    spark.range(0, (1500000 * scale).toLong, 1, 4).flatMap { o =>
      val lines = 1 + (unit(seed, -2 * o - 1) * 7).toInt.min(6)
      (1 to lines).map(l => (o, l, (unit(seed, -2 * o - 2 - 1000003L * l) * parts).toLong.min(parts - 1)))
    }.toDF("l_orderkey", "l_linenumber", "l_partkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
  }

  /** JSON for one result cell; NaN and infinities travel as strings. */
  private def json(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) Json.str(d.toString) else d.toString
    case n @ (_: Long | _: Int) => n.toString
    case s => Json.str(s.toString)
  }

  private def rowsJson(cols: Seq[String], rows: Array[Row]): String =
    cols.map(Json.str).mkString("{\"cols\":[", ",", "],\"rows\":[") +
      rows.map(r => r.toSeq.map(json).mkString("[", ",", "]")).mkString(",") + "]}"

  def run(r: Run): Unit = {
    var data = ""
    r.setUp {
      data = r.fresh("tables")
      writeTables(r.spark, r.seed, Scale, data)
    } {
      // the warm-up pass runs on the measured tables themselves: they are
      // small, and identical plans let the timed pass reuse generated code
      Queries.foreach(q => SparkEntry.queries(q)(r.spark, data).collect())
    }
    val spark = r.spark
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    val out = new java.io.File(s"${r.dir}/outputs")
    out.mkdirs()
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var errors = 0
    val passes = r.measure(r.seconds) { pass =>
      if (r.traced) r.call("data.copart_build")(Tables.copartGraph(spark, data).ecount())
      val t0 = System.nanoTime()
      val results = Queries.map { q =>
        q -> (try {
          val (cols, rows) = r.call(s"query.$q") {
            val df = SparkEntry.queries(q)(spark, data)
            (df.columns.toSeq, df.collect())
          }
          rowsJson(cols, rows)
        } catch {
          case e: Exception =>
            errors += 1
            r.failures += s"pass $pass $q threw: $e"
            "{\"error\":" + Json.str(e.toString) + "}"
        })
      }
      walls += (System.nanoTime() - t0) / 1e9
      java.nio.file.Files.writeString(new java.io.File(out, s"pass$pass.json").toPath,
        results.map { case (q, j) => Json.str(q) + ":" + j }.mkString("{", ",", "}"))
      true
    }
    // one op per query execution; run.py adds the oracle mismatches
    r.attempted = passes * Queries.size
    r.failed = errors
    java.nio.file.Files.writeString(new java.io.File(out, "oracle.json").toPath,
      s"{\"tables\":${Json.str(data)},\"sql\":" +
        Queries.map(q => Json.str(q) + ":" + Json.str(SparkEntry.oracleSql(q))).mkString("{", ",", "}}"))
    r.put("wall_s", Stats.median(walls.toSeq), "s")
    r.put("driver.heap_peak_mb", heap.map(_.getPeakUsage.getUsed).sum / 1e6, "MB")
    Layers.report(r, "data.copart_build" +: Queries.map(q => s"query.$q"), walls.toSeq,
      Queries.map(q => s"query.$q").toSet)
  }
}
