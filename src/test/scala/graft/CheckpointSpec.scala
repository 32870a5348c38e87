package graft

import graft.core.CheckpointStore
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

/** The durable snapshot store: what a save costs and what a crash leaves. */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def state(n: Int) =
    spark.range(0, n, 1, 4).selectExpr("id", "cast(id as double) / 1000 as rank")

  test("save starts no job beyond the state write and re-reads the state schema") {
    val dir = Files.createTempDirectory("graft-ckpt-jobs")
    val store = new CheckpointStore(dir.toString, "jobs")
    val df = state(1000)
    val (_, writeJobs) = JobCounter(spark)(df.write.parquet(dir.resolve("plain").toString))
    val (reread, saveJobs) = JobCounter(spark)(store.save(spark, 1, df, System.currentTimeMillis()))
    assert(saveJobs.size == writeJobs.size, s"save jobs $saveJobs vs a plain write's $writeJobs")
    // every job belongs to the one SQL execution of the write: a schema
    // inference (no execution id) or a metrics query would add another
    assert(!saveJobs.contains(null) && saveJobs.distinct.size == 1, s"save jobs $saveJobs")
    assert(reread.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
    assert(reread.count() == 1000)
    val m = store.metrics(spark).collect()
    assert(m.map(_.getAs[Long]("rows")).sum == 1000)
    assert(m.map(_.getAs[Int]("partition")).sorted.toSeq == m.indices)
    assert(m.forall(r => r.getAs[String]("run_id") == "jobs" && r.getAs[Int]("iter") == 1))
  }

  test("crash leftovers: latestIter skips an uncommitted iter=K, metrics() ignores a _tmp- file") {
    val dir = Files.createTempDirectory("graft-ckpt-crash")
    val store = new CheckpointStore(dir.toString, "crash")
    val t0 = System.currentTimeMillis()
    store.save(spark, 1, state(100), t0)
    store.save(spark, 2, state(100), t0)
    assert(store.latestIter(spark).contains(2))
    // a state write that died before its commit: files but no _SUCCESS
    val partial = Files.createDirectories(dir.resolve("state").resolve("iter=3"))
    Files.list(dir.resolve("state").resolve("iter=2")).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().ifPresent((p: Path) => Files.copy(p, partial.resolve(p.getFileName)))
    assert(store.latestIter(spark).contains(2))
    // a metrics write that died before its rename: a truncated line
    Files.write(dir.resolve("metrics").resolve(s"_tmp-${java.util.UUID.randomUUID()}.json"),
      "{\"partition\":0,\"rows\":99".getBytes(UTF_8))
    val m = store.metrics(spark)
    assert(m.select("iter").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(m.where("rows is null or partition is null").count() == 0)
    assert(m.agg(sum("rows")).head.getLong(0) == 200)
  }
}
