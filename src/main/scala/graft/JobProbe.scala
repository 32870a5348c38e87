package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-JOB wall-time probe (r06): runs named SparkEntry queries once and
  * prints every Spark job's wall seconds + description (the "which action
  * is eating the query wall" view), every stage over 0.3 s, and then one
  * JSON line of totals per query — jobs, stages, tasks and shuffle MB, the
  * noise-free execution-shape evidence for plan-shape A/Bs where wall
  * clocks on a shared host swing ±2× (BENCH.md methodology note). Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_PROBE_QUERIES=q_embed_dedup_lsh \
  *     sbt "runMain graft.JobProbe"
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES", "q_embed_dedup_lsh")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", math.max(cpus, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var shufWrite = 0L
    @volatile var shufRead = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        starts.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, desc) = starts.getOrDefault(j.jobId, (0L, "?"))
        println(f"  job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.2fs  $desc")
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        stages += 1
        tasks += i.numTasks
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        shufRead += m.shuffleReadMetrics.totalBytesRead
        if (i.completionTime.zip(i.submissionTime).exists { case (a, b) => a - b > 300 })
          println(f"    stage ${i.stageId}%3d ${(i.completionTime.get - i.submissionTime.get) / 1e3}%7.2fs tasks=${i.numTasks}%-3d in=${m.inputMetrics.recordsRead}%d sh_r=${m.shuffleReadMetrics.recordsRead}%d sh_w=${m.shuffleWriteMetrics.recordsWritten}%d out=${m.outputMetrics.recordsWritten}%d  ${i.name.takeWhile(_ != '\n')}")
      }
    })
    names.foreach { name =>
      println(s"== $name")
      jobs = 0; stages = 0; tasks = 0; shufWrite = 0; shufRead = 0
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // let the listener bus drain (private API in 4.x)
      println(f"== $name total $wall%.2fs rows=$n")
      println(f"""{"probe":"$name","rows":$n,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"shuffle_write_mb":${shufWrite / 1e6}%.1f,"shuffle_read_mb":${shufRead / 1e6}%.1f}""")
    }
    spark.stop()
  }
}
