package linkbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One span: a timed public call into the engine, with the Spark work it
  * caused. `parent` is the enclosing span (-1 at the top); spans of one
  * benchmark op share `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, jobs: Long, shuffleBytes: Long, gcMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory tracer. Disabled, `call` is just the body. Enabled, it drains
  * the listener bus around the call (outside the span's interval) and
  * records a [[Span]] with the call's job count, shuffle bytes (read +
  * written) and JVM GC time. Spans stay in memory until the run ends;
  * `selfNs` is the time the tracer itself added to each op.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new AtomicLong
  private val shuffle = new AtomicLong
  private var sc: SparkContext = _
  private var stack = List.empty[Int]
  private var nextId = 0
  var op = -1
  val selfNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        shuffle.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten +
          e.taskMetrics.shuffleReadMetrics.totalBytesRead)
        ()
      }
  }

  def attach(context: SparkContext): Unit =
    if (enabled) { context.addSparkListener(listener); sc = context }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def call[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val enter = System.nanoTime()
      BenchBus.drain(sc)
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val (j0, s0, g0) = (jobs.get, shuffle.get, gcMs())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        BenchBus.drain(sc)
        spans += Span(id, parent, op, name, t0, t1, jobs.get - j0, shuffle.get - s0, gcMs() - g0)
        stack = stack.tail
        if (parent == -1) selfNs(op) += (t0 - enter) + (System.nanoTime() - t1)
      }
    }
}

/** State of one benchmark run: the current Spark session, the fresh
  * per-run directory, the tracer, op/failure counts and the metrics the run
  * reports.
  */
final class Run(val dir: String, val seed: Long, val seconds: Double, val tracer: Tracer) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  private var current: Option[SparkSession] = None
  private var dirs = 0

  def traced: Boolean = tracer.enabled
  def spark: SparkSession = current.get

  /** Start a session with `cpus` task threads, stopping the previous one
    * first: one JVM, one SparkSession at a time. Every setting is fixed
    * here, identical for every workload and parallelism level.
    */
  def session(cpus: Int): SparkSession = {
    stop()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"linkbench-local$cpus")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.attach(s.sparkContext)
    current = Some(s)
    s
  }

  def stop(): Unit = { current.foreach(_.stop()); current = None }

  /** A new, empty directory under the run directory. */
  def fresh(name: String): String = { dirs += 1; s"$dir/d$dirs-$name" }

  def call[T](name: String)(body: => T): T = tracer.call(name)(body)

  /** Record one output check; a failed check fails the op it belongs to. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) failures += what
    ok
  }

  /** Run `op` repeatedly until `budget` seconds have passed since the
    * first op started (at least once). `op` returns whether its outputs
    * passed every check.
    */
  def measure(budget: Double)(op: Int => Boolean): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < budget) {
      tracer.op += 1
      attempted += 1
      val ok =
        try op(i)
        catch { case e: Exception => failures += s"op $i threw: $e"; false }
      if (!ok) failed += 1
      i += 1
    }
    i
  }

  /** The run's set-up: three times a fresh session plus `prepare` (input
    * generation into fresh directories), then `warm` once: the untimed
    * warm-up of the timed calls on a small input of the same shape.
    * `setup_s` is the median repetition plus the warm-up.
    */
  def setUp(prepare: => Unit)(warm: => Unit): Unit = {
    val reps = (0 until 3).map(_ => Stats.timed { session(4); prepare }._2)
    val (_, w) = Stats.timed(warm)
    put("setup_s", Stats.median(reps) + w, "s")
    put("setup.inputs_s", Stats.median(reps), "s")
    put("setup.warmup_s", w, "s")
    tracer.spans.clear()
  }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
