package linkbench

/** Per-layer metrics from a traced run's spans. */
object Layers {

  /** For each timed call: median seconds, Spark jobs, shuffle MB and GC
    * seconds over the measured ops. `trace.coverage` is the share of each
    * op's wall that the calls in `inWall` account for (median over ops);
    * `walls(i)` is op i's wall. `trace.traced_wall_s` is the workload's
    * `wall_s` measured with tracing on: against an untraced run's `wall_s`
    * it gives the tracing overhead, of which `trace.overhead_s` is the part
    * the tracer's own bookkeeping adds per op.
    */
  def report(r: Run, calls: Seq[String], walls: Seq[Double], inWall: Set[String]): Unit =
    if (r.traced) {
      val spans = r.tracer.spans.toSeq
      calls.foreach { c =>
        val mine = spans.filter(s => s.name == c && s.op >= 0)
        if (mine.nonEmpty) {
          r.put(s"${c}_s", Stats.median(mine.map(_.seconds)), "s")
          r.put(s"$c.jobs", Stats.median(mine.map(_.jobs.toDouble)), "count")
          r.put(s"$c.shuffle_mb", Stats.median(mine.map(_.shuffleBytes / 1e6)), "MB")
          r.put(s"$c.gc_s", Stats.median(mine.map(_.gcMs / 1e3)), "s")
        }
      }
      val cover = walls.indices.map { i =>
        spans.filter(s => s.op == i && s.parent == -1 && inWall(s.name)).map(_.seconds).sum / walls(i)
      }
      r.put("trace.coverage", Stats.median(cover), "ratio")
      r.put("trace.traced_wall_s", Stats.median(walls), "s")
      r.put("trace.overhead_s", Stats.median(walls.indices.map(r.tracer.selfNs(_) / 1e9)), "s")
    }
}
