package linkbench

import java.nio.file.{Files, Paths}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The timed JVM of one benchmark run (started by run.py, never by sbt).
  *
  * Usage: `linkbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --dir <fresh run dir> --result <file> --spans <file>`
  *
  * Writes the run's counts, metrics and failures to `--result`, and with
  * `--trace 1` every span to `--spans` (JSON lines) once the run is over.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val r = new Run(a("dir"), a("seed").toLong, a("seconds").toDouble, new Tracer(a("trace") == "1"))
    try a("workload") match {
      case "crawl_pipeline" => CrawlPipeline.run(r)
      case "pagerank_grid"  => PagerankGrid.run(r)
      case "graph_queries"  => GraphQueries.run(r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally r.stop()

    val metrics = r.metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":$v,\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(a("result")),
      s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
        s""""failures":${r.failures.map(Json.str).mkString("[", ",", "]")},"metrics":$metrics}""")
    if (r.traced)
      Files.writeString(Paths.get(a("spans")), r.tracer.spans.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs},""" +
          s""""shuffle_bytes":${s.shuffleBytes},"gc_ms":${s.gcMs}}"""
      }.mkString("", "\n", "\n"))
  }
}
