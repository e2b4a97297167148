package perfbench

import java.io.File

/** The end-to-end metrics every workload reports (BENCHMARK.json). */
object Metrics {
  final case class Def(name: String, unit: String, better: String)
  val endToEnd: Seq[Def] = Seq(
    Def("setup_s", "s", "lower"),
    Def("throughput_per_s", "1/s", "higher"),
    Def("op_p50_ms", "ms", "lower"),
    Def("quality", "ratio", "higher"))
}

/** Runs one workload and prints its result as the last line of stdout:
  * `{"correct", "attempted", "failed", "metrics"}`. Everything else goes
  * to stderr.
  *
  * {{{
  * Main --workload <fit-score|score-stream|corpus-maintain> --seed <n>
  *      --seconds <n> --trace <0|1> --work <dir> [--untraced <result.json>]
  * }}}
  */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "fit-score" -> FitScore.run,
    "score-stream" -> StreamServe.run,
    "corpus-maintain" -> CorpusMaintain.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    Files.delete(work)
    work.mkdirs()

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Session.create(work, cores)
    val tr = new Tracer(traced, s"$workload-$seed-${if (traced) "traced" else "plain"}")
    val code =
      try {
        tr.attach(spark)
        val o = run(new Ctx(spark, work, seed, seconds, tr))
        tr.detach(spark)
        o.checks.foreach { case (name, ok) =>
          System.err.println(s"[check] ${if (ok) "ok  " else "FAIL"} $name")
        }
        o.named.foreach { case (n, v, u) => System.err.println(f"[metric] $workload%s $n%s = $v%.6g $u%s") }
        val metrics: Seq[(String, Double, String)] =
          if (!traced) Metrics.endToEnd.map(m => (m.name, o.e2e(m.name), m.unit))
          else {
            val overhead = opts.get("untraced").map(p => untracedOverhead(p, o)).getOrElse(Map.empty)
            val layers = Layers.compute(tr, o, overhead)
            Layers.defs.foreach { df =>
              System.err.println(f"[layer] ${df.name}%-34s ${layers(df.name)}%14.4f ${df.unit}%-6s moves: ${df.moves}")
            }
            TraceDump.write(new File(opts.getOrElse("trace-dir", work.getPath)), tr, o)
            Layers.defs.map(df => (df.name, layers(df.name), df.unit))
          }
        println("NAMED {" + o.named.map { case (n, v, u) =>
          s"${Json.str(n)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(u)}}"
        }.mkString(", ") + "}")
        val finite = metrics.forall(m => java.lang.Double.isFinite(m._2))
        val correct = o.correct && finite
        println(Json.result(correct, o.attempted, o.failed, metrics))
        if (correct) 0 else 1
      } finally spark.stop()
    Files.delete(new File(work, "spark-local"))
    sys.exit(code)
  }

  /** Traced minus untraced, per end-to-end metric, against the untraced
    * result of the same workload and seed. */
  private def untracedOverhead(path: String, o: Outcome): Map[String, Double] = {
    val src = scala.io.Source.fromFile(path)
    val text = try src.mkString finally src.close()
    Metrics.endToEnd.flatMap { m =>
      val re = ("\"" + java.util.regex.Pattern.quote(m.name) +
        "\"\\s*:\\s*\\{\\s*\"value\"\\s*:\\s*([-+0-9.eE]+)").r
      re.findFirstMatchIn(text).map(x => m.name -> (o.e2e(m.name) - x.group(1).toDouble))
    }.toMap
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${str(n)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Writes a traced run's spans (with self time), jobs and micro-batches
  * as one JSON document when the run ends. */
object TraceDump {
  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.ms - Stats.covered(children.map(k => (k.start, k.end)), s.start, s.end)

  def write(dir: File, tr: Tracer, o: Outcome): Unit = {
    dir.mkdirs()
    val spans = tr.allSpans
    val kids = spans.groupBy(_.parent)
    val sb = new StringBuilder
    sb ++= s"""{"run_id": ${Json.str(tr.runId)}, "spans": ["""
    sb ++= spans.sortBy(_.start).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
      s""""start_ms": ${Json.num(s.start)}, "end_ms": ${Json.num(s.end)}, """ +
      s""""self_ms": ${Json.num(selfMs(s, kids.getOrElse(s.id, Nil)))}, "thread": ${Json.str(s.thread)}}"""
    }.mkString(",\n  ")
    sb ++= "],\n \"jobs\": ["
    sb ++= tr.allJobs.sortBy(_.id).map { j =>
      s"""{"id": ${j.id}, "submit_ms": ${Json.num(j.submit)}, "end_ms": ${Json.num(j.end)}, """ +
      s""""label": ${Json.str(j.label)}, "stages": [${j.stageIds.mkString(", ")}]}"""
    }.mkString(",\n  ")
    sb ++= "],\n \"batches\": ["
    sb ++= tr.allBatches.map { b =>
      s"""{"batch_id": ${b.batchId}, "start_ms": ${Json.num(b.start)}, "input_rows": ${b.inputRows}, """ +
      s""""durations_ms": {${b.durations.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")}}}"""
    }.mkString(",\n  ")
    sb ++= s"""],\n "tasks": ${tr.allTasks.size}, "window_ms": ${Json.num(o.window.wallMs)}}\n"""
    val f = new File(dir, s"${tr.runId}.trace.json")
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
    System.err.println(s"[perfbench] trace written to ${f.getPath}")
  }
}
