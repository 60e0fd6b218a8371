package perfbench

import java.nio.file.{Files, Paths}

/** JVM side of the benchmark: runs one workload against the engine's
  * public entry points and writes the raw measurements as JSON.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --inputs <generated inputs dir> --work <scratch dir> --out <json>
  *     [--param key=value ...]
  *
  * `run.py` generates the inputs, launches this, checks the outputs and
  * prints the benchmark's result line. */
object Main {
  def warn(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** The registry queries of `registry_mix`: one per family the roadmap
    * targets (PDF codec, graph, shingle similarity, column profile,
    * search). Why the others were left out is in perfbench/SPEC.md. */
  val registryQueries: Seq[String] = Seq(
    "q304_pdf_xref_stream", "q157_triangle_census", "q16_jaccard_pairs",
    "q88_profile", "q11_search_rank")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toSeq
    def opt(k: String) = opts.find(_._1 == s"--$k").map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    val params = opts.filter(_._1 == "--param").map { case (_, kv) =>
      val Array(k, v) = kv.split("=", 2); k -> v.toDouble
    }.toMap
    val workload = opt("workload")
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStart = Host.open()
    val (spark, sessionS) = Workloads.time {
      val s = graft.GraftSession.local(cores, "perfbench")
      s.sparkContext.setLogLevel("ERROR")
      s.range(1000).selectExpr("sum(id)").collect() // first job: scheduler + codegen init
      s
    }
    val tracer = new Tracer(spark, opt("trace") == "1")
    val ctx = new Ctx(spark, tracer, opt("inputs"), opt("work"), opt("seed").toLong,
      opt("seconds").toDouble, params)
    Files.createDirectories(Paths.get(ctx.work))

    // labels and the peak RSS cover the workload's set-up too: that is
    // where contamination and memory growth land first
    val window = Host.open()
    Host.resetPeakRss()
    val outcome = workload match {
      case "dashboard" => Workloads.dashboard(ctx)
      case "registry_mix" => Workloads.registry(ctx, registryQueries)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val peakRss = Host.peakRssMb()
    val labels = window.close() + ("host.load1_jvm_start" -> jvmStart.load1Start)
    val spans = tracer.snapshot()
    val maxCpuShare = spans.filter(_._1.seconds > 0).map { case (s, c) =>
      c.cpuNs / 1e9 / (s.seconds * cores)
    }.maxOption.getOrElse(0.0)
    tracer.close()

    val result = Map[String, Any](
      "workload" -> workload,
      "cores" -> cores,
      "session_s" -> sessionS,
      "prep_s" -> outcome.prepS,
      "samples_ms" -> outcome.samplesMs,
      "p50_ms" -> outcome.p50Ms,
      "geomean_ms" -> outcome.geomeanMs,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "peak_rss_mb" -> peakRss,
      "labels" -> labels,
      "checks" -> outcome.checks,
      "layers" -> (outcome.layers ++ labels ++ Map(
        "trace.max_cpu_share" -> maxCpuShare,
        "trace.spans" -> spans.size.toDouble)),
      "spans" -> spans.map { case (s, c) =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> c.jobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "task_cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
          "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
          "input_bytes" -> c.inputBytes, "input_records" -> c.inputRecords, "plan_ms" -> c.planMs)
      })
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }
}

/** Minimal JSON encoder for the result map. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
