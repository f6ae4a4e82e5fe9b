package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. See perfbench/README.md.
  *
  * {{{
  * perfbench.Main --workload <ingest_rw|dashboard|corpus_dedup> --seed <n>
  *   --seconds <s> --trace <0|1> --tmp <dir> [--spans <file>] [--wrong-answer]
  * }}}
  *
  * Prints the workload's named metrics and input properties as one JSON
  * line, then the result line: end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`.
  */
object Main {
  val Workloads: Map[String, Ctx => Report] = Map(
    "ingest_rw" -> IngestRw.run,
    "dashboard" -> Dashboard.run,
    "corpus_dedup" -> CorpusDedup.run)

  private def options(argv: Array[String]): Map[String, String] =
    argv.indices.collect {
      case i if argv(i).startsWith("--") && i + 1 < argv.length &&
          !argv(i + 1).startsWith("--") => argv(i) -> argv(i + 1)
    }.toMap

  private def parse(argv: Array[String]): Args = {
    val kv = options(argv)
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    val a = Args(
      workload = need("--workload"),
      seed = need("--seed").toLong,
      seconds = need("--seconds").toInt,
      trace = need("--trace") == "1",
      tmp = Paths.get(need("--tmp")),
      wrongAnswer = argv.contains("--wrong-answer"))
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a.copy(tmp = a.tmp.toAbsolutePath)
  }

  private def fmt(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case x => x.toString
  }

  private def metricsJson(ms: Seq[(String, M)]): String =
    ms.map { case (k, m) => s"""${fmt(k)}: {"value": ${fmt(m.value)}, "unit": ${fmt(m.unit)}}""" }
      .mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spans = options(argv).get("--spans").map(Paths.get(_))
    Files.createDirectories(args.tmp)
    val cores = Runtime.getRuntime.availableProcessors.min(4)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.tmp.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", args.tmp.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        val ctx = new Ctx(spark, args)
        val r = Workloads(args.workload)(ctx)
        val failedRatio = ctx.failed.toDouble / ctx.attempted
        val unitOf = (Layers.Named ++ Layers.All).toMap
        val named = (("failed_ratio" -> failedRatio) +: r.named)
          .map { case (k, v) => k -> M(v, unitOf(k)) }
        val props = r.properties ++ Seq(
          "cores" -> cores,
          "seed" -> args.seed,
          "setup_runs_s" -> ctx.setupSeconds.map(s => f"$s%.3f").mkString(" "),
          "timed_ops" -> ctx.ops.size,
          "op_seconds" -> ctx.ops.map(o => f"${o.kind}:${o.seconds}%.3f").mkString(" "),
          "jvm_gc_s" -> ctx.gcSeconds,
          "tail_percentile" -> r.opTail.percentile,
          "tail_samples" -> r.opTail.samples)
        println(s"""{"workload": ${fmt(args.workload)}, "named": ${metricsJson(named)}, """ +
          props.map { case (k, v) => s"${fmt(k)}: ${fmt(v)}" }.mkString("\"properties\": {", ", ", "}}"))
        val metrics: Seq[(String, M)] =
          if (!args.trace) {
            val gated = Map("setup_s" -> r.setupS, "op_s" -> r.opS, "work_per_s" -> r.workPerS)
            Layers.EndToEnd.map { case (k, u) => k -> M(gated(k), u) }
          } else {
            val namedMap = named.toMap
            val layers = r.layers ++ Map(
              "trace.overhead_ratio" -> ctx.overheadRatio,
              "trace.unaccounted_ratio" -> ctx.unaccountedRatio)
            Layers.All.map { case (k, u) => k -> M(layers.getOrElse(k, 0.0), u) } ++
              Layers.Named.map { case (k, u) => k -> namedMap.getOrElse(k, M(0.0, u)) }
          }
        spans.foreach(ctx.rec.write)
        println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
          s""""failed": ${ctx.failed}, "metrics": ${metricsJson(metrics)}}""")
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${args.workload} aborted: $e")
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }
}
