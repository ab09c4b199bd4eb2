package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `perfbench.Main --workload <scan|ingest|ann> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <artifact.json>`.
  * The run sets up, warms up, runs the timed ops, checks every answer and
  * writes its artifact (raw latencies, counters, environment and, when
  * tracing, per-layer figures and spans) to `--out`. `run.py` turns the
  * artifact into the summary line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val out = opts("out")
    require(Set("scan", "ingest", "ann").contains(workload), s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.sources.GraftExtensions())
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.pb", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.pb.warehouse", s"$work/wh")
      // the engine's own session settings, as its bench and tests use them
      .config(graft.Tables.sessionConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Jvm.uptimeMs / 1e3
    Log(s"session ready: $master")

    val tracer = if (trace) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    CodegenClock.install()
    val ctx = new Ctx(spark, seed, seconds, tracer, work, sessionS)

    val result = workload match {
      case "scan" => ScanWorkload.run(ctx)
      case "ingest" => IngestWorkload.run(ctx)
      case "ann" => AnnWorkload.run(ctx)
    }
    val artifact = Json.obj("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> (if (trace) 1 else 0),
      "env" -> Env.record(master, sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "")))
    artifact ++= result
    artifact("repeat_share") = ctx.ledger.repeatShare
    artifact("inputs_digest") = ctx.ledger.inputsDigest
    if (trace) artifact("layer_table") = Layers.tableJson
    tracer.foreach { t =>
      t.drain()
      Files2.write(out.stripSuffix(".json") + ".spans.json", Json.render(t.spansJson()))
    }
    Files2.write(out, Json.render(artifact))
    Log("artifact written")
    spark.stop()
    Log("stopped")
    // exit now rather than wait for idle non-daemon pool threads, which
    // otherwise hold the JVM open for up to a minute
    sys.exit(0)
  }
}
