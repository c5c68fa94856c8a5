package perfbench

import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <dir>`. Prints progress on stderr and, as the
  * last line of stdout, one JSON object: `correct`, `attempted`,
  * `failed` and the end-to-end metrics (trace 0) or the per-layer
  * metrics (trace 1). */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "qsets_per_s" -> "1/s", "call_p50_ms" -> "ms",
    "call_p90_ms" -> "ms", "recall_at_10" -> "ratio", "heap_after_setup_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "BeamSearch.kernel_ns_per_dist_eval" -> "ns", "BeamSearch.kernel_ms_per_qset" -> "ms",
    "BeamSearch.dist_evals_per_qset" -> "count", "BeamSearch.hops_per_qset" -> "count",
    "BeamSearch.candidates_per_qset" -> "count", "BeamSearch.search_ms" -> "ms",
    "Rerank.rerank_ms" -> "ms", "Rerank.pairs_per_qset" -> "count",
    "Rerank.rerank_frac" -> "ratio", "Rerank.useful_frac" -> "ratio",
    "plans.plan_ms" -> "ms", "plans.routed_frac" -> "ratio",
    "spark.jobs_per_call" -> "count", "spark.stages_per_call" -> "count",
    "spark.tasks_per_call" -> "count", "spark.driver_gap_ms_per_call" -> "ms",
    "spark.executor_run_ms_per_call" -> "ms", "spark.executor_cpu_ms_per_call" -> "ms",
    "spark.shuffle_bytes_per_call" -> "bytes", "spark.input_bytes_per_call" -> "bytes",
    "GraphBuild.build_s" -> "s", "GraphBuild.avg_degree" -> "count",
    "GraphBuild.index_bytes" -> "bytes",
    "trace.overhead_ms_per_call" -> "ms", "trace.overhead_frac" -> "ratio")

  val Workloads: Map[String, Ctx => Result] = Map(
    "mv_batch" -> MvBatch.run,
    "mv_sql_interactive" -> MvSqlInteractive.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val out = java.nio.file.Paths.get(opt("out")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()

    val work = out.resolve(s"work-$workload-$seed-${ProcessHandle.current().pid()}")
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val ctx = new Ctx(spark, seed, seconds, trace, nproc, work)
      val t0 = System.nanoTime()
      val result = run(ctx)
      val spanProblems = ctx.tracer.problems
      if (trace) ctx.tracer.writeJson(out.resolve(s"traces/$workload-seed$seed.json"))
      spanProblems.foreach(p => ctx.log(s"span check: $p"))
      val c = ctx.checks
      ctx.log(f"$workload seed $seed: ${c.attempted} operations, ${c.failed} failed " +
        f"(failed_frac ${c.failed.toDouble / math.max(c.attempted, 1)}%.4f) in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      if (c.failed > 0) ctx.log(s"failures: ${c.summary}")
      ctx.log(s"call latencies (ms): ${ctx.callLog}")
      if (trace) println(json(c.failed == 0, c.attempted, c.failed, select(result.endToEnd, EndToEnd), "untraced_calls"))
      val metrics = if (trace) select(result.perLayer, PerLayer) else select(result.endToEnd, EndToEnd)
      println(json(c.failed == 0 && spanProblems.isEmpty, c.attempted, c.failed, metrics, "metrics"))
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }

  /** The metrics named in `names`, in that order; a missing or
    * non-finite value is an error in the benchmark itself. */
  private def select(m: Map[String, (Double, String)], names: Seq[(String, String)]): Seq[(String, Double, String)] =
    names.map { case (n, unit) =>
      val (v, u) = m.getOrElse(n, sys.error(s"metric $n was not measured"))
      require(u == unit, s"metric $n measured in $u, declared in $unit")
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      (n, v, u)
    }

  private def json(correct: Boolean, attempted: Long, failed: Long,
                   metrics: Seq[(String, Double, String)], key: String): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "$key": {""", ", ", "}}")

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
}
