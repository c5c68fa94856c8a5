package perfbench

import scala.collection.mutable.ArrayBuffer

/** Closed-loop call timing for one client thread. Each call is timed on
  * its own; with tracing on it is also a root span, and the Spark
  * counters are read (behind a listener barrier) before and after it,
  * outside its timed interval. */
final class Calls(ctx: Ctx) {
  val latMs = ArrayBuffer.empty[Double]
  private var n = 0
  private var jobs, stages, tasks, runMs, cpuNs, shuffle, input, planNs, gapMs = 0.0

  def timed[T](id: Int, name: String)(body: => T): T = {
    val traced = ctx.tracer.enabled
    val before = if (traced) ctx.counters.snapshot() else null
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = ctx.tracer.inCall(id, name)(body)
    latMs += (System.nanoTime() - t0) / 1e6
    val wall1 = System.currentTimeMillis()
    if (traced) {
      val a = ctx.counters.snapshot()
      n += 1
      jobs += a.jobs - before.jobs
      stages += a.stages - before.stages
      tasks += a.tasks - before.tasks
      runMs += a.runMs - before.runMs
      cpuNs += a.cpuNs - before.cpuNs
      shuffle += a.shuffleBytes - before.shuffleBytes
      input += a.inputBytes - before.inputBytes
      planNs += a.planNs - before.planNs
      gapMs += ctx.counters.idleMs(wall0, wall1)
    }
    r
  }

  private def per(x: Double): Double = if (n == 0) 0.0 else x / n

  /** Layer metrics of the Spark driver/scheduler, per traced call. */
  def sparkLayer: Map[String, (Double, String)] = Map(
    "plans.plan_ms" -> (per(planNs) / 1e6, "ms"),
    "spark.jobs_per_call" -> (per(jobs), "count"),
    "spark.stages_per_call" -> (per(stages), "count"),
    "spark.tasks_per_call" -> (per(tasks), "count"),
    "spark.driver_gap_ms_per_call" -> (per(gapMs), "ms"),
    "spark.executor_run_ms_per_call" -> (per(runMs), "ms"),
    "spark.executor_cpu_ms_per_call" -> (per(cpuNs) / 1e6, "ms"),
    "spark.shuffle_bytes_per_call" -> (per(shuffle), "bytes"),
    "spark.input_bytes_per_call" -> (per(input), "bytes"))

  override def toString: String = latMs.map(x => f"$x%.0f").mkString(" ")

  def p50: Double = Stats.median(latMs.toSeq)
  def p90: Double = Stats.percentile(latMs.toSeq, 90)
}

/** The calls of one run. Untraced, every call is timed plain. Traced,
  * odd calls run with spans and Spark counters and even calls without,
  * so one run gives the per-layer numbers and, from the two halves, the
  * tracing overhead. */
final class CallSplit(ctx: Ctx) {
  val plain = new Calls(ctx)
  val traced = new Calls(ctx)
  /** Calls every run makes, whatever its length: a traced run needs one
    * of each kind. */
  val minCalls: Int = if (ctx.trace) 2 else 1

  private val startNs = System.nanoTime()
  private var lastNs = 0L

  def tracedCall(i: Int): Boolean = ctx.trace && i % 2 == 1

  /** Whether call `i` goes out: the first `minCalls` always do, later ones
    * only if a call as long as the last one still ends inside the
    * run's `seconds`. */
  def more(i: Int): Boolean =
    i < minCalls || System.nanoTime() - startNs + lastNs <= ctx.seconds * 1000000000L

  def call[T](i: Int)(body: => T): T = {
    val on = tracedCall(i)
    val t0 = System.nanoTime()
    try ctx.tracer.withEnabled(on)((if (on) traced else plain).timed(i, "call")(body))
    finally lastNs = System.nanoTime() - t0
  }

  /** Per-layer metrics for the tracing overhead on call latency. */
  def overhead: Map[String, (Double, String)] = {
    val d = traced.p50 - plain.p50
    Map("trace.overhead_ms_per_call" -> (d, "ms"),
      "trace.overhead_frac" -> (d / plain.p50, "ratio"))
  }
}
