package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `call` is the workload call the span belongs
  * to (-1 for set-up); `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, call: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. Disabled, it
  * only runs the bodies. Spans are written out once, when the run ends. */
final class Tracer(on: Boolean) {
  private var active = on
  private val spans = ArrayBuffer.empty[Span]

  def enabled: Boolean = active

  /** Run `body` with recording switched on or off. */
  def withEnabled[T](on: Boolean)(body: => T): T = {
    val prev = active
    active = on
    try body finally active = prev
  }
  private var stack: List[Int] = Nil
  private var call = -1

  def all: Seq[Span] = spans.toSeq

  /** Root span of workload call `id`; every span opened inside shares it. */
  def inCall[T](id: Int, name: String)(body: => T): T = {
    val prev = call
    call = id
    try span(name)(body) finally call = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += null // reserve the id; filled in when the span closes
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, call, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def selfByName(keep: Span => Boolean = _ => true): Map[String, Long] = {
    val self = Tracer.selfNs(all)
    spans.filter(keep).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  def problems: Seq[String] = Tracer.problems(all)

  /** Write the spans and each layer's self time over all calls. */
  def writeJson(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val list = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"call":${s.call},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[\n", ",\n", "\n]")
    val self = selfByName(_.call >= 0).toSeq.sortBy(_._1)
      .map { case (n, ns) => s""""$n":${ns / 1e6}""" }.mkString("{", ",", "}")
    java.nio.file.Files.write(path,
      s"""{"self_ms_in_calls":$self,\n"spans":$list}\n""".getBytes("UTF-8"))
  }
}

object Tracer {
  /** Self time of each span: its duration minus the union of its
    * children's intervals clipped to it. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(c => c._2 > c._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      cs.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Problems with a span tree: for every call, the self times of its
    * spans must add up to its root span's duration. That fails when a
    * span is orphaned (its parent is missing or in another call), lies
    * outside its parent, or overlaps a sibling. */
  def problems(spans: Seq[Span]): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    val self = selfNs(spans)
    val orphans = spans.filter(s => s.parent >= 0 &&
      !byId.get(s.parent).exists(_.call == s.call)).map(s => s"orphan span ${s.name}#${s.id}")
    val sums = spans.filter(_.call >= 0).groupBy(_.call).toSeq.sortBy(_._1).flatMap { case (c, ss) =>
      ss.filter(_.parent < 0) match {
        case Seq(root) =>
          val sum = ss.map(s => self(s.id)).sum
          if (sum == root.durNs) Nil
          else Seq(s"call $c: span self times add up to $sum ns, wall is ${root.durNs} ns")
        case roots => Seq(s"call $c has ${roots.size} root spans")
      }
    }
    orphans ++ sums
  }
}

/** Spark-side counters, collected by a SparkListener and a
  * QueryExecutionListener the benchmark registers itself. Reading them
  * first drains the asynchronous listener bus with a marker job, the
  * same barrier `tools/LifecycleJobs.scala` uses: the bus delivers
  * events in order, so once the marker's job start is seen every earlier
  * event has been seen too. */
final class SparkCounters(spark: SparkSession) {
  private val MarkerDesc = "perfbench_barrier"

  final case class Snapshot(jobs: Long, stages: Long, tasks: Long,
                            runMs: Long, cpuNs: Long, shuffleBytes: Long,
                            inputBytes: Long, planNs: Long)

  private var jobs, stages, tasks, runMs, cpuNs, shuffleBytes, inputBytes, planNs = 0L
  private val markerStages = scala.collection.mutable.Set.empty[Int]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  /** (start, end) wall-clock ms of every finished non-marker job. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  @volatile private var markers = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      if (desc == MarkerDesc) { markerStages ++= e.stageIds; markers += 1 }
      else { jobs += 1; jobStart(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (!markerStages.contains(e.stageInfo.stageId)) {
        stages += 1
        tasks += e.stageInfo.numTasks
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && !markerStages.contains(e.stageId)) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      SparkCounters.this.synchronized {
        val ph = qe.tracker.phases
        planNs += Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Listen on `sessions` (each has its own execution listener list). */
  def attach(sessions: SparkSession*): Unit = {
    spark.sparkContext.addSparkListener(listener)
    sessions.foreach(_.listenerManager.register(qeListener))
  }

  def barrier(): Unit = {
    val before = markers
    spark.sparkContext.setJobDescription(MarkerDesc)
    try spark.range(1).count()
    finally spark.sparkContext.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (markers == before) {
      if (System.nanoTime() > deadline)
        sys.error("listener bus did not deliver the barrier marker in 30 s")
      Thread.sleep(2)
    }
  }

  def snapshot(): Snapshot = {
    barrier()
    synchronized(Snapshot(jobs, stages, tasks, runMs, cpuNs, shuffleBytes, inputBytes, planNs))
  }

  /** Milliseconds of [fromMs, toMs] during which no job was running. */
  def idleMs(fromMs: Long, toMs: Long): Long = synchronized {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter(p => p._2 > p._1).sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) busy += b - from
      end = math.max(end, b)
    }
    (toMs - fromMs) - busy
  }
}
