package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Exact Spark job, stage and task accounting for a block of code.
  *
  * The listener bus is asynchronous, so reading a counter right after an
  * action can miss events still in flight. The drain is deterministic
  * instead: the bus delivers events FIFO per listener, so a MARKER job
  * submitted after the block's last action is observed only after every
  * one of the block's own job-start and stage-completed events. The
  * marker is excluded from the counts by its job description (its stages
  * by the ids its job-start event names). The wait is bounded: a bus
  * that takes >30 s to deliver one event is a hang worth failing loudly
  * on.
  *
  * Stages count when they complete, so a stage skipped because its
  * shuffle output already exists is not counted; tasks are the completed
  * stages' task counts.
  *
  * Not thread-safe across concurrent measurers on one SparkContext:
  * every job started while a block runs is attributed to it. */
final class JobCounter(spark: SparkSession) extends AutoCloseable {
  import JobCounter.Counts

  private val jobs = new AtomicInteger
  private val stages = new AtomicInteger
  private val tasks = new AtomicInteger
  private val markers = new AtomicInteger
  private val markerStages = ConcurrentHashMap.newKeySet[Int]()
  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (JobCounter.MarkerDesc ==
          j.properties.getProperty("spark.job.description")) {
        j.stageIds.foreach(markerStages.add)
        markers.incrementAndGet()
      } else jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (!markerStages.contains(s.stageInfo.stageId)) {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Block until every job started before this call has been counted. */
  def barrier(): Unit = {
    val before = markers.get()
    spark.sparkContext.setJobDescription(JobCounter.MarkerDesc)
    try spark.range(1).count()
    finally spark.sparkContext.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (markers.get() == before) {
      if (System.nanoTime() > deadline)
        sys.error("listener bus did not deliver the barrier marker in 30 s")
      Thread.sleep(5)
    }
  }

  private def snapshot(): Counts = Counts(jobs.get(), stages.get(), tasks.get())

  /** Run `body` and return (result, the Spark work it started, wall
    * seconds). The seconds are taken before the closing barrier, so the
    * marker job is never timed. */
  def measure[T](body: => T): (T, Counts, Double) = {
    barrier() // stragglers from earlier work land before the snapshot
    val c0 = snapshot()
    val t0 = System.nanoTime()
    val r = body
    val secs = (System.nanoTime() - t0) / 1e9
    barrier()
    (r, snapshot() - c0, secs)
  }

  override def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object JobCounter {
  val MarkerDesc = "graft_jobs_barrier"

  /** Jobs started, stages completed and their tasks. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks)
  }
}
