package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact Spark-job accounting for a block of driver code.
  *
  * The listener bus is asynchronous, so reading a job counter right
  * after an action can miss job-start events still in flight. The drain
  * is deterministic instead: the bus delivers events FIFO per listener,
  * so a MARKER job submitted after the block's last action is observed
  * only after every one of the block's own job-start events. The marker
  * is excluded from the count by its job description. The wait is
  * bounded: a bus that takes >30 s to deliver one event is a hang worth
  * failing loudly on.
  *
  * Not thread-safe across concurrent measurers on one SparkContext:
  * every job started while a block runs is attributed to it. */
final class JobCounter(spark: SparkSession) extends AutoCloseable {
  private val jobs = new AtomicInteger
  private val markers = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (JobCounter.MarkerDesc ==
          j.properties.getProperty("spark.job.description"))
        markers.incrementAndGet()
      else jobs.incrementAndGet()
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

  /** Run `body` and return (result, Spark jobs it started, wall seconds).
    * The seconds are taken before the closing barrier, so the marker job
    * is never timed. */
  def measure[T](body: => T): (T, Int, Double) = {
    barrier() // stragglers from earlier work land before the snapshot
    val j0 = jobs.get()
    val t0 = System.nanoTime()
    val r = body
    val secs = (System.nanoTime() - t0) / 1e9
    barrier()
    (r, jobs.get() - j0, secs)
  }

  override def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object JobCounter {
  val MarkerDesc = "graft_jobs_barrier"
}
