package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload gets from [[Main]]. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val nproc: Int, val outDir: java.nio.file.Path) {
  val tracer = new Tracer(trace)
  val checks = new Checks
  lazy val counters: SparkCounters = new SparkCounters(spark)
  /** Latencies of the calls, for the run's summary on stderr. */
  var callLog: String = ""

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Driver heap in use after a forced collection, in MB. The pauses let
    * Spark's ContextCleaner drop the broadcast blocks whose handles the
    * previous collection found unreachable, so the next one frees them. */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(200); i += 1 }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  import spark.implicits._

  /** (vec_id, embedding) rows; set s owns ids s*C .. s*C+C-1. */
  def vectorsDf(sets: Array[Data.VecSet]): DataFrame =
    sets.toSeq.zipWithIndex.flatMap { case (s, i) =>
      s.zipWithIndex.map { case (v, j) => (i.toLong * Data.C + j, v.toSeq) }
    }.toDF("vec_id", "embedding")

  /** (qset_id, q_sub, q_vec) rows; query set i gets id i. */
  def querySetsDf(qs: Seq[Data.VecSet]): DataFrame =
    qs.zipWithIndex.flatMap { case (s, i) =>
      s.zipWithIndex.map { case (v, j) => (i.toLong, j, v.toSeq) }
    }.toDF("qset_id", "q_sub", "q_vec")
}

/** Output checks. Every failed operation counts once, whatever failed. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  private val reasons = scala.collection.mutable.LinkedHashMap.empty[String, Int]

  def fail(why: String): Unit = {
    failed += 1
    reasons(why) = reasons.getOrElse(why, 0) + 1
  }

  /** Run one operation; an exception fails it (and is reported). */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $what threw: $e")
        fail(s"$what threw ${e.getClass.getSimpleName}")
        None
    }
  }

  /** Problems with one top-k answer `(set id, score)` against the exact
    * scorer: it must hold exactly k distinct corpus sets, each with its
    * exact score within 1e-5. */
  def answerProblems(ans: Seq[(Long, Double)], k: Int, nSets: Int,
                     exact: Long => Double): Seq[String] = {
    val ids = ans.map(_._1)
    Seq(
      if (ids.size != k) Some(s"answer has ${ids.size} rows, not $k") else None,
      if (ids.distinct.size != ids.size) Some("answer repeats a set") else None,
      if (!ids.forall(id => id >= 0 && id < nSets)) Some("answer holds an unknown set id") else None,
      if (!ans.forall { case (id, s) => id < 0 || id >= nSets || math.abs(exact(id) - s) <= 1e-5 })
        Some("score differs from the exact score by more than 1e-5") else None
    ).flatten
  }

  /** Count the operation as failed if `problems` is non-empty. */
  def verdict(problems: Seq[String]): Unit = problems.headOption.foreach(fail)

  def summary: String = reasons.map { case (r, n) => s"$n x $r" }.mkString("; ")
}

object Stats {
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }
}

/** One run's result: `endToEnd` with tracing off, `perLayer` with it on. */
final case class Result(endToEnd: Map[String, (Double, String)],
                        perLayer: Map[String, (Double, String)])
