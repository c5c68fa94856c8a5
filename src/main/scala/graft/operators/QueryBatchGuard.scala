package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The operator-face twin of the routed plans' query-side cap
  * ([[graft.plans.AnnTopKExec]]): the ANN operator entry points ([[IvfPq
  * .knnOverIndex]], [[Sq8Ann.searchEncoded]]) collect their query
  * batch driver-side to resolve probes / broadcast the query block —
  * bounded BY DESIGN (the blocked drivers slice to ≤ blockSize ids;
  * the routed SQL path caps the query relation), but "bounded" must be
  * enforced at the entry point too: a caller handing an unbounded
  * query DataFrame straight to the direct API would otherwise OOM the
  * driver inside collect. `spark.graft.ann.operator.maxQueries`
  * (default 100000, matching the relation route's cap) fails the call
  * loudly instead.
  *
  * Enforcement is a column-pruned count() before the collect — two
  * full-parallelism jobs. The r13 form used `take(cap+1)`
  * (executeTake), whose incremental partition scaling (1, 4, 16, …
  * partitions per step) costs up to ⌈log₄ P⌉ SEQUENTIAL mini-jobs on
  * an ordinary sub-cap batch: ~5 scheduler round-trips per blocked
  * slice at local[32]'s default parallelism, measurable on every
  * certificate that drives the blocked IVF-PQ path. The count stops an
  * over-cap job from materializing rows on the driver just as well,
  * in constant job count. */
object QueryBatchGuard {

  /** Collect `(q_id, q_vec)` rows, failing loudly past the cap. */
  def collectBounded(queries: DataFrame): Array[(Long, Array[Float])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cap = spark.conf
      .get("spark.graft.ann.operator.maxQueries", "100000").toInt
    val ds = queries.select(col("q_id"), col("q_vec"))
      .as[(Long, Array[Float])]
    val n = ds.count() // column-pruned: counts rows, reads no vectors
    require(n <= cap,
      s"query batch of $n rows exceeds " +
        s"spark.graft.ann.operator.maxQueries=$cap — the direct " +
        "operator API collects the query side; use the blocked driver " +
        "(knnOverIndexBlocked / searchEncodedBlocked) or raise the cap")
    val rows = ds.collect()
    // the count and the collect are two jobs: a non-deterministic (or
    // concurrently appended) upstream can pass the count and still
    // materialize more rows — re-check so an over-cap batch fails
    // loudly here rather than OOMing a downstream broadcast
    require(rows.length <= cap,
      s"query batch materialized ${rows.length} rows after counting " +
        s"$n — the query side changed between jobs (non-deterministic " +
        "or concurrently written input); stabilize it (cache / " +
        "localCheckpoint) before the direct operator API")
    rows
  }
}
