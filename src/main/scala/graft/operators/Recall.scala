package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Evaluation joins — the reference's `RecallCalculator`
  * (`/root/reference/src/multivector_reranker.cpp:610-669`).
  */
object Recall {

  /** Recall@k of `results` (query_id, ids array<long>, best-first) against
    * `gt` (query_id, gt_ids array<long>): |top-k ∩ gt-top-k| / k.
    * `ComputeRecall` (`multivector_reranker.cpp:610-643`) — hash-set
    * membership becomes `array_intersect`. */
  def atK(results: DataFrame, gt: DataFrame, k: Int): DataFrame =
    results.join(gt, "query_id")
      .select(col("query_id"), atKCol(col("ids"), col("gt_ids"), k).as("recall"))

  /** Mean [[atK]] over the queries `results` answers. */
  def meanAtK(results: DataFrame, gt: DataFrame, k: Int): Double =
    atK(results, gt, k).agg(avg(col("recall"))).first().getDouble(0)

  /** (query_id, `outCol`) best-first id arrays from a (`group`, rank, `id`)
    * ranking — the `ids` / `gt_ids` shape [[atK]] reads. */
  def topIdArrays(ranked: DataFrame, group: String, id: String,
                  outCol: String): DataFrame =
    ranked.groupBy(col(group).as("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("rank"), col(id)))),
        x => x.getField(id)).as(outCol))

  /** Column form of [[atK]] for when results and GT already share a row
    * (e.g. both rankings computed in one aggregation) — same semantics,
    * no join. */
  def atKCol(ids: Column, gtIds: Column, k: Int): Column =
    size(array_intersect(slice(ids, 1, k), slice(gtIds, 1, k)))
      .cast("double") / k

  /** Relative distance error — `ComputeRderr`
    * (`/root/reference/tests/test_search_roargraph.cpp:38-62`):
    * rank-aligned |d_res − d_gt| / d_gt, averaged over the k ranks per
    * query. Inputs carry (query_id, rank, dist) / (query_id, rank,
    * gt_dist) in the metric's DISTANCE convention — callers convert
    * similarities first exactly as the reference does (cosine:
    * 2·(1−cos), inner product: −ip; see [[cosToDist]]). An exact hit on
    * a zero-distance GT row (e.g. the query itself when self-matches are
    * in the corpus) contributes 0; a MISS on a zero-distance GT row has
    * no finite relative error and is dropped rather than poisoning the
    * mean with ∞. Deviation: the denominator is |d_gt| — the reference
    * divides by the SIGNED value, which silently flips the error's sign
    * when the distance convention is a negated similarity (its own IP
    * branch); abs keeps this a true relative error for every metric. */
  def rderr(res: DataFrame, gt: DataFrame): DataFrame =
    res.select(col("query_id"), col("rank"), col("dist"))
      .join(gt.select(col("query_id"), col("rank"), col("gt_dist")),
        Seq("query_id", "rank"))
      .filter(col("gt_dist") =!= 0.0 || col("dist") === 0.0)
      .groupBy("query_id")
      .agg(avg(when(col("gt_dist") === 0.0, 0.0)
        .otherwise(abs(col("dist") - col("gt_dist")) / abs(col("gt_dist"))))
        .as("rderr"))

  /** The reference's cosine→distance conversion for [[rderr]]:
    * 2·(1−cos) (the squared L2 of unit vectors). */
  def cosToDist(cos: Column): Column = lit(2.0) * (lit(1.0) - cos)

  /** Paired recall: hit iff any of the top-k ids falls in the query's
    * paired id range [start, start+count) — `ComputePairedRecall`
    * (`multivector_reranker.cpp:645-669`), a range join in Spark. */
  def paired(results: DataFrame, pairs: DataFrame, k: Int): DataFrame =
    results.join(pairs, "query_id")
      .select(col("query_id"),
        (exists(slice(col("ids"), 1, k),
          id => id >= col("paired_start") &&
            id < col("paired_start") + col("paired_count"))
          .cast("int")).as("hit"))
}
