package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** The relational rerank tail shared by every index-backed search path
  * (`Rerank`, `/root/reference/src/multivector_reranker.cpp:38-98`):
  * P9 candidate→set dedup, J2 member gather, A1 smooth-Chamfer scoring,
  * W1 bounded-heap top-k with oracle-stable quantized ranking.
  *
  * Each (query set, candidate set) pair is scored ONCE, as one dense
  * matrix (the reference's shape, `multivector_reranker.cpp:330-430`):
  * the candidate pairs are deduplicated on a `qset_id` partitioning,
  * joined to the candidate set's members gathered as one row per set
  * and to the broadcast query set gathered the same way, and scored by
  * one codegen'd expression, [[graft.functions.expressions
  * .VecChamferPairExpr]]. Its finish is the ChamferAggregator's, so the
  * scores equal the sim-triple formulation (c_q·c_d cosine rows folded by
  * `SetSim.smoothChamferAgg`) bit for bit, without expanding or
  * shuffling those rows.
  *
  * The pair exchange has an explicit partition count (the session's
  * default parallelism), which AQE's byte-based coalescing leaves alone:
  * with a coalesced exchange the scoring of a whole batch ran in one
  * task. The member join's build side is chosen when the plan is made,
  * by Spark's own size test: the gathered corpus is broadcast when its
  * plan-time size estimate is within `spark.sql.autoBroadcastJoinThreshold`.
  * Its broadcast is then built while the candidates are still being
  * searched, and the scoring joins and the top-k keep the pairs'
  * partitioning, so the batch is scored and ranked on every core with
  * no further exchange. Left to AQE, the choice would wait for the pair
  * exchange's runtime size, and the corpus broadcast would start only
  * after the kernel stage. Above the threshold the join is left to
  * Spark's runtime choice.
  *
  * Ranking quantizes each score to 9 decimals with
  * [[graft.functions.Round9]]: the bits of Spark's `round(score, 9)`
  * without a decimal per pair. */
object Rerank {

  /** @param emb        corpus (vec_id, embedding), fixed cardinality `c`
    * @param querySets  (qset_id, q_sub, q_vec)
    * @param cands      candidate vectors (qset_id, d_id) — pre-dedup ok
    * @param cQ         chamfer denominator (query cardinality); defaults
    *                   to the number of subqueries `c` */
  def chamferTopK(emb: DataFrame, querySets: DataFrame, cands: DataFrame,
                  c: Int, k: Int, cQ: Int = -1): DataFrame =
    rerank(emb, querySets, cands, c, k, if (cQ > 0) cQ else c)

  /** Variable-cardinality-QUERY twin of [[chamferTopK]]: query sets are
    * RAGGED (each qset_id brings its own number of q_sub rows — the S7
    * mapping surface end-to-end, `multivector_reranker.cpp:767-809`
    * feeding `:377-430`), and the chamfer denominator is each set's OWN
    * cardinality (its number of distinct q_sub ids): the pair is scored
    * at cardinality 1, then divided by it — both chamfer terms scale
    * linearly in 1/c_q. Data side stays the fixed-`c` corpus grid. */
  def chamferTopKVarc(emb: DataFrame, querySets: DataFrame,
                      cands: DataFrame, c: Int, k: Int): DataFrame =
    rerank(emb, querySets, cands, c, k, 0)

  /** One gathered set member: (sub id, vector, its norm). */
  private def member(sub: Column, vec: Column): Column =
    struct(sub.as("sub"), vec.as("vec"), vecNorm(vec).as("norm"))

  /** `cQ` as in [[graft.functions.expressions.VecChamferPairExpr]]. */
  private def rerank(emb: DataFrame, querySets: DataFrame, cands: DataFrame,
                     c: Int, k: Int, cQ: Int): DataFrame = {
    val parts = cands.sparkSession.sparkContext.defaultParallelism
    val pairs = cands.select(col("qset_id"),
        (col("d_id") / c).cast("long").as("dset_id"))
      .repartition(parts, col("qset_id"))
      .distinct()
    val candSets = emb
      .groupBy((col("vec_id") / c).cast("long").as("dset_id"))
      .agg(collect_list(member((col("vec_id") % c).cast("int"),
        col("embedding"))).as("d_set"))
    val qSets = querySets.groupBy(col("qset_id"))
      .agg(collect_list(member(col("q_sub"), col("q_vec"))).as("q_set"))
    val qe = candSets.queryExecution
    val corpusBytes = qe.optimizedPlan.stats.sizeInBytes
    val corpus =
      if (corpusBytes >= 0 &&
          corpusBytes <= qe.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
        broadcast(candSets)
      else candSets
    val scored = pairs
      .join(corpus, Seq("dset_id"))
      .join(broadcast(qSets), Seq("qset_id"))
      .select(col("qset_id"), col("dset_id"),
        round9(chamferPair(col("q_set"), col("d_set"), cQ)).as("score"))
    TopK.perGroupAgg(scored, Seq(col("qset_id")),
        col("score"), col("dset_id"), k, idName = "dset_id")
      .select(col("qset_id"), col("rank"), col("dset_id"),
        round(col("score"), 6).as("score"))
  }
}
