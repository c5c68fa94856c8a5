package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.functions.VectorFunctions._
import graft.operators.Recall

/** Evaluation + statistics pack — the reference's recall calculator and
  * utility analyses, all fully relational and DuckDB-checkable:
  *
  *  - J3 recall join (`RecallCalculator::ComputeRecall`,
  *    `/root/reference/src/multivector_reranker.cpp:610-643`)
  *  - J4 paired recall (`ComputePairedRecall`, `:645-669`)
  *  - A4 recall aggregate (`tests/test_search_multivector_rerank.cpp:341-347`)
  *  - J7 KNN-significance positional hits (`utility_methods.cpp:8-103`)
  *  - A10 weighted positional score (`utility_methods.cpp:16-25`)
  *  - A8 cosine-similarity histogram (`utility_methods.cpp:156-249`)
  *  - A9 NN-wise mean similarity (`multivector_reranker.cpp:842-861`)
  *  - J6 superset validation (`tests/compare_two_ibin_and_validate_superset.cpp`)
  *
  * Evaluation roles on the fixtures: the smooth-Chamfer fullscan (a1) is
  * the set-level ground truth (W3); MaxSim (a2) plays the "system under
  * evaluation"; j1 provides the vector-level NN lists.
  */
object EvalQueries extends QueryPack {
  import VectorQueries.{C, NQ, K}

  /** ONE plan for the whole eval family: a single cross-join pass scores
    * BOTH set metrics per (qset, dset) (ChamferAggregator +
    * MaxSimAggregator in one groupBy), then a single per-qset aggregation
    * computes BOTH top-K rankings (two TopKAggregators in one `agg`) —
    * no join between GT and system rankings, no second scan. (Two
    * separate ranking branches defeat exchange reuse: column pruning
    * specializes each branch's aggregate, so the cross join would run
    * twice.) Output: (qset_id, gt_ids, ids) best-first arrays —
    * gt = chamfer (W3 role), ids = MaxSim (system role). */
  private def rankedBoth(s: SparkSession, dir: String): DataFrame = {
    val chamfer = graft.functions.ChamferAggregator.column(C)
    val maxsim = graft.functions.MaxSimAggregator.column
    val topk = graft.functions.TopKAggregator.column(K)
    VectorQueries.simTriplesDf(s, dir)
      .groupBy("qset_id", "dset_id")
      .agg(
        round(chamfer(col("q_sub"), col("d_sub"), col("sim")), 9).as("a1_score"),
        round(maxsim(col("q_sub"), col("sim")), 9).as("a2_score"))
      .groupBy("qset_id")
      .agg(
        topk(col("a1_score"), col("dset_id")).as("t1"),
        topk(col("a2_score"), col("dset_id")).as("t2"))
      .select(col("qset_id"),
        transform(col("t1"), x => x.getField("id")).as("gt_ids"),
        transform(col("t2"), x => x.getField("id")).as("ids"))
  }

  private def a1Top(s: SparkSession, dir: String): DataFrame =
    VectorQueries.queries("a1_smooth_chamfer_topk")(s, dir)

  private def a2Top(s: SparkSession, dir: String): DataFrame =
    VectorQueries.queries("a2_maxsim_topk")(s, dir)

  private def j1Top(s: SparkSession, dir: String): DataFrame =
    VectorQueries.queries("j1_knn_cosine")(s, dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J3: Recall@K of MaxSim results against the Chamfer set-GT — one
    // plan, no GT-vs-system join (see rankedBoth).
    "j3_recall_at_k" -> ((s, dir) => {
      rankedBoth(s, dir).select(col("qset_id").as("query_id"),
        round(round(Recall.atKCol(col("ids"), col("gt_ids"), K), 9), 6).as("recall"))
    }),

    // J4: paired recall — query set i is paired with data-set range
    // [i, i+1) (the fixture's 1:1 pairing; COCO uses 1:5,
    // test_dive_emb_pair_recall.cpp:101-108).
    "j4_paired_recall" -> ((s, dir) => {
      val res = Recall.topIdArrays(a2Top(s, dir), "qset_id", "dset_id", "ids")
      val pairs = res.select(col("query_id"),
        col("query_id").as("paired_start"), lit(1L).as("paired_count"))
      Recall.paired(res, pairs, K)
    }),

    // A4: recall averaging aggregate over J3's per-query rows.
    "a4_recall_agg" -> ((s, dir) => {
      rankedBoth(s, dir).select(
          Recall.atKCol(col("ids"), col("gt_ids"), K).as("recall"))
        .agg(round(round(avg("recall"), 9), 6).as("avg_recall"),
          count(lit(1)).as("n_queries"))
    }),

    // J7: positional significance — at each NN-list position, how many
    // query vectors' position-j neighbor lands in the query set's GT.
    "j7_knn_significance" -> ((s, dir) => {
      val vgt = j1Top(s, dir).select(
        (col("q_id") / C).cast("long").as("qset_id"),
        (col("d_id") / C).cast("long").as("dset_id"),
        col("rank"))
      val sgt = a1Top(s, dir).select(col("qset_id"), col("dset_id"))
        .withColumn("hit", lit(1))
      vgt.join(sgt, Seq("qset_id", "dset_id"), "left")
        .groupBy(col("rank").as("pos"))
        .agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
    }),

    // A10: weighted positional score over the J7 histogram — linearly
    // decaying weights w_i = (L-i)/L, normalized by total weight.
    "a10_weighted_significance" -> ((s, dir) => {
      val vgt = j1Top(s, dir).select(
        (col("q_id") / C).cast("long").as("qset_id"),
        (col("d_id") / C).cast("long").as("dset_id"),
        col("rank"))
      val sgt = a1Top(s, dir).select(col("qset_id"), col("dset_id"))
        .withColumn("hit", lit(1))
      val hist = vgt.join(sgt, Seq("qset_id", "dset_id"), "left")
        .groupBy(col("rank").as("pos"))
        .agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
      hist.select(col("pos"), col("hits"),
          ((lit(K + 1) - col("pos")) / lit(K.toDouble)).as("w"))
        .agg(round(round(sum(col("hits") * col("w")) / sum(col("w")), 9), 6)
          .as("weighted_score"))
    }),

    // A8: 200-bin histogram of query×data cosine similarities over [-1,1];
    // slot = floor((cos+1)/2·200), slots outside [0,200) dropped (the
    // reference's bounds check — cos=1 self-pairs land in slot 200).
    "a8_cosine_histogram" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        .withColumn("q_norm", vecNorm(col("q_vec")))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
        .withColumn("d_norm", vecNorm(col("d_vec")))
      d.crossJoin(broadcast(q))
        .select(((vecDot(col("q_vec"), col("d_vec")) /
          (col("q_norm") * col("d_norm")) + 1.0) / 2.0 * 200).as("x"))
        .select(floor(col("x")).cast("long").as("slot"))
        .filter(col("slot") >= 0 && col("slot") < 200)
        .groupBy("slot").agg(count(lit(1)).as("cnt"))
    }),

    // A9: per candidate of each query's NN list, mean cosine similarity
    // to the whole candidate list (self included, like the reference's
    // row-sum / size).
    "a9_nn_mean_sim" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("norm", vecNorm(col("embedding")))
      val cands = j1Top(s, dir).select(col("q_id"), col("d_id"))
      val c1 = cands.join(e, cands("d_id") === e("vec_id"))
        .select(col("q_id"), col("d_id").as("id1"),
          col("embedding").as("v1"), col("norm").as("n1"))
      val c2 = cands.join(e, cands("d_id") === e("vec_id"))
        .select(col("q_id"), col("d_id").as("id2"),
          col("embedding").as("v2"), col("norm").as("n2"))
      c1.join(c2, Seq("q_id"))
        .select(col("q_id"), col("id1"),
          (vecDot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("sim"))
        .groupBy(col("q_id"), col("id1").as("d_id"))
        .agg(round(round(avg("sim"), 9), 6).as("avg_sim"))
    }),

    // J6: superset validation — which of MaxSim's top-5 sets are missing
    // from the Chamfer top-10 (0 = contained, the reference's pass state).
    // array_except on the single rankedBoth row replaces the anti-join.
    "j6_superset_check" -> ((s, dir) => {
      rankedBoth(s, dir).select(col("qset_id"),
        size(array_except(slice(col("ids"), 1, 5), col("gt_ids")))
          .cast("long").as("n_missing"))
    })
  )

  /** Embed a full `WITH ... SELECT` oracle as a named CTE. */
  private def cte(name: String, fullSql: String): String =
    s"$name AS (SELECT * FROM ($fullSql))"

  private def a1Sql = VectorQueries.oracles("a1_smooth_chamfer_topk")
  private def a2Sql = VectorQueries.oracles("a2_maxsim_topk")
  private def j1Sql = VectorQueries.oracles("j1_knn_cosine")

  def oracles: Map[String, String] = Map(
    "j3_recall_at_k" ->
      s"""WITH ${cte("a1top", a1Sql)}, ${cte("a2top", a2Sql)},
         |m AS (
         |  SELECT a.qset_id, count(*) AS cnt
         |  FROM a1top a JOIN a2top b
         |    ON a.qset_id = b.qset_id AND a.dset_id = b.dset_id
         |  GROUP BY a.qset_id)
         |SELECT q.qset_id AS query_id,
         |       round(round(coalesce(m.cnt, 0) / ${K.toDouble}, 9), 6) AS recall
         |FROM (SELECT DISTINCT qset_id FROM a1top) q
         |LEFT JOIN m ON q.qset_id = m.qset_id""".stripMargin,
    "j4_paired_recall" ->
      s"""WITH ${cte("a2top", a2Sql)}
         |SELECT qset_id AS query_id,
         |       CAST(max(CASE WHEN dset_id = qset_id THEN 1 ELSE 0 END) AS INT) AS hit
         |FROM a2top GROUP BY qset_id""".stripMargin,
    "a4_recall_agg" ->
      s"""WITH ${cte("a1top", a1Sql)}, ${cte("a2top", a2Sql)},
         |m AS (
         |  SELECT a.qset_id, count(*) AS cnt
         |  FROM a1top a JOIN a2top b
         |    ON a.qset_id = b.qset_id AND a.dset_id = b.dset_id
         |  GROUP BY a.qset_id),
         |r AS (
         |  SELECT q.qset_id, coalesce(m.cnt, 0) / ${K.toDouble} AS recall
         |  FROM (SELECT DISTINCT qset_id FROM a1top) q
         |  LEFT JOIN m ON q.qset_id = m.qset_id)
         |SELECT round(round(avg(recall), 9), 6) AS avg_recall, count(*) AS n_queries FROM r""".stripMargin,
    "j7_knn_significance" ->
      s"""WITH ${cte("j1top", j1Sql)}, ${cte("a1top", a1Sql)}
         |SELECT j.rank AS pos,
         |       CAST(sum(CASE WHEN a.dset_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |FROM j1top j LEFT JOIN a1top a
         |  ON a.qset_id = j.q_id // $C AND a.dset_id = j.d_id // $C
         |GROUP BY j.rank""".stripMargin,
    "a10_weighted_significance" ->
      s"""WITH ${cte("j1top", j1Sql)}, ${cte("a1top", a1Sql)},
         |hist AS (
         |  SELECT j.rank AS pos,
         |         sum(CASE WHEN a.dset_id IS NOT NULL THEN 1 ELSE 0 END) AS hits
         |  FROM j1top j LEFT JOIN a1top a
         |    ON a.qset_id = j.q_id // $C AND a.dset_id = j.d_id // $C
         |  GROUP BY j.rank)
         |SELECT round(round(sum(hits * (${K + 1} - pos) / ${K.toDouble}) /
         |             sum((${K + 1} - pos) / ${K.toDouble}), 9), 6) AS weighted_score
         |FROM hist""".stripMargin,
    "a8_cosine_histogram" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < ${NQ * C}),
         |d AS (SELECT vec_id AS d_id, embedding FROM embeddings),
         |sims AS (
         |  SELECT CAST(floor((list_sum(list_transform(list_zip(q.embedding, d.embedding),
         |           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
         |         (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
         |          sqrt(list_sum(list_transform(d.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         |         + 1.0) / 2.0 * 200) AS BIGINT) AS slot
         |  FROM q CROSS JOIN d)
         |SELECT slot, count(*) AS cnt FROM sims
         |WHERE slot >= 0 AND slot < 200 GROUP BY slot""".stripMargin,
    "a9_nn_mean_sim" ->
      s"""WITH ${cte("j1top", j1Sql)},
         |e AS (SELECT vec_id, embedding,
         |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
         |      FROM embeddings),
         |c AS (SELECT j.q_id, j.d_id, e.embedding, e.norm
         |      FROM j1top j JOIN e ON j.d_id = e.vec_id)
         |SELECT c1.q_id, c1.d_id,
         |       round(round(avg(list_sum(list_transform(list_zip(c1.embedding, c2.embedding),
         |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (c1.norm * c2.norm)), 9), 6) AS avg_sim
         |FROM c c1 JOIN c c2 ON c1.q_id = c2.q_id
         |GROUP BY c1.q_id, c1.d_id""".stripMargin,
    "j6_superset_check" ->
      s"""WITH ${cte("a1top", a1Sql)}, ${cte("a2top", a2Sql)},
         |viol AS (
         |  SELECT b.qset_id, count(*) AS n_missing
         |  FROM a2top b
         |  WHERE b.rank <= 5 AND NOT EXISTS (
         |    SELECT 1 FROM a1top a
         |    WHERE a.qset_id = b.qset_id AND a.dset_id = b.dset_id)
         |  GROUP BY b.qset_id)
         |SELECT q.qset_id, coalesce(v.n_missing, 0) AS n_missing
         |FROM (SELECT DISTINCT qset_id FROM a2top) q
         |LEFT JOIN viol v ON q.qset_id = v.qset_id""".stripMargin
  )
}
