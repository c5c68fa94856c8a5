package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Round9, ScoredId, TopKAggregator}

/** Kernel-tier brute-force kNN join — the blocked-scan shape of
  * `RankAllVectorsBySequentialScan`
  * (`/root/reference/src/multivector_reranker.cpp:183-230`) with the
  * 100 TB orientation: the QUERY batch is collected+broadcast (small
  * side), the data corpus STREAMS partition-local (never materialized,
  * unlike graft.index.VectorStore which collects the corpus for the
  * graph kernels), and each task keeps one bounded top-k buffer per
  * query, so a partition emits ≤ |queries|·k candidate rows into the
  * final per-query merge.
  *
  * Arithmetic is BIT-IDENTICAL to the relational [[KnnJoin.bruteForce]]:
  * float→double promoted sequential dot, norms in double, one division,
  * 9-decimal quantization before ranking — so this kernel path shares
  * the same DuckDB oracle as `j1_knn_cosine`.
  */
object KnnKernel {

  /** Exact cosine top-k from `queries` (q_id, q_vec) to `data`
    * (d_id, d_vec). Output: (q_id, rank, d_id, score). */
  def bruteForce(spark: SparkSession, queries: DataFrame, data: DataFrame,
                 k: Int, excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    val qRows = queries.select(col("q_id"), col("q_vec"))
      .as[(Long, Array[Float])].collect()
    val qIds = qRows.map(_._1)
    val qVecs = qRows.map(_._2)
    val qNorms = qVecs.map { v =>
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val qB = spark.sparkContext.broadcast((qIds, qVecs, qNorms))

    val partial = data.select(col("d_id"), col("d_vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (ids, vecs, norms) = qB.value
        val nq = ids.length
        val agg = new TopKAggregator(k)
        val bufs = Array.fill(nq)(agg.zero)
        it.foreach { case (dId, dVec) =>
          var s = 0.0
          var i = 0
          while (i < dVec.length) { s += dVec(i).toDouble * dVec(i).toDouble; i += 1 }
          val dNorm = math.sqrt(s)
          var qi = 0
          while (qi < nq) {
            if (!(excludeSelf && ids(qi) == dId)) {
              val qv = vecs(qi)
              val n = math.min(qv.length, dVec.length)
              var dot = 0.0
              var j = 0
              while (j < n) { dot += qv(j).toDouble * dVec(j).toDouble; j += 1 }
              // same quantization as the relational path: round half-up, 9 dp
              val sim = Round9(dot / (norms(qi) * dNorm))
              agg.reduce(bufs(qi), ScoredId(sim, dId))
            }
            qi += 1
          }
        }
        (0 until nq).iterator.flatMap { qi =>
          bufs(qi).iterator.map(s => (ids(qi), s.id, s.score))
        }
      }.toDF("q_id", "d_id", "score")

    TopK.perGroupAgg(partial, Seq(col("q_id")),
      col("score"), col("d_id"), k, idName = "d_id")
      .select(col("q_id"), col("rank"), col("d_id"), col("score"))
  }
}
