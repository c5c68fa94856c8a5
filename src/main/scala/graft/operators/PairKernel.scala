package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Round9

/** Blocked exact global-top-N similar-pairs kernel — the embedding-cosine
  * near-dup primitive in its EXACT form. Same shape as the reference's
  * exhaustive scan (`RankAllVectorsBySequentialScan`,
  * `/root/reference/src/multivector_reranker.cpp:183-230`) and the
  * [[KnnKernel]] twin: a broadcastable BLOCK of the corpus is the small
  * side, the full corpus STREAMS partition-local, and every task keeps one
  * bounded top-N pair heap — so a partition emits ≤ topN rows into the
  * final `TakeOrderedAndProject`, and NO O(N²) row set ever hits a shuffle
  * (the N²/2 dot products happen inside the tasks, fused, allocation-free).
  *
  * 100 TB posture: compute is inherently quadratic for an exact global
  * top-N over all pairs (that is the query's semantics), but memory and
  * shuffle are not — each pass holds one `blockSize` slice (default 64 Ki
  * rows ≈ 16 MB at dim 64) against a streamed scan, so the corpus axis
  * scales until the quadratic COMPUTE is the binding cost. For
  * near-dup-at-threshold semantics at scale use [[LshAnn.thresholdPairs]],
  * which prunes candidates instead of scanning all pairs.
  *
  * Arithmetic is bit-identical to the DuckDB oracle: float→double promoted
  * sequential dot, norms in double, one division, HALF_UP 9-decimal
  * quantization before ranking, ties broken (id_a asc, id_b asc).
  */
object PairKernel {

  private final case class Pair(cos: Double, idA: Long, idB: Long)

  /** `a` ranks strictly ahead of `b`: cos desc, then id_a asc, id_b asc. */
  private def beats(a: Pair, b: Pair): Boolean =
    a.cos > b.cos || (a.cos == b.cos &&
      (a.idA < b.idA || (a.idA == b.idA && a.idB < b.idB)))

  /** Bounded best-first pair buffer (binary-search insert, like
    * [[graft.functions.TopKAggregator]] but pair-keyed). */
  private final class PairHeap(n: Int) {
    val buf = new mutable.ArrayBuffer[Pair](math.min(n, 1024) + 1)
    def offer(p: Pair): Unit = {
      if (buf.length < n || beats(p, buf.last)) {
        var lo = 0
        var hi = buf.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (beats(buf(mid), p)) lo = mid + 1 else hi = mid
        }
        buf.insert(lo, p)
        if (buf.length > n) buf.remove(buf.length - 1)
      }
    }
  }

  private def normOf(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** Global top-N most-cosine-similar pairs (id_a < id_b) over `vectors`
    * (id long, vec array<float>). Output: (id_a, id_b, cos) in oracle
    * order — rank on round(cos, 9), ties by ids, emit round(cos, 6). */
  def globalTopPairs(spark: SparkSession, vectors: DataFrame, topN: Int,
                     blockSize: Int = 1 << 16): DataFrame = {
    import spark.implicits._
    val src = vectors.select(col("id"), col("vec"))
    val (minId, maxId, nRows) = vectors
      .select(min(col("id")), max(col("id")), count(lit(1)))
      .as[(Long, Long, Long)].first()
    require(nRows > 0, "PairKernel: empty vector corpus")
    // split the id RANGE (not the row count) into broadcastable passes;
    // ids are dense in the engine contract (SURVEY §1.1) so range blocks
    // are also row blocks, and each pass's stream side prunes id > lo at
    // the parquet scan (pairs are ordered: id_b > id_a >= lo).
    val nBlocks = math.max(1L, (nRows + blockSize - 1) / blockSize)
    val span = (maxId - minId + 1 + nBlocks - 1) / nBlocks
    val perBlock = (0L until nBlocks).map { bi =>
      val lo = minId + bi * span
      val hi = lo + span // exclusive
      // column predicates (not typed lambdas) so both prune at the scan
      val block = src.filter(col("id") >= lo && col("id") < hi)
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val bIds = block.map(_._1)
      val bVecs = block.map(_._2)
      val bNorms = bVecs.map(normOf)
      val blockB = spark.sparkContext.broadcast((bIds, bVecs, bNorms))
      src.filter(col("id") > lo) // stream side: only possible partners
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val (ids, vecs, norms) = blockB.value
          val nb = ids.length
          val heap = new PairHeap(topN)
          it.foreach { case (idB, vecB) =>
            val nB = normOf(vecB)
            var i = 0
            while (i < nb && ids(i) < idB) { // enforce id_a < id_b
              val va = vecs(i)
              // fail loudly on a mixed-dim corpus, like the expression
              // path (VecDotExpr throws) — a silent min() would truncate
              // and produce a wrong cosine
              require(va.length == vecB.length,
                s"PairKernel: dim mismatch ${va.length} vs ${vecB.length} " +
                  s"(ids ${ids(i)}, $idB)")
              var dot = 0.0
              var j = 0
              val n = va.length
              while (j < n) { dot += va(j).toDouble * vecB(j).toDouble; j += 1 }
              val cos = Round9(dot / (norms(i) * nB))
              heap.offer(Pair(cos, ids(i), idB))
              i += 1
            }
          }
          heap.buf.iterator.map(p => (p.idA, p.idB, p.cos))
        }.toDF("id_a", "id_b", "cos")
    }
    perBlock.reduce(_ unionAll _)
      .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
      .limit(topN)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }
}
