package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

/** One query-subvector × data-subvector similarity cell. */
case class SubSim(qSub: Int, dSub: Int, sim: Double)

/** One query-subvector similarity (MaxSim only needs the row index). */
case class QSim(qSub: Int, sim: Double)

/** Single-pass smooth-Chamfer set-similarity aggregate (DiVE) —
  * `computeSmoothChamferDistance`
  * (`/root/reference/src/multivector_reranker.cpp:330-375`; batch
  * variable-cardinality variant `:377-430`; constants
  * `include/multivector_reranker.h:117-120`):
  *
  *   term1 = Σ_i LSE_j(τ·s·sim_ij) / (c_q·τ·s)
  *   term2 = Σ_j LSE_i(τ·sim_ij)   / (c_q·τ)
  *   SCD   = (term1 + term2) / denom
  *
  * with the max-subtraction-stable LSE exactly as the reference's
  * rowwise/colwise maxCoeff → exp → sum → log. NOTE both terms divide by
  * the QUERY-side cardinality `c_q` (`multi_vector_cardinality`), even in
  * the variable-data-cardinality batch variant — the data side's
  * cardinality only changes how many j-columns exist.
  *
  * The round-1 window+groupBy+join formulation (kept in
  * `graft.operators.SetSim` as the DuckDB-checkable relational spec)
  * shuffles the O(c²) sim triples three times; this Aggregator buffers the
  * ≤ c_q·c_d cells per (query-set, data-set) group — a few dozen doubles —
  * and computes the exact two-pass LSE at finish ([[ChamferAggregator.score]]),
  * so scoring sim triples is ONE shuffle with map-side partial
  * aggregation. The exhaustive scans use it; the index-backed rerank
  * (`Rerank`) scores whole set pairs with the same finish instead.
  */
class ChamferAggregator(cQ: Int,
                        temperature: Double = ChamferAggregator.Temperature,
                        txtScale: Double = ChamferAggregator.TxtScale,
                        denominator: Double = ChamferAggregator.Denominator)
    extends Aggregator[SubSim, mutable.ArrayBuffer[SubSim], Double] {

  override def zero: mutable.ArrayBuffer[SubSim] = new mutable.ArrayBuffer[SubSim]

  override def reduce(b: mutable.ArrayBuffer[SubSim], in: SubSim) = { b += in; b }

  override def merge(a: mutable.ArrayBuffer[SubSim],
                     b: mutable.ArrayBuffer[SubSim]) = { a ++= b; a }

  override def finish(buf: mutable.ArrayBuffer[SubSim]): Double = {
    var nI = 0
    var nJ = 0
    buf.foreach { t =>
      if (t.qSub >= nI) nI = t.qSub + 1
      if (t.dSub >= nJ) nJ = t.dSub + 1
    }
    val m = new Array[Double](nI * nJ)
    buf.foreach(t => m(t.qSub * nJ + t.dSub) = t.sim)
    ChamferAggregator.score(m, nI, nJ, cQ, temperature, txtScale, denominator)
  }

  override def bufferEncoder: Encoder[mutable.ArrayBuffer[SubSim]] =
    Encoders.kryo[mutable.ArrayBuffer[SubSim]]

  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

object ChamferAggregator {
  val Temperature = 16.0
  val TxtScale = 1.0
  val Denominator = 2.0

  /** THE smooth-Chamfer finish, shared by this aggregator,
    * `graft_chamfer_score` and the rerank's pair expression: `m` is the
    * row-major nI×nJ cosine matrix (cell (i, j) = query sub i × data sub
    * j, zero where a sub id is absent). Row-wise stable LSE over j at
    * scale τ·s summed over i, column-wise stable LSE over i at scale τ
    * summed over j, both divided by the query cardinality `cQ`. */
  def score(m: Array[Double], nI: Int, nJ: Int, cQ: Double,
            temperature: Double = Temperature,
            txtScale: Double = TxtScale,
            denominator: Double = Denominator): Double = {
    val ts = temperature * txtScale
    var term1Sum = 0.0
    var i = 0
    while (i < nI) {
      val row = i * nJ
      var mx = Double.NegativeInfinity
      var j = 0
      while (j < nJ) { val x = ts * m(row + j); if (x > mx) mx = x; j += 1 }
      var se = 0.0
      j = 0
      while (j < nJ) { se += math.exp(ts * m(row + j) - mx); j += 1 }
      term1Sum += math.log(se) + mx
      i += 1
    }
    var term2Sum = 0.0
    var j = 0
    while (j < nJ) {
      var mx = Double.NegativeInfinity
      var i2 = 0
      while (i2 < nI) { val x = temperature * m(i2 * nJ + j); if (x > mx) mx = x; i2 += 1 }
      var se = 0.0
      i2 = 0
      while (i2 < nI) { se += math.exp(temperature * m(i2 * nJ + j) - mx); i2 += 1 }
      term2Sum += math.log(se) + mx
      j += 1
    }
    (term1Sum / (cQ * ts) + term2Sum / (cQ * temperature)) / denominator
  }

  /** Column form: `chamfer(q_sub, d_sub, sim)` per (qset, dset) group. */
  def column(cQ: Int,
             temperature: Double = Temperature,
             txtScale: Double = TxtScale,
             denominator: Double = Denominator): UserDefinedFunction =
    udaf(new ChamferAggregator(cQ, temperature, txtScale, denominator),
      Encoders.product[SubSim])
}

/** Single-pass summed-max similarity (ColBERT MaxSim) —
  * `ComputeSummedMaxSimilarity`
  * (`/root/reference/src/multivector_reranker.cpp:432-438`):
  * Σ_i max_j sim_ij. Buffer = per-i running max (a handful of entries),
  * so the rerank aggregates in one shuffle with map-side combine instead
  * of the two groupBy stages of the relational spec. Finish sums in
  * ascending i order for deterministic float accumulation.
  */
class MaxSimAggregator
    extends Aggregator[QSim, mutable.HashMap[Int, Double], Double] {

  override def zero: mutable.HashMap[Int, Double] = new mutable.HashMap

  override def reduce(b: mutable.HashMap[Int, Double], in: QSim) = {
    val cur = b.getOrElse(in.qSub, Double.NegativeInfinity)
    if (in.sim > cur) b(in.qSub) = in.sim
    b
  }

  override def merge(a: mutable.HashMap[Int, Double],
                     b: mutable.HashMap[Int, Double]) = {
    b.foreach { case (k, v) =>
      if (v > a.getOrElse(k, Double.NegativeInfinity)) a(k) = v
    }
    a
  }

  override def finish(b: mutable.HashMap[Int, Double]): Double = {
    val keys = b.keys.toArray
    java.util.Arrays.sort(keys)
    var s = 0.0
    keys.foreach(k => s += b(k))
    s
  }

  override def bufferEncoder: Encoder[mutable.HashMap[Int, Double]] =
    Encoders.kryo[mutable.HashMap[Int, Double]]

  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

object MaxSimAggregator {
  def column: UserDefinedFunction =
    udaf(new MaxSimAggregator, Encoders.product[QSim])
}
