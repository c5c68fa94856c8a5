package graft.index

/** Vector distance kernel used inside the graph index (build + search).
  *
  * Convention mirrors the reference: DISTANCE, smaller = closer; inner
  * product is negated so one comparator works for every metric
  * (`/root/reference/include/efanna2e/distance.h:222`). The relational
  * query surface (graft.functions) speaks SIMILARITY instead; kernels
  * negate at the boundary.
  *
  * Kernels take flat (array, offset) pairs so the hot loop runs over the
  * packed [[VectorStore]] with no per-call allocation. Plain scalar loops,
  * one sequential float accumulator: C2 keeps the `+=` reduction's
  * rounding order, so it does not vectorize it, and at 64-d that is not
  * what bounds a search. The distance is bound by loading the row: four
  * independent accumulators, which change the result bits, moved
  * `BeamSearch.kernel_ns_per_dist_eval` at 64-d by a few percent either
  * way (119 → 115 ns and 115 → 122 ns in two measurements; 78.8 → 79.6
  * and 84.8 → 87.8 ns with the beam search's batched neighbour scoring).
  */
trait VectorMetric extends Serializable {
  def name: String

  /** True if vectors must be L2-normalized at load (the reference's
    * cosine-as-IP trick, `index_bipartite.cpp:37-39,178-184`). */
  def normalizeAtLoad: Boolean

  def dist(a: Array[Float], aOff: Int, b: Array[Float], bOff: Int, dim: Int): Float
}

/** Metric dispatch registry — the reference's name→closure maps
  * (`SetDistanceMetric`, `/root/reference/src/multivector_reranker.cpp:440-503`). */
object Metrics {

  /** Negated inner product (`distance.h:91-225`). */
  object InnerProduct extends VectorMetric {
    val name = "ip"
    val normalizeAtLoad = false
    def dist(a: Array[Float], aOff: Int, b: Array[Float], bOff: Int, dim: Int): Float = {
      var s = 0.0f
      var i = 0
      while (i < dim) { s += a(aOff + i) * b(bOff + i); i += 1 }
      -s
    }
  }

  /** Cosine = negated IP over load-normalized vectors. */
  object Cosine extends VectorMetric {
    val name = "cosine"
    val normalizeAtLoad = true
    def dist(a: Array[Float], aOff: Int, b: Array[Float], bOff: Int, dim: Int): Float =
      InnerProduct.dist(a, aOff, b, bOff, dim)
  }

  /** Squared L2 (`distance.h:21-89`). */
  object L2 extends VectorMetric {
    val name = "l2"
    val normalizeAtLoad = false
    def dist(a: Array[Float], aOff: Int, b: Array[Float], bOff: Int, dim: Int): Float = {
      var s = 0.0f
      var i = 0
      while (i < dim) {
        val d = a(aOff + i) - b(bOff + i)
        s += d * d
        i += 1
      }
      s
    }
  }

  val registry: Map[String, VectorMetric] =
    Seq(InnerProduct, Cosine, L2).map(m => m.name -> m).toMap

  def apply(name: String): VectorMetric =
    registry.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown metric '$name' (have: ${registry.keys.mkString(", ")})"))
}
