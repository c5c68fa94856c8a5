package perfbench

import Data.VecSet

/** The benchmark's own exact ranking: brute-force smooth-Chamfer over
  * every live set, in double precision, written from the reference's
  * definition (`multivector_reranker.h:117-120`: τ = 16, txt-scale 1,
  * denominator 2; both terms divide by the QUERY set's cardinality).
  * It deliberately shares no code with the engine's Rerank or SetSim. */
object Truth {
  val Tau = 16.0
  val TxtScale = 1.0
  val Denominator = 2.0

  /** Members of one set as unit vectors in double precision. */
  def unit(s: VecSet): Array[Array[Double]] = s.map { v =>
    var n = 0.0
    var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
    val inv = 1.0 / math.sqrt(n)
    v.map(_ * inv)
  }

  /** Smooth-Chamfer similarity of unit query members `q` to unit data
    * members `d` (max-subtracted log-sum-exp in both directions). */
  def score(q: Array[Array[Double]], d: Array[Array[Double]]): Double = {
    val nI = q.length
    val nJ = d.length
    val sim = new Array[Double](nI * nJ)
    var i = 0
    while (i < nI) {
      var j = 0
      while (j < nJ) {
        val a = q(i); val b = d(j)
        var dot = 0.0
        var k = 0
        while (k < a.length) { dot += a(k) * b(k); k += 1 }
        sim(i * nJ + j) = dot
        j += 1
      }
      i += 1
    }
    val t1 = Tau * TxtScale
    var rows = 0.0
    i = 0
    while (i < nI) {
      var mx = Double.NegativeInfinity
      var j = 0
      while (j < nJ) { mx = math.max(mx, t1 * sim(i * nJ + j)); j += 1 }
      var s = 0.0
      j = 0
      while (j < nJ) { s += math.exp(t1 * sim(i * nJ + j) - mx); j += 1 }
      rows += mx + math.log(s)
      i += 1
    }
    var cols = 0.0
    var j = 0
    while (j < nJ) {
      var mx = Double.NegativeInfinity
      i = 0
      while (i < nI) { mx = math.max(mx, Tau * sim(i * nJ + j)); i += 1 }
      var s = 0.0
      i = 0
      while (i < nI) { s += math.exp(Tau * sim(i * nJ + j) - mx); i += 1 }
      cols += mx + math.log(s)
      j += 1
    }
    (rows / (nI * t1) + cols / (nI * Tau)) / Denominator
  }

  /** Exact top-k (score DESC, set id ASC) of one query set over the
    * live sets of `corpus`. */
  def topK(q: Array[Array[Double]], corpus: Array[Array[Array[Double]]],
           live: Int => Boolean, k: Int): Array[(Int, Double)] = {
    // bounded min-heap on (score, -id): the root is the current k-th best
    val heap = new java.util.PriorityQueue[(Int, Double)](k + 1,
      (a: (Int, Double), b: (Int, Double)) =>
        if (a._2 != b._2) java.lang.Double.compare(a._2, b._2)
        else Integer.compare(b._1, a._1))
    var s = 0
    while (s < corpus.length) {
      if (live(s)) {
        heap.add((s, score(q, corpus(s))))
        if (heap.size > k) heap.poll()
      }
      s += 1
    }
    val out = new Array[(Int, Double)](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 }
    out
  }

  /** [[topK]] for many query sets on a fixed pool of at most `threads`
    * workers; the result order follows `queries`. */
  def topKAll(queries: Seq[VecSet], corpus: Array[Array[Array[Double]]],
              live: Int => Boolean, k: Int, threads: Int): Array[Array[(Int, Double)]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futs = queries.map { q =>
        pool.submit(new java.util.concurrent.Callable[Array[(Int, Double)]] {
          def call(): Array[(Int, Double)] = topK(unit(q), corpus, live, k)
        })
      }
      futs.map(_.get()).toArray
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** Recall@k of one answer against the exact top-k. */
  def recall(answer: Seq[Long], exact: Array[(Int, Double)]): Double = {
    val want = exact.map(_._1.toLong).toSet
    answer.count(want.contains).toDouble / exact.length
  }
}
