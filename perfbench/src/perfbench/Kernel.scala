package perfbench

import graft.index.{BeamSearch, Metrics, RoarIndex, VectorStore, VisitedSet}

/** Direct, single-threaded calls of the beam-search kernel
  * (`BeamSearch.searchMulti`) on the driver, over the same query sets a
  * workload sends. Every count here is exact: distance evaluations and
  * hops are taken once per subquery, candidates once per distinct
  * vector. */
object Kernel {
  final case class Pass(qsets: Int, distEvals: Long, hops: Long,
                        candidates: Long, candidateSets: Long, pairs: Long,
                        kernelNs: Long)

  def pass(idx: RoarIndex, qs: Seq[Data.VecSet], minPq: Int, maxPq: Int,
           budget: Int): Pass = {
    val metric = Metrics(idx.params.metric)
    val pool = Array.fill(qs.map(_.length).max)(new VisitedSet(idx.graph.n))
    var dist, hops, cands, candSets, pairs, ns = 0L
    qs.foreach { q =>
      val subs = q.map(v => if (metric.normalizeAtLoad) VectorStore.normalized(v) else v)
      val t0 = System.nanoTime()
      val res = BeamSearch.searchMulti(idx.graph, idx.vecs, metric, subs,
        minPq, maxPq, budget, adaptive = true, pool)
      ns += System.nanoTime() - t0
      res.foreach { case (_, _, c, h) => dist += c; hops += h }
      val ids = res.flatMap(_._1).distinct
      val sets = ids.map(_ / Data.C).distinct
      cands += ids.length
      candSets += sets.length
      pairs += sets.length.toLong * q.length * Data.C
    }
    Pass(qs.size, dist, hops, cands, candSets, pairs, ns)
  }

  /** Per-layer metrics of one pass; `k` answers are kept per query set. */
  def layer(p: Pass, k: Int): Map[String, (Double, String)] = {
    val n = p.qsets.toDouble
    Map(
      "BeamSearch.kernel_ns_per_dist_eval" -> (p.kernelNs.toDouble / p.distEvals, "ns"),
      "BeamSearch.kernel_ms_per_qset" -> (p.kernelNs / 1e6 / n, "ms"),
      "BeamSearch.dist_evals_per_qset" -> (p.distEvals / n, "count"),
      "BeamSearch.hops_per_qset" -> (p.hops / n, "count"),
      "BeamSearch.candidates_per_qset" -> (p.candidates / n, "count"),
      "Rerank.pairs_per_qset" -> (p.pairs / n, "count"),
      "Rerank.useful_frac" -> (k * n / p.candidateSets, "ratio"))
  }
}
