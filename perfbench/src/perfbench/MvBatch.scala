package perfbench

import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.index.BeamSearch
import graft.operators.Rerank

/** `mv_batch`: the DataFrame flagship. Each call sends a fresh batch of
  * query sets through `BeamSearch.searchMultiDf` on the broadcast
  * RoarGraph, then `Rerank.chamferTopK`, and collects the top-k sets.
  * The kernel and the rerank do most of the work; Spark overhead is
  * amortized over the batch. */
object MvBatch {
  val CallSets = 1000
  val Budget = 400
  val K = 10
  // a full-size warm-up call: after a 250-set one, a run's timed call came
  // out at either ~10 s or ~12 s
  val WarmSets = CallSets
  val TruthSets = 500
  // the reference sweep's queue bounds for this budget (graft.Sweep)
  val MinPq: Int = math.min(10, Budget / Data.C)
  val MaxPq: Int = math.max(Budget * 2, 32)

  def run(ctx: Ctx): Result = {
    val g = new GraphCorpus(ctx)
    def querySets(call: Int, n: Int) =
      Data.querySets(g.world, ctx.seed, 100 + call, g.sets, g.targets, n, Data.FixedCard)
    val first = querySets(0, CallSets)
    val truth = Truth.topKAll(first.take(TruthSets).toSeq, g.unit, _ => true, K, ctx.nproc)
    val warm = querySets(-1, WarmSets)

    val t0 = System.nanoTime()
    val (base, idx) = g.build()
    val buildS = (System.nanoTime() - t0) / 1e9
    ctx.log(f"graph built in $buildS%.1f s")
    val graphB = ctx.spark.sparkContext.broadcast(idx.graph)
    val vecsB = ctx.spark.sparkContext.broadcast(idx.vecs)

    /** One call: (qset_id, rank, dset_id, score) rows of the answer. */
    def answer(qs: Seq[Data.VecSet]) = {
      val qdf = ctx.tracer.span("client.querySetsDf")(ctx.querySetsDf(qs))
      val cands = ctx.tracer.span("BeamSearch.searchMultiDf") {
        val c = BeamSearch.searchMultiDf(ctx.spark, qdf, graphB, vecsB, idx.params.metric,
          MinPq, MaxPq, Budget, adaptive = true).select(col("qset_id"), col("d_id"))
        // traced runs materialize the candidates here so the search's
        // time lands in this span rather than inside the rerank's action
        if (ctx.tracer.enabled) { c.persist(StorageLevel.MEMORY_ONLY).count() }
        c
      }
      try ctx.tracer.span("Rerank.chamferTopK") {
        Rerank.chamferTopK(base, qdf, cands, Data.C, K).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      } finally if (ctx.tracer.enabled) cands.unpersist()
    }

    answer(warm)
    val setupS = (System.nanoTime() - t0) / 1e9
    val heapMb = ctx.heapMb()

    /** Checks of one call's answer; returns the per-set answers. */
    def check(qs: Seq[Data.VecSet], rows: Array[(Long, Int, Long, Double)]): Map[Long, Seq[Long]] = {
      val bySet = rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).toSeq }
      val problems = (if (bySet.size != qs.size) Seq(s"${bySet.size} of ${qs.size} query sets answered") else Nil) ++
        bySet.toSeq.flatMap { case (q, rs) =>
          ctx.checks.answerProblems(rs.map(r => (r._3, r._4)), K, g.sets.length, g.exact(qs(q.toInt)))
        }
      ctx.checks.verdict(problems)
      bySet.map { case (q, rs) => q -> rs.map(_._3) }
    }

    if (ctx.trace) ctx.counters.attach(ctx.spark)
    val split = new CallSplit(ctx)
    var firstAnswer = Map.empty[Long, Seq[Long]]
    var i = 0
    while (split.more(i)) {
      val qs = if (i == 0) first else querySets(i, CallSets)
      val id = i
      ctx.checks.op("mv_batch call")(split.call(id)(answer(qs))).foreach { rows =>
        val a = check(qs, rows)
        if (id == 0) firstAnswer = a
      }
      i += 1
    }

    val plain = split.plain
    ctx.callLog = s"untraced: $plain; traced: ${split.traced}"
    val recall = Stats.mean(truth.indices.map(q =>
      Truth.recall(firstAnswer.getOrElse(q.toLong, Nil), truth(q))))
    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "qsets_per_s" -> (CallSets * plain.latMs.size / (plain.latMs.sum / 1000), "1/s"),
      "call_p50_ms" -> (plain.p50, "ms"),
      "call_p90_ms" -> (plain.p90, "ms"),
      "recall_at_10" -> (recall, "ratio"),
      "heap_after_setup_mb" -> (heapMb, "MB"))

    if (!ctx.trace) Result(endToEnd, Map.empty)
    else {
      val spans = ctx.tracer.all.filter(_.call >= 0)
      def msPerCall(name: String) =
        spans.filter(_.name == name).map(_.durNs).sum / 1e6 / split.traced.latMs.size
      val search = msPerCall("BeamSearch.searchMultiDf")
      val rerank = msPerCall("Rerank.chamferTopK")
      val kernel = Kernel.pass(idx, first.toSeq, MinPq, MaxPq, Budget)
      val perLayer = GraphCorpus.layer(idx, buildS) ++
        Kernel.layer(kernel, K) ++ split.traced.sparkLayer ++ Map(
          "plans.routed_frac" -> (0.0, "ratio"), // no SQL, nothing to route
          "BeamSearch.search_ms" -> (search, "ms"),
          "Rerank.rerank_ms" -> (rerank, "ms"),
          "Rerank.rerank_frac" -> (rerank / (search + rerank), "ratio")) ++
        split.overhead
      Result(endToEnd, perLayer)
    }
  }
}
