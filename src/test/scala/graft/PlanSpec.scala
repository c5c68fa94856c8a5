package graft

import org.scalatest.funsuite.AnyFunSuite

/** PHYSICAL-PLAN shape gates for the flagship queries — the `.explain`
  * audit (docs/PLANS.md, regenerated by [[graft.tools.PlanDump]]) as
  * suite failures instead of a judge-side read. Each test runs the
  * query at the test fixture scale, finalizes AQE by executing it, and
  * asserts the STRUCTURAL invariants the committed plans rely on:
  *
  *  - exchange count — a plan that grows a shuffle regressed its
  *    co-location story (the 100×-scale killer this suite exists for);
  *  - no `CartesianProduct` and no non-broadcast nested-loop join —
  *    every all-pairs scoring arm must be a BROADCAST NLJ (bounded
  *    build side), never a shuffled cartesian;
  *  - `PushedFilters` non-empty on the filtered scans — the query-side
  *    predicate must reach the parquet reader;
  *  - bounded top-k as PARTIAL + FINAL `topkaggregator` — map-side
  *    combine caps the exchange at O(groups·k) rows;
  *  - the vector kernels (`vecdotexpr`) inside a WholeStageCodegen
  *    region (a `*(n)`-prefixed operator line), never interpreted.
  *
  * The invariants are asserted as substring/count checks over
  * `executedPlan.toString` — the same representation PLANS.md commits,
  * so a failure here reads directly against the committed artifact.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  /** Execute (finalizing AQE) and return the final physical plan text. */
  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def count(plan: String, needle: String): Int =
    plan.sliding(needle.length).count(_ == needle)

  /** Every occurrence of `needle` must be on a `*(n) `-prefixed line —
    * i.e. inside a WholeStageCodegen region. */
  private def assertCodegen(plan: String, needle: String): Unit = {
    val lines = plan.linesIterator.filter(_.contains(needle)).toSeq
    assert(lines.nonEmpty, s"$needle not present in plan")
    // an operator line inside a codegen region is rendered "+- *(n) Op"
    val bad = lines.filterNot(_.matches(""".*\*\(\d+\).*"""))
    assert(bad.isEmpty,
      s"$needle outside WholeStageCodegen (interpreted path):\n" +
        bad.mkString("\n"))
  }

  private def assertNoCartesian(plan: String): Unit = {
    assert(!plan.contains("CartesianProduct"),
      "plan contains a CartesianProduct — an unbounded shuffled " +
        "cross join survives in the DAG")
    // every nested-loop join must be the broadcast form
    assert(count(plan, "NestedLoopJoin") ==
           count(plan, "BroadcastNestedLoopJoin"),
      "plan contains a non-broadcast NestedLoopJoin")
  }

  test("j1_knn_cosine: ONE bounded top-k shuffle, broadcast-NLJ scoring, pushed query filter, codegen'd dot product") {
    val p = planOf("j1_knn_cosine")
    // exactly one data shuffle: the per-query top-k exchange (the
    // scoring side streams the corpus against broadcast queries)
    assert(count(p, "Exchange hashpartitioning") === 1,
      s"expected exactly 1 hash exchange:\n$p")
    // bounded heap: partial (map-side) + final top-k both present
    assert(p.contains("partial_topkaggregator"),
      "map-side partial topkaggregator missing — the exchange is " +
        "unbounded")
    assert(count(p, "topkaggregator") >= 2, "final topkaggregator missing")
    assertNoCartesian(p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "queries x corpus scoring is not a broadcast NLJ")
    // the query-side selection reaches the parquet reader
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id"),
      "query-side filter not pushed to the scan")
    assertCodegen(p, "vecdotexpr")
  }

  test("a1_smooth_chamfer_topk: chamfer + top-k partial/final pairs, TWO shuffles total, codegen'd dot product") {
    val p = planOf("a1_smooth_chamfer_topk")
    // one chamfer shuffle + one top-k shuffle and nothing else
    assert(count(p, "Exchange hashpartitioning") === 2,
      s"expected exactly 2 hash exchanges (chamfer + topk):\n$p")
    for (agg <- Seq("partial_chamferaggregator", "partial_topkaggregator"))
      assert(p.contains(agg), s"$agg missing — an exchange is unbounded")
    assert(count(p, "chamferaggregator") >= 2, "final chamfer agg missing")
    assert(count(p, "topkaggregator") >= 2, "final topk agg missing")
    assertNoCartesian(p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "set scoring is not a broadcast NLJ")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id"),
      "query-set filter not pushed to the scan")
    assertCodegen(p, "vecdotexpr")
  }

  test("g9_multivector_search: kernel scan + broadcast rerank tail, no cartesian, bounded aggregates, codegen'd dot product") {
    val p = planOf("g9_multivector_search")
    assertNoCartesian(p)
    // the rerank tail joins candidates and query sets by BROADCAST
    // hash joins — never a shuffled join of the corpus
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"rerank tail lost its broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "rerank tail degraded to a sort-merge join")
    // each candidate set pair is scored ONCE by the fused chamfer
    // expression: no chamfer aggregate, and no exchange of sim triples
    // (or of anything else) keyed by (qset, dset)
    assert(!p.contains("chamferaggregator"),
      s"rerank expands sim triples into a chamfer aggregate again:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("Exchange hashpartitioning(") &&
        l.contains("qset_id") && l.contains("dset_id")),
      s"rerank shuffles rows keyed by (qset, dset):\n$p")
    assert(p.contains("partial_topkaggregator"),
      "partial_topkaggregator missing — an exchange is unbounded")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id"),
      "query-side filter not pushed to the scan")
    assertCodegen(p, "vecchamferpairexpr")
  }

  test("text_bm25_query: broadcast stats/df joins, micro-quantized long partial sums, bounded top-k") {
    val p = planOf("text_bm25_query")
    assertNoCartesian(p)
    // df + corpus-stats both arrive broadcast (one hash, one identity)
    assert(count(p, "BroadcastExchange") >= 2,
      s"bm25 stats joins lost their broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "a bm25 side join degraded to sort-merge")
    // per-doc score accumulates as a partial LONG sum (micro-quantized
    // for FP determinism) with map-side combine
    assert(p.contains("partial_sum"), "per-doc partial sum missing")
    assert(p.contains("partial_topkaggregator"),
      "bounded-heap top-k partial missing")
    assert(count(p, "topkaggregator") >= 2, "final topk agg missing")
  }

  test("table_profile_approx: ONE pruned scan, no Expand, HLL partials — never the rows x columns shape") {
    val p = planOf("table_profile_approx")
    assert(!p.contains("Expand"),
      "profiling plan grew an Expand — the exact twin's rows x columns " +
        "cost leaked into the production path")
    assert(count(p, "FileScan") === 1, "profiling must be a single scan")
    assert(p.contains("partial_approx_count_distinct"),
      "HLL distinct lost its map-side partial")
    assert(p.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
        "l_discount:double,l_tax:double>"),
      "profiled-column pruning regressed — the scan reads more than " +
        "the 4 requested columns")
  }

  test("text_pii_redact: pure per-row project over the documents scan — ZERO shuffle") {
    val p = planOf("text_pii_redact")
    assert(!p.contains("Exchange"),
      s"redaction grew a shuffle — it must stay embarrassingly parallel:\n$p")
    assert(count(p, "FileScan") === 1, "redaction must be a single scan")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "column pruning regressed on the documents scan")
  }

  test("w1_topk_per_group: bounded heap with map-side partial, ONE exchange of O(groups*k) rows") {
    val p = planOf("w1_topk_per_group")
    assert(p.contains("partial_topkaggregator"),
      "per-group top-k lost its map-side partial — the exchange is " +
        "unbounded row volume")
    assert(count(p, "topkaggregator") >= 2, "final topk agg missing")
    assert(count(p, "Exchange hashpartitioning") === 1,
      s"expected exactly 1 hash exchange:\n$p")
    assertNoCartesian(p)
  }

  test("knn_sql_filtered_sharded: the Filter+Sort+Limit shape ROUTES to AnnFilteredTopK on the sharded tier with the scan filter pushed") {
    val p = planOf("knn_sql_filtered_sharded")
    // the rewrite actually fired — the routed node serves the query
    assert(p.contains("AnnFilteredTopK"),
      s"AnnTopKRule did not route the filtered statement:\n$p")
    assert(p.contains("sharded"),
      "the routed node is not on the sharded tier")
    // the carried predicate is re-executed with parquet pushdown
    assert(p.contains("pred="), "routed node lost its carried predicate")
    assertNoCartesian(p)
  }
}
