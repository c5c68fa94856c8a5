package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.matching.Regex

import graft.Harness

/** Writes the executed physical plans of representative queries to
  * docs/PLANS.md — the `.explain`-audit artifact: broadcast orientations,
  * partial aggregations, bucketed candidate joins, pushed filters. The
  * plans are [[normalize]]d, so two runs on one corpus write the same
  * bytes and a diff shows only plan changes. */
object PlanDump {

  /** `plan` with its run-varying tokens made stable. Masked: fixture temp
    * dirs (`<tmp>/graft_<prefix>*`), `@<hex>` object hashes and lambda
    * class names. Renumbered in order of first appearance: exprIds,
    * `plan_id`s, AQE query-stage ids and codegen-stage ids (they number in
    * the order the JVM or AQE happened to create them). */
  def normalize(plan: String): String = {
    val masked = plan
      .replaceAll("""[^\s\[\](),=]*/(graft_\w*?)\d{6,}\b""", "<tmp>/$1*")
      .replaceAll("""Lambda\$?\d*/0x[0-9a-f]+""", "Lambda")
      .replaceAll("""@[0-9a-f]+\b""", "@<hash>")
    Seq("""#(\d+)""", """plan_id=(\d+)""", """QueryStage (\d+)""",
        """\*\((\d+)\)""").foldLeft(masked) { (text, pattern) =>
      val ids = mutable.Map.empty[String, Int]
      pattern.r.replaceAllIn(text, m => Regex.quoteReplacement(
        text.substring(m.start, m.start(1)) +
          ids.getOrElseUpdate(m.group(1), ids.size + 1) +
          text.substring(m.end(1), m.end)))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("docs/PLANS.md")
    // the session time zone is printed in some plans: pin it, not the JVM's.
    // Spark cuts scan metadata (a Location's paths) at
    // maxMetadataStringLength, and where a temp path gets cut depends on
    // java.io.tmpdir: print it whole, so normalize masks whole paths
    val spark = Harness.session(8, "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.maxMetadataStringLength" -> Int.MaxValue.toString)
    val picks = Seq(
      "j1_knn_cosine" -> "exact kNN: broadcast queries x streamed corpus, ObjectHashAggregate top-k",
      "a1_smooth_chamfer_topk" -> "fullscan rerank: one chamfer shuffle + one top-k shuffle",
      "g9_multivector_search" -> "index-backed search: kernel scan over qset_id-partitioned query sets + rerank tail scoring each candidate set pair once (fused chamfer expression, broadcast gathered sets, top-k on the same partitioning)",
      "dedup_minhash_pairs" -> "banded LSH near-dup: equi-join on band keys, no all-pairs",
      "knn_lsh" -> "random-hyperplane ANN: id-only band equi-join, vectors joined back once per side",
      "dedup_embedding_threshold" -> "thresholded embedding near-dup: 12-bit band self-join on ids, vector join-back, cos >= tau",
      "dedup_embedding_cosine" -> "exact global top-N pairs: blocked kernel (no join), TakeOrderedAndProject merge",
      "dedup_clusters" -> "cluster resolution tail: doc table LEFT JOIN checkpointed star labels (the large/small-star rounds run as their own bounded jobs before this plan)",
      "g9_varc" -> "ragged-query G9: kernel scan + varc rerank (each candidate set pair scored once by the fused chamfer expression, denominator = the query set's own cardinality)",
      "w1_topk_per_group" -> "per-group top-k scale path: ObjectHashAggregate bounded heap, O(groups*k) exchange",
      "knn_pq" -> "PQ ANN: one-pass encode kernel + broadcast-LUT ADC scan, candidates broadcast into the full-precision rerank scan",
      "knn_ivfpq_seeded" -> "composed IVF-PQ over the seeded codes-only index: PartitionFilters prune unprobed cells at the scan, masked ADC kernel, bounded exact rerank",
      "knn_randproj" -> "projection-accelerated kNN: 16-dim coarse kernel scan (4x less arithmetic), candidates broadcast into the full-dim rerank scan",
      "text_pii_redact" -> "PII redaction: pure per-row regexp project over the documents scan, zero shuffle",
      "pipeline_curate" -> "end-to-end curation DAG: pushed quality filter, broadcast eval shingles, checkpointed cluster labels, two-level packing windows",
      "decontaminate" -> "benchmark decontamination: eval shingle set broadcast, training shingles never shuffled",
      "q_join_star" -> "star joins: broadcast dimensions, partial aggregation",
      "g9_sql_multivector" -> "the flagship FROM SQL, query-RELATION form: ONE statement for all query sets, rank-window shape routed to MvJoinTopK (one batched G9 search job + exact chamfer rescore)",
      "text_bm25_query" -> "parameterized BM25: broadcast term probe + broadcast df/stats joins, micro-quantized long sums, bounded-heap top-k",
      "table_profile_approx" -> "production profiling: single scan, HLL distincts, NO Expand (the exact twin pays scan-rows x columns)",
      "p6_vec_cosine" -> "fused cosine expression: one codegen loop per pair inside WholeStageCodegen",
      "knn_sql_filtered_ann" -> "filtered ANN from SQL: predicate + top-k routed to AnnFilteredTopK (escalating index candidates, predicate re-executed with parquet pushdown, exact rescore)",
      "a2_sql_maxsim" -> "the A2 MaxSim scorer through the mv relation route: same MvJoinTopK machinery, rescorer selected by the matched function",
      "hybrid_rrf" -> "hybrid retrieval: BM25 + sparse-cosine arms in one DAG; fusion = union + ONE hash aggregate of the two bounded lists (a FULL OUTER join could only sort-merge)",
      "w1_topk_diverse" -> "cap-diversified top-k: bounded heap per (query, label), window over the <= labels*m survivors per query",
      "topk_mmr" -> "MMR re-rank: bounded candidate-pair fan-out keyed by query, greedy selection in mapGroups (executors, not driver)",
      "g8_sql_sharded_saturated" -> "sharded tier through the relation route at saturation: one routed node over the query scan — per-shard beams via the resident-LRU lifecycle, candidates rescored and ranked inside it — the certificate plan",
      "g9_sql_sharded_saturated" -> "the FLAGSHIP from the sharded mv tier at per-shard saturating budget: every shard's beam saturates its sub-corpus, broadcast candidate union, exact chamfer rescore — the past-the-broadcast-ceiling certificate plan",
      "g8_sql_ivfpq_saturated" -> "IVF-PQ tier through the relation route at saturation: one routed node over the query scan — every cell probed (partition-pruned scan degenerates to full), ADC candidates rescored exactly inside it",
      "text_bm25_indexed" -> "index-served BM25 after postings compaction: bucket-pruned postings scan (PartitionFilters), stats from the sidecar, shared bm25Rank tail",
      "text_bm25_deleted" -> "deletion lifecycle serving: bucket-pruned postings scan, broadcast tombstone anti-join, gross-stats-minus-tombstones constants, shared bm25Rank tail",
      "knn_sql_filtered_sharded_exact" -> "filtered route on the sharded tier in exact mode: the exactness backstop scores the FULL filtered scan (pushed predicate, no generator candidates can claim saturation), exact by construction",
      "takedown_lifecycle" -> "streaming-face takedown: delta-ingested sharded index, broadcast tombstone anti-join after the per-shard union, exact survivor ranking (broadcast queries x survivor scan, bounded heap)",
      "pack_sequences" -> "two-level packing cumsum: per-bucket window (parallel), broadcast 256-row offset table, no global window until the recursion's tiny top",
      "g8_sql_versioned_live" -> "serve-through-compaction, post-flip: the freshly published generation through the routed relation shape — per-shard beams, dead-sidecar emission filter, exact rescore and top-k inside the routed node",
      "g8_sql_ivfpq_versioned" -> "serve-through-compaction on the COMPRESSED tier, post-flip: the published successor's cell-partitioned codes (dead rows physically erased), full-probe ADC at the certificate regime, exact rescore and top-k inside the routed node",
      "g8_sql_versioned_seqlog" -> "the versioned lifecycle committed through the SEQLOG (conditional-put) protocol: the served plan is identical to the rename-mode versioned face — the commit protocol is manifest-resolution-side only, invisible to the query DAG",
      "g9_sql_versioned_grace" -> "the mv flagship answered by the GRACE generation (pre-flip ref on a grown index): per-shard beams over gen0+delta, exact chamfer rescore — what a reader holding the old manifest runs mid-compaction",
      "text_bm25_versioned" -> "the lexical face's serve-through-compaction certificate: grace-generation postings scan (bucket-pruned), broadcast tombstone anti-join, gross-minus-tombstone constants, shared bm25Rank tail — the fixture's build/append/delete/compact jobs run before this plan",
      "g9_varc_saturated" -> "the ragged flagship's exactness certificate: saturated per-subquery beams (kernel scan), varc rerank (fused pair scorer, own-cardinality denominator) — the plan must equal g9_varc's with a bigger beam constant, nothing else",
      "s14_random_vectors_seeded" -> "the seeded-source twin: pure integer-hash projection (no scan, no libm), one vec_id-partitioned window pair for the ordered sum-of-squares — the only exchange is the window's hash partitioning",
      "g10_shared_saturated" -> "the shared-visited kernel's exactness certificate: saturated shared beams (every expanded node scored against all c subqueries), exact-cosine rescore of the per-subquery slice, rank window",
      "g8_sharded_delta_saturated" -> "the delta face's exactness certificate: saturated per-shard beams over base + renumbered delta expose the whole grown corpus, exact kNN ranks exactly what the tier exposed",
      "g9_sq8" -> "the compressed-tier flagship, now hash-checked end-to-end: SQ8 coarse scan proposes, exact rerank bounds, chamfer ranks — deterministic from exact min/max bounds down",
      "g9_ivfpq" -> "the trained IVF-PQ flagship at sf0.01 = the CERTIFICATE arm: committed-codes ADC at full probe, exact rerank, chamfer — the committed fixture is what DuckDB recomputes")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.PlanDump at sf0.01)\n")
    picks.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE
      val plan = normalize(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0))
      sb.append(s"\n## $name — $note\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
