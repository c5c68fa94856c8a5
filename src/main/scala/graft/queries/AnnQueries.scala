package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.functions.VectorFunctions._
import graft.multimodal.MediaPipeline
import graft.operators.LshAnn

/** Scalable similarity-search + multimodal surface of the LLM-data
  * pipeline: LSH-bucketed ANN (no cross join), embedding-cosine near-dup
  * pairs, and the binary-payload feature pipeline.
  */
object AnnQueries extends QueryPack {
  import VectorQueries.{C, NQ, K}

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LSH-bucketed approximate kNN (rows-only: approximate by design;
    // LlmPipelineSpec asserts recall ≥0.9 vs the exact j1 oracle).
    "knn_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      LshAnn.knn(q, d, K, excludeSelf = true)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // IVF-bucketed approximate kNN (rows-only: approximate by design;
    // recall gate in LlmPipelineSpec). Probe join touches ~nProbe/nlist
    // of the corpus instead of all pairs.
    "knn_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      graft.operators.IvfAnn.knn(s, q, d, K, excludeSelf = true)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // Embedding-cosine near-dup, EXACT form: global top-20 most-similar
    // vector pairs (a < b) via the blocked pair kernel — broadcast block ×
    // streamed corpus, one bounded top-20 heap per task, no O(N²) rows in
    // any shuffle. Same arithmetic as the DuckDB exhaustive oracle.
    "dedup_embedding_cosine" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.operators.PairKernel.globalTopPairs(s, e, topN = 20)
    }),

    // Embedding-cosine near-dup, THRESHOLD form (rows-only: banding is
    // probabilistic by design; LlmPipelineSpec gates candidate recall
    // ≥0.95 vs the exhaustive thresholded set and candidate volume ≪ N²).
    // The fixture corpus is uniform-random (max pair cos ≈0.6), so the
    // query plants one deterministic near-dup per vector — id+10⁶, each
    // coordinate scaled by (1 + 0.5·sin(id + 37j)), cos ≈ 0.96 — and the
    // honest 16-band × 12-bit LSH must find those pairs and prune the
    // rest.
    "dedup_embedding_threshold" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // Row-count hint: the planted corpus is exactly 2× the base table,
      // and counting the pruned parquet base is footer-metadata cheap —
      // without the hint the operator would re-scan the full planted
      // union (including the transform) just to size its bands.
      val nPlanted = 2L * base.count()
      // operator returns an unordered pair set; presentation order is
      // applied here, at the query boundary, on the output-sized result
      LshAnn.thresholdPairs(plantNearDups(base), tau = 0.85, nRows = nPlanted)
        .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
    }),

    // LSH kNN with corpus-SEEDED planes — the oracle-checkable twin of
    // knn_lsh: plane pick (md5 rank), sign-bit band keys, bucket
    // equi-join, exact cosine rerank, top-k — ALL deterministic double
    // arithmetic, hash-checked in DuckDB end-to-end. Same recipe that
    // converted IVF (knn_ivf_seeded).
    "knn_lsh_seeded" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      LshAnn.knnSeeded(q, d, K, excludeSelf = true)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // Thresholded embedding near-dup with corpus-seeded planes and a
    // pinned banding regime — the oracle-checkable twin of
    // dedup_embedding_threshold. The planted near-dups here use EXACT
    // integer-mod perturbation (no sin): libm transcendentals are the
    // one place Spark and DuckDB doubles could differ by an ulp, and an
    // oracle fixture must be bit-reproducible in both engines.
    "dedup_embedding_threshold_seeded" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      LshAnn.thresholdPairsSeeded(plantNearDupsExact(base), tau = 0.85)
        .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
    }),

    // The COMPLETE embedding-dedup pipeline in one query — thresholded
    // near-dup pairs (seeded LSH) -> connected components -> min-id
    // survivors — hash-checked end-to-end against a single recursive SQL
    // statement. This is the composition a training-data pipeline
    // actually runs; every stage is the already-certified operator.
    "dedup_embedding_clusters" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val corpus = plantNearDupsExact(base)
      val pairs = LshAnn.thresholdPairsSeeded(corpus, tau = 0.85)
        .select(col("id_a"), col("id_b"))
      graft.operators.ConnectedComponents.resolve(
        corpus.select(col("id").as("doc_id")), pairs)
    }),

    // Semantic dedup (SemDeDup, Abbas et al. 2023) over the planted
    // near-dup corpus: seeded-centroid cell assignment, cell-LOCAL
    // cosine≥τ dup marking, greedy-by-id survivors. Hash-checked
    // END-TO-END — the production path IS the oracle path (the seeded
    // centroid pick is the only "training", and it's deterministic).
    // nlist auto-scales ≈ √N (SemDedup.autoNlist — assignment and pair
    // scan balance at N^1.5), and the DuckDB oracle computes the SAME
    // nlist from the same corpus count, so the production
    // parameterization is the hash-checked one at every scale.
    "semdedup" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.operators.SemDedup.markSeededAuto(plantNearDupsExact(base),
        tau = 0.9)
    }),

    // The COMPLETE text→vector→dedup composition in one declarative
    // DAG: documents → hashing-trick embeddings (dense 32-bucket form
    // of doc_embed_hash, zero-norm docs dropped) → seeded-centroid
    // SemDeDup marking. Every stage is deterministic, so the whole
    // pipeline — tokenize, hash, assign, cell-local cosine, survivors —
    // is hash-checked END-TO-END in DuckDB. The story the engine
    // exists for: semantic dedup of raw text with zero model weights.
    "semdedup_text" -> ((s, dir) => {
      val contrib = {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), explode(TextQueries.tokensCol).as("tok"))
        val h = md5(col("tok"))
        val nib1 = conv(substring(h, 1, 1), 16, 10).cast("int")
        val nib2 = conv(substring(h, 2, 1), 16, 10).cast("int")
        toks.select(col("doc_id"),
          (nib1 * 2 + pmod(nib2, lit(2))).cast("int").as("pos"),
          when(pmod(shiftright(nib2, 1), lit(2)) === 1, 1.0)
            .otherwise(-1.0).as("c"))
      }
      val sums = contrib.groupBy("doc_id", "pos").agg(sum("c").as("v"))
      val dense = sums.groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("pos"), col("v"))))
          .as("m"))
        .select(col("doc_id"),
          transform(sequence(lit(0), lit(31)),
            j => coalesce(element_at(col("m"), j), lit(0.0)).cast("float"))
            .as("vec"))
        .filter(aggregate(col("vec"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")) > 0)
      graft.operators.SemDedup.markSeededAuto(
        dense.select(col("doc_id").as("id"), col("vec")), tau = 0.95)
    }),

    // IVF with a corpus-SEEDED (training-free) quantizer — the
    // oracle-checkable twin of knn_ivf: seed pick, cell assignment,
    // probing, and exact rerank are ALL deterministic double arithmetic,
    // so DuckDB hash-checks the complete probe+rerank tail that knn_ivf
    // (Lloyd-trained, rows-only) shares.
    "knn_ivf_seeded" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      graft.operators.IvfAnn.knnSeeded(s, q, d, K, excludeSelf = true)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // Product-quantization ANN, production path — Lloyd-trained per-
    // subspace codebooks, ADC scan over the 32×-compressed codes, exact
    // rerank of the top-nCand tail (rows-only: quantization cells are
    // training-dependent; LlmPipelineSpec gates recall ≥0.85 vs exact).
    "knn_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      graft.operators.PqAnn.knn(q, d, K, excludeSelf = true)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // IVF-PQ — the composed 100 TB index (rows-only: both quantizers are
    // training-dependent; LlmPipelineSpec gates recall ≥0.8 and asserts
    // the codes-only scan is partition-pruned to the probed cells). The
    // index directory is built once per fixture dir and reused — the
    // offline/online split the layout exists for.
    "knn_ivfpq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val (path, centroids, cbs) = ivfPqIndex(s, dir)
      graft.operators.IvfPq.knnOverIndexBlocked(s, q, path, d, centroids,
          cbs, K, excludeSelf = true)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // IVF-PQ with BOTH quantizers corpus-seeded — the oracle-checkable
    // twin of knn_ivfpq: md5-ranked seed rows supply the coarse cells
    // AND every subspace codebook, so the complete composed path —
    // partition-pruned probe over the codes-only index, ADC scan, exact
    // rerank — is deterministic double arithmetic hash-checked in DuckDB
    // end-to-end. The one ANN layout a 100 TB deployment actually runs,
    // now with the full-pipeline certificate.
    "knn_ivfpq_seeded" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val (path, centroids, cbs) = ivfPqSeededIndex(s, dir)
      graft.operators.IvfPq.knnSeededOverIndexBlocked(s, q, path, d,
          centroids, cbs, K, excludeSelf = true)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // PQ with corpus-SEEDED codebooks — the oracle-checkable twin of
    // knn_pq: md5-ranked seed rows supply every subspace codebook, so
    // encode (argmin subspace L2²), the ADC candidate scan, and the
    // exact rerank are ALL deterministic double arithmetic hash-checked
    // in DuckDB end-to-end — the knn_ivf_seeded conversion applied to
    // the compression tier.
    "knn_pq_seeded" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      graft.operators.PqAnn.knnSeeded(q, d, K, excludeSelf = true)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // IVF cell-balance audit over the seeded index — the layout-health
    // check a 100 TB operator runs before trusting partition pruning
    // (one hot cell = one unprunable giant partition). Reads the
    // codes-only index (cells precomputed at build), one tiny groupBy;
    // the fraction is computed via a broadcast total join, not a global
    // window. Hash-checked: the oracle re-derives every assignment.
    "ivfpq_cell_stats" -> ((s, dir) => {
      val (path, _, _) = ivfPqSeededIndex(s, dir)
      val cells = s.read.parquet(path)
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum(col("n")).as("tot"))
      cells.crossJoin(broadcast(tot))
        .select(col("cell"), col("n"),
          round(col("n").cast("double") / col("tot"), 6).as("frac"))
    }),

    // Seeded random projection 64→16 (Johnson-Lindenstrauss coarse
    // tier), long form so every projected component is DuckDB-hashable.
    "randproj_vectors" -> ((s, dir) => {
      val d = Tables.embeddings(s, dir)
        .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val seeds = graft.operators.IvfAnn.seededCentroids(d, 16)
      graft.operators.RandomProjection.project(d, "d_id", "d_vec", seeds)
        .select(col("d_id").as("vec_id"),
          posexplode(col("pvec")).as(Seq("j", "val")))
    }),

    // Projection-accelerated kNN — coarse top-nCand cosine in the
    // 16-dim projected space (4× less scan arithmetic than full-dim),
    // exact full-dimension rerank. Deterministic end-to-end: seed pick,
    // projection, both ranking stages all hash-checked in DuckDB.
    "knn_randproj" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      graft.operators.RandomProjection.knn(s, q, d, K, excludeSelf = true)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // Scalar (int8) quantization ANN — hash-checked END-TO-END with no
    // seeded twin: bounds training is exact per-dim min/max (selection,
    // not accumulation), encode/dequantize is fixed affine arithmetic,
    // so the full train → encode → coarse dequantized-cosine scan →
    // exact rerank pipeline is deterministic double arithmetic DuckDB
    // reproduces verbatim. The byte-per-dim tier of the compression
    // family (PQ = sub-byte, SQ8 = near-exact at 4× compression).
    "knn_sq8" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      graft.operators.Sq8Ann.knn(q, d, K, nCand = 60, excludeSelf = true)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // FILTERED ANN from SQL — the metadata-constrained retrieval every
    // production corpus runs (`WHERE label IN (...) ORDER BY cosine DESC
    // LIMIT k`): AnnTopKRule routes the Filter+Sort+Limit shape to
    // AnnFilteredTopKNode (plans/AnnRewrite.scala), whose exec fetches an
    // ESCALATING candidate stream from the fixture RoarGraph and
    // post-filters it against the carried predicate (re-executed with
    // full parquet pushdown, constrained to candidate ids). This entry is
    // the EXACTNESS certificate: it runs in the exact-mode child session
    // (`spark.graft.ann.filtered.exact=true` → the saturating fetch, the
    // same regime g9_sql_saturated certifies), so the routed answer must
    // be HASH-IDENTICAL to the exhaustive filtered top-k in DuckDB.
    "knn_sql_filtered" -> ((s, dir) => {
      val rs = svSqlSetup(s, dir, exact = true)
      rs.sql(filteredKnnSql(svQueryLit(rs, dir), 2 * K))
    }),

    // The same filtered statement at the DEFAULT overfetch (candidates =
    // 8·k per round, escalating ×4 until k survivors or saturation) —
    // the plan a 100 TB corpus actually runs. Rows-only: below
    // saturation the candidate set is approximate by design;
    // AnnRewriteSpec holds the ≥0.9 recall gate, the routed-plan
    // assert, and the saturation-equals-exhaustive property.
    "knn_sql_filtered_ann" -> ((s, dir) => {
      val rs = svSqlSetup(s, dir, exact = false)
      rs.sql(filteredKnnSql(svQueryLit(rs, dir), 2 * K))
    }),

    // The SAME filtered statement served by the SHARDED tier — the
    // past-the-broadcast-ceiling filtered composition (metadata
    // predicate + escalating per-shard beam candidates + pushdown
    // re-execution), the shape a 100 TB corpus actually runs once it
    // outgrows the broadcast graph. The pre-filter short-circuit is
    // disabled in this session so the tier genuinely serves.
    // Rows-only: below saturation the candidate set is approximate by
    // design; AnnRewriteSpec's "filtered route on the sharded tier"
    // test holds the >=0.9 recall, tier-routing, shard-load, and
    // deletion-mask gates.
    "knn_sql_filtered_sharded" -> ((s, dir) => {
      val rs = svFilteredShardedSetup(s, dir)
      rs.sql(filteredKnnSql(svQueryLit(rs, dir), 2 * K))
    }),

    // The sharded filtered composition's EXACTNESS certificate: same
    // statement, same forced sharded tier, but in
    // `spark.graft.ann.filtered.exact` mode — the route's exactness
    // backstop makes exact mode over a GENERATOR tier score the full
    // filtered scan (a per-shard-budget generator can never claim
    // saturation from parameter exhaustion alone), so the routed
    // answer must be HASH-IDENTICAL to the exhaustive filtered top-k
    // in DuckDB. Closes the last uncertified routed shape: every
    // {graph, sharded} × {plain, filtered} × {literal, relation} cell
    // now carries either a saturation or an exactness certificate.
    "knn_sql_filtered_sharded_exact" -> ((s, dir) => {
      val rs = svFilteredShardedSetup(s, dir, exact = true)
      rs.sql(filteredKnnSql(svQueryLit(rs, dir), 2 * K))
    }),

    // The G8 single-vector harness question FROM SQL at real
    // multiplicity — per-query top-k over a query RELATION (one
    // statement for all NQ·C query vectors), the rank-window shape
    // routed to SvJoinTopKNode: ONE batched beam-search job + exact
    // rescore off the broadcast raw store, zero corpus reads. Rows-only
    // (graph search order-dependent); AnnRewriteSpec holds the
    // saturation-exactness, recall, and routed-plan gates.
    "g8_sql_knn" -> ((s, dir) => {
      val rs = svSqlSetup(s, dir, exact = false)
      rs.sql(svRelationSql(K))
    }),

    // The same statement in the certificate session
    // (`spark.graft.ann.relation.exact=true` → l = 2n saturating
    // beams): the candidate set saturates and the routed answer must be
    // HASH-IDENTICAL to the exhaustive per-query cosine ranking in
    // DuckDB — the single-vector twin of g9_sql_saturated.
    "g8_sql_saturated" -> ((s, dir) => {
      val rs = svSqlSetup(s, dir, exact = true)
      rs.sql(svRelationSql(K))
    }),

    // The SAME saturating statement answered by the SHARDED tier
    // (forced via spark.graft.ann.tier in a per-tier certificate
    // session): every shard's beam runs at l = 2·rows with all hits
    // kept, so the candidate set saturates and the routed answer must
    // be HASH-IDENTICAL to the exhaustive ranking — the "every tier
    // shape certified" closure for the past-the-broadcast-ceiling path.
    "g8_sql_sharded_saturated" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "sharded")
      rs.sql(svRelationSql(K))
    }),

    // The DELETION certificate: the same saturating statement served
    // by a sharded index with a takedown tranche (vec_id % 13 = 0)
    // tombstoned after the build — deleted twice (the replay
    // converges), never rebuilt, never re-registered. At saturation
    // the candidate set is every LIVE row, so the routed answer must
    // be HASH-IDENTICAL to the exhaustive ranking over the SURVIVORS —
    // certifying the mark-deleted masking through the full SQL route
    // (rule match → per-shard beams → tombstone anti-join → exact
    // rescore → rank window), not just the operator face.
    "g8_sql_sharded_deleted" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "sharded_deleted")
      rs.sql(svRelationSql(K))
    }),

    // The PURGE certificate: the same saturating statement after the
    // deleted index has been COMPACTED — payloads zeroed, erased ids
    // RETIRED from the per-query `_tombstones` mask into the
    // per-shard dead sidecars. With the mask gone, the only thing
    // keeping erased ids out of the answer is the kernels' emission
    // filter (a zeroed stub scores similarity 0, mid-range — at
    // saturation it WOULD outrank negative-similarity survivors), so
    // a hash match against the survivor ranking certifies the
    // retire-at-compaction design through the full routed machinery.
    "g8_sql_sharded_purged" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "sharded_purged")
      rs.sql(svRelationSql(K))
    }),

    // The UPDATE certificate: revisions of vec_id % 17 = 0 landed via
    // the composed primitives — delete the old id, re-append the
    // revision under a fresh monotone id (the text_bm25_updated recipe
    // on the vector tier). Content-identical revisions make the check
    // sharp: an unmasked old id would tie its revision's score with a
    // LOWER id and steal the rank — any leak hash-mismatches against
    // the survivor∪revision ranking.
    "g8_sql_sharded_updated" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "sharded_updated")
      rs.sql(svRelationSql(K))
    }),

    // Serve-through-compaction, reader side: the registered index is
    // the SUPERSEDED pre-compact generation — resolved before
    // compactVersioned ran to completion and published its successor.
    // Published generations are immutable and the grace window keeps
    // the predecessor on disk through one flip, so the stale reader
    // must still answer the exact survivor ranking (mask semantics,
    // `_tombstones` intact in its own generation dir).
    "g8_sql_sharded_grace" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "sharded_grace")
      rs.sql(svRelationSql(K))
    }),

    // Serve-through-compaction, post-flip side: the freshly published
    // generation — deltas folded, payloads zeroed, mask retired into
    // per-shard dead sidecars — must answer the SAME survivor ranking
    // through the routed machinery. Together with sharded_grace this
    // hash-certifies both sides of the atomic pointer flip.
    "g8_sql_versioned_live" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "versioned_live")
      rs.sql(svRelationSql(K))
    }),

    // The OBJECT-STORE COMMIT certificate: the identical takedown-
    // through-a-flip lifecycle, but every generation flip committed
    // through the seqlog (conditional-put) protocol — immutable
    // MANIFEST.<seq> appends via exclusive create, zero renames, the
    // commit path a 100 TB deployment runs on S3-class storage. The
    // routed answer must stay HASH-IDENTICAL to the exhaustive
    // survivor ranking: the commit protocol is serving-invisible.
    "g8_sql_versioned_seqlog" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "versioned_seqlog")
      rs.sql(svRelationSql(K))
    }),

    // And by the IVF-PQ tier: exact mode probes EVERY cell and keeps
    // every row (probe-parameter exhaustion is NOT corpus saturation —
    // the route saturates the generator itself), so the compressed
    // tier's routed machinery carries the same hash-green certificate.
    "g8_sql_ivfpq_saturated" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "ivfpq")
      rs.sql(svRelationSql(K))
    }),

    // The GROWTH certificate: the same saturating statement served by
    // an IVF-PQ index that was REGISTERED at half the corpus and then
    // grown to full size by appendIndex under the frozen build-time
    // quantizers — incremental index maintenance (IvfPq.appendIndex)
    // and the registration's growth observation proven hash-identical
    // to the exhaustive ranking THROUGH the routed SQL machinery, not
    // just operator-level parity. Reference analog: the reference
    // rebuilds (index_bipartite.cpp has no delta path); this certifies
    // the delta path a 100 TB deployment actually runs.
    "g8_sql_ivfpq_grown_saturated" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "ivfpq_grown")
      rs.sql(svRelationSql(K))
    }),

    // Serve-through-compaction on the COMPRESSED tier — the normal
    // serving path past the broadcast ceiling, which until this round
    // could only compact under reader-excluding quiescence. The
    // versioned IVF-PQ fixture takes a full takedown lifecycle through
    // a generation flip (build gen0 → tombstone vec_id % 13 = 0 →
    // compactVersioned publishes gen1 with the rows physically
    // erased); BOTH sides of the flip must answer the exhaustive
    // survivor ranking hash-exactly through the routed SQL machinery.
    // Reader side: the SUPERSEDED pre-flip generation (tombstones
    // still masking) — the grace window a slow reader holds.
    "g8_sql_ivfpq_grace" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "ivfpq_grace")
      rs.sql(svRelationSql(K))
    }),

    // Post-flip side: the freshly published generation (dead rows
    // erased, tombstone-free — the deletion trigger re-armed).
    "g8_sql_ivfpq_versioned" -> ((s, dir) => {
      val rs = svTierSqlSetup(s, dir, "ivfpq_versioned")
      rs.sql(svRelationSql(K))
    }),

    // The reference's FLAGSHIP question asked FROM SQL — the set-level
    // top-k (`test_search_multivector_rerank.cpp:276-339`) in the
    // QUERY-RELATION spelling: ONE statement for every query set (the
    // reference harness runs 10k sets per sweep, line 276 — a
    // literal-per-set SQL surface is a toy at that multiplicity), the
    // per-set top-k expressed as the standard rank-window idiom and
    // auto-routed by AnnTopKRule to ONE batched G9 adaptive beam-search
    // job + exact chamfer rescore (plans/AnnRewrite.scala
    // `MvJoinTopKNode`). Runs in the dedicated ROUTED child session —
    // `spark.graft.ann.rewrite` is never set on the caller's session.
    // Rows-only (graph search is order-dependent); LlmPipelineSpec
    // gates ≥0.95 set recall vs the fullscan chamfer oracle AND asserts
    // the route actually fires (MvJoinTopK in the physical plan).
    "g9_sql_multivector" -> ((s, dir) => {
      val rs = mvSqlSetup(s, dir)
      rs.sql(mvRelationSql("graft_mv_sets", K))
    }),

    // The flagship SQL route at SATURATING budget — the end-to-end
    // EXACTNESS certificate for the whole routed machinery (rule match
    // → batched beam search → chamfer rescore → bounded top-k): with
    // the beam budget ≥ the corpus (the reference sweep's recall-1.0
    // regime, budget ≥600 on the sf1 grid), the candidate set
    // saturates and the routed plan's answer is HASH-IDENTICAL to the
    // fullscan chamfer oracle (a1's oracle shape, same round-6 score
    // discipline). Reference behavior:
    // tests/test_search_multivector_rerank.cpp:341-347 at max budget.
    "g9_sql_saturated" -> ((s, dir) => {
      val rs = mvSqlSetup(s, dir)
      rs.sql(mvRelationSql("graft_mv_sets_sat", K))
    }),

    // The flagship relation statement answered by the SHARDED mv tier
    // at per-shard saturating budget — the mv × sharded cell of the
    // certificate grid: every shard's beam explores its whole
    // sub-corpus (budget ≥ 2× total rows is handed to each shard), the
    // candidate union covers every set, and the routed answer must be
    // HASH-IDENTICAL to the same fullscan chamfer oracle. The
    // past-the-broadcast-ceiling flagship path, certified rather than
    // recall-gated.
    "g9_sql_sharded_saturated" -> ((s, dir) => {
      val rs = mvSqlSetup(s, dir)
      rs.sql(mvRelationSql("graft_mv_sets_satsh", K))
    }),

    // The FLAGSHIP through a generation flip: the registered mv tier
    // is the SUPERSEDED pre-compact generation of a versioned index
    // (gen0 + its growth delta, resolved before compactVersioned
    // published gen1). The grace generation is immutable and covers
    // the full corpus, so at per-shard saturating budget the stale
    // reader's routed answer must STILL be hash-identical to the
    // fullscan chamfer ranking — serve-through-compaction certified on
    // the reference's primary query shape, not just single-vector.
    "g9_sql_versioned_grace" -> ((s, dir) => {
      val rs = mvSqlSetup(s, dir)
      rs.sql(mvRelationSql("graft_mv_sets_satvg", K))
    }),

    // The A2 scorer (ColBERT MaxSim) through the SAME relation route —
    // `graft_maxsim_score` in the rank window instead of chamfer: the
    // matched function selects the rescorer, the candidate beam search
    // is shared. Rows-only (graph candidates are order-dependent);
    // AnnRewriteSpec's maxsim test holds the saturation-exactness and
    // routed-plan gates on the fixture.
    "a2_sql_maxsim" -> ((s, dir) => {
      val rs = mvSqlSetup(s, dir)
      rs.sql(mvRelationSql("graft_mv_sets", K, fn = "graft_maxsim_score"))
    }),

    // MaxSim relation route at SATURATING budget — hash-green twin: the
    // candidate set saturates, so the routed answer must equal the
    // exhaustive MaxSim ranking (a2's oracle shape, minus the rank
    // column). Reference scorer: ComputeSummedMaxSimilarity,
    // multivector_reranker.cpp:432-438.
    "a2_sql_saturated" -> ((s, dir) => {
      val rs = mvSqlSetup(s, dir)
      rs.sql(mvRelationSql("graft_mv_sets_sat", K, fn = "graft_maxsim_score"))
    }),

    // MaxSim from the SHARDED mv tier at per-shard saturating budget —
    // completes the {chamfer, maxsim} × {graph, sharded} certificate
    // grid: the matched function selects the rescorer, the saturating
    // per-shard beams are shared with g9_sql_sharded_saturated, and
    // the routed answer must equal the exhaustive summed-max ranking.
    "a2_sql_sharded_saturated" -> ((s, dir) => {
      val rs = mvSqlSetup(s, dir)
      rs.sql(mvRelationSql("graft_mv_sets_satsh", K,
        fn = "graft_maxsim_score"))
    }),

    // The FLAGSHIP multivector query shape (G9: per-sub-vector candidate
    // generation → smooth-Chamfer rerank → top-k sets) served by the
    // COMPRESSED tier instead of a graph: SQ8 coarse scan proposes each
    // sub-vector's neighbors, the shared chamfer rerank scores candidate
    // sets exactly. Rows-only (candidate recall is parameter-dependent);
    // LlmPipelineSpec gates ≥0.95 set recall vs the fullscan oracle —
    // proof the tier family composes with the reference's core query,
    // not just single-vector top-k.
    "g9_sq8" -> ((s, dir) => {
      import graft.operators.Sq8Ann
      val e = Tables.embeddings(s, dir)
      val querySets = e.filter(col("vec_id") < NQ * C).select(
        (col("vec_id") / C).cast("long").as("qset_id"),
        (col("vec_id") % C).cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
      val queryVecs = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val bounds = Sq8Ann.trainBounds(d)
      val enc = Sq8Ann.encode(d, bounds)
      val cands = Sq8Ann.searchEncoded(queryVecs, enc, d, bounds,
          k = 40, nCand = 80)
        .select((col("q_id") / C).cast("long").as("qset_id"), col("d_id"))
      graft.operators.Rerank.chamferTopK(e, querySets, cands, C, K)
    }),

    // The flagship multivector shape over the IVF-PQ tier — THE layout
    // a 100 TB deployment runs: per-sub-vector candidates from the
    // partition-pruned codes-only index, smooth-Chamfer rerank on full
    // precision. Two arms: where the COMMITTED trained-codes fixture
    // exists for this dir (sf0.01, the oracle-compare scale), the
    // certificate arm serves from it at FULL probe — ADC over every
    // committed code, exact rerank, chamfer — and is HASH-CHECKED
    // against DuckDB's recomputation from the same fixture
    // ([[g9IvfPqOracle]]). Elsewhere (the bench/test scales) the
    // production arm trains Lloyd quantizers and serves the
    // partition-pruned probe; LlmPipelineSpec gates ≥0.9 set recall
    // vs the fullscan oracle on that arm.
    "g9_ivfpq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val querySets = e.filter(col("vec_id") < NQ * C).select(
        (col("vec_id") / C).cast("long").as("qset_id"),
        (col("vec_id") % C).cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
      val queryVecs = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val cands = ivfPqCommittedFixture(s, dir) match {
        case Some((encoded, cbs)) =>
          graft.operators.PqAnn.searchEncoded(queryVecs, encoded, d, cbs,
              k = 40, nCand = 160)
            .select((col("q_id") / C).cast("long").as("qset_id"),
              col("d_id"))
        case None =>
          val (path, centroids, cbs) = ivfPqIndex(s, dir)
          graft.operators.IvfPq.knnOverIndexBlocked(s, queryVecs,
              path, d, centroids, cbs, k = 40, nCand = 160)
            .select((col("q_id") / C).cast("long").as("qset_id"),
              col("d_id"))
      }
      graft.operators.Rerank.chamferTopK(e, querySets, cands, C, K)
    }),

    // S15 (closing): CLIP4Clip mean-pool prep — frames grouped 5-per-video
    // (video_id = vec_id / 5), per-frame L2-normalize, per-dim mean,
    // renormalize (prepare_for_clip_webvid.py:70-105). Long form
    // (video_id, pos, val) so the pooled vectors are DuckDB-hashable.
    "s15_meanpool" -> ((s, dir) => {
      val frames = Tables.embeddings(s, dir)
        .select((col("vec_id") / 5).cast("long").as("video_id"),
          col("embedding"))
      graft.operators.MeanPool.clip4clip(frames)
    }),

    // S14: seeded random-vector source (rows-only; partitioning-invariant
    // determinism asserted in SourcesSpec). Norm column demonstrates the
    // normalize-at-generation contract.
    "s14_random_vectors" -> ((s, dir) => {
      graft.sources.RandomVectors.df(s, 200, 16, seed = 42)
        .select(col("vec_id"),
          round(vecNorm(col("embedding")), 6).as("norm"),
          round(element_at(col("embedding"), 1), 6).as("first_elem"))
    }),

    // S14 DETERMINISTIC TWIN (hash-green certificate for the random
    // source's generate→normalize pipeline shape, reference semantics
    // utility_methods.cpp:104-154): the JVM RNG is replaced by a
    // value-hash generator BOTH engines recompute bit-for-bit — an
    // integer multiplicative hash per (vec_id, pos, rep) mapped to a
    // uniform in [0,1), twelve uniforms summed (Irwin–Hall, the CLT
    // pseudo-Gaussian) and centered, then L2-normalized per vector.
    // Irwin–Hall instead of Box–Muller DELIBERATELY: log/cos are libm
    // calls whose last-ulp rounding is not pinned across engines (the
    // plantNearDupsExact precedent), while integer arithmetic, exact
    // division, and same-order double addition are. The sum-of-squares
    // accumulates in ascending-pos order on both sides (ordered
    // cumulative window), and the boundary double-rounds like every
    // other certified FP query.
    "s14_random_vectors_seeded" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val Q = 2147483647L // 2^31-1: keeps every intermediate < 2^63 (ANSI)
      def u(t: Int) =
        (((col("vec_id") * 1000003L + col("pos") * 7919L +
           lit(t.toLong) * 104729L) * 2654435761L) % Q)
          .cast("double") / lit(2147483647.0)
      val v = (1 to 12).map(u).reduce(_ + _) - lit(6.0)
      val cum = Window.partitionBy("vec_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.range(200).toDF("vec_id")
        .select(col("vec_id"),
          explode(sequence(lit(0L), lit(15L))).as("pos"))
        .withColumn("v", v)
        .withColumn("css", sum(col("v") * col("v")).over(cum))
        .withColumn("ss",
          max(col("css")).over(Window.partitionBy("vec_id")))
        .select(col("vec_id"), col("pos"),
          round(round(col("v") / sqrt(col("ss")), 9), 6).as("val"))
    }),

    // Multimodal: batched byte-level features over opaque binary payloads,
    // scalarized at the query boundary (the driver's compare can't sort
    // array columns) and DuckDB-oracled: n_bytes + entropy + all 16
    // histogram bins as scalar columns. The decode stub's embedding is
    // covered by LlmPipelineSpec (not SQL-expressible).
    // Frame sampling over opaque media payloads — pure relational slice
    // arithmetic (no kernel), hash-checked: the fixture payloads are
    // ASCII text bytes, so DuckDB reproduces the byte windows with
    // varchar substring and the same md5.
    "mm_frame_sample" -> ((s, dir) => {
      val frames = MediaPipeline.frameSample(
        MediaPipeline.fromDocuments(s, dir).filter(col("media_id") < 50))
      frames.select(col("media_id"), col("frame_idx"),
        md5(col("frame")).as("frame_hash"),
        length(col("frame")).cast("long").as("frame_bytes"))
    }),

    // The full video-style multimodal path: frame-sample → per-frame
    // resize+decode (stub codec, real batching) → CLIP4Clip mean-pool.
    // Rows-only: the codec stub is not SQL-expressible; LlmPipelineSpec
    // gates determinism, unit norms, and video counts.
    "mm_frame_pipeline" -> ((s, dir) => {
      val frames = MediaPipeline.frameSample(
        MediaPipeline.fromDocuments(s, dir).filter(col("media_id") < 50))
      graft.operators.MeanPool.clip4clip(
        MediaPipeline.decodeFrames(frames)
          .select(col("media_id").as("video_id"),
            col("embedding")))
        .select(col("video_id"), col("pos"),
          round(col("val"), 6).as("val"))
    }),

    "mm_media_features" -> ((s, dir) => {
      val f = MediaPipeline.features(
        MediaPipeline.fromDocuments(s, dir).filter(col("media_id") < 50))
      val histCols = (0 until 16).map(k =>
        round(round(element_at(col("byte_hist"), k + 1), 9), 6).as(s"hist_$k"))
      f.select(col("media_id") +: col("mime") +: col("n_bytes") +:
        round(round(col("entropy"), 9), 6).as("entropy") +: histCols: _*)
    }),

    // REAL-codec round trip on the query surface: per-doc synthetic PNG
    // (deterministic pattern, genuine javax.imageio encoder) decoded
    // back through the real image decoder into luminance strips.
    // Rows-only: PNG containers aren't SQL-reproducible; LlmPipelineSpec
    // gates determinism and pixel-content sensitivity. Per-row cost is
    // O(tiny image) — embarrassingly parallel, no shuffle. Output is
    // EXPLODED to scalar (doc_id, png_bytes, pos, val) rows: the driver's
    // compare path sorts the dump with pandas, which cannot order array
    // cells — the r8 red row.
    "mm_image_decode" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.documents(s, dir).select(col("doc_id"))
        .filter(col("doc_id") < 200)
        .as[Long]
        .mapPartitions(_.flatMap { id =>
          val png = MediaPipeline.syntheticPng(id)
          val emb = MediaPipeline.decode(png, "image/png")
          emb.iterator.zipWithIndex.map { case (v, j) =>
            (id, png.length.toLong, j.toLong, math.round(v * 1e6) / 1e6)
          }
        }).toDF("doc_id", "png_bytes", "pos", "val")
    }),

    // Real VIDEO-path round trip on the query surface: deterministic
    // synthetic animated GIFs (JDK gif encoder) → multi-frame decode
    // (ImageReader frame iteration) → per-frame luminance strips,
    // scalarized. Rows-only: no SQL engine decodes GIF; LlmPipelineSpec
    // gates frame counts, brightness order, pooling, and determinism.
    "mm_video_decode" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.documents(s, dir).select(col("doc_id"))
        .filter(col("doc_id") < 100)
        .as[Long]
        .mapPartitions(_.flatMap { id =>
          val gif = MediaPipeline.syntheticGif(id)
          MediaPipeline.decodeVideoFrames(gif).get.iterator.zipWithIndex
            .flatMap { case (f, fi) =>
              f.iterator.zipWithIndex.map { case (v, j) =>
                (id, fi.toLong, j.toLong, math.round(v * 1e6) / 1e6)
              }
            }
        }).toDF("doc_id", "frame_idx", "pos", "val")
    })
  )

  /** Like [[plantNearDups]] but with EXACT integer-mod perturbation
    * instead of sin: factor = 1 + 0.05·((id + 37j) mod 19 − 9) ∈
    * [0.55, 1.45], cos(original, copy) ≈ 0.96. Pure integer/rational
    * double arithmetic → bit-identical in Spark and DuckDB, which the
    * seeded oracle twin requires (sin is libm, not IEEE-pinned). */
  def plantNearDupsExact(base: DataFrame): DataFrame = {
    // perturb FIRST, re-id in a second select: an `.as("id")` alias in
    // the same projection would capture the lambda's col("id") reference
    // (analyzer resolves it against the aliased output), silently keying
    // the factor off id+10⁶ — the oracle SQL keys off the BASE id
    val planted = base
      .select(col("id"),
        transform(col("vec"), (x, j) =>
          (x * (lit(1.0) + lit(0.05) *
            (((col("id") + lit(37L) * j) % 19) - lit(9)).cast("double")))
            .cast("float")).as("vec"))
      .select((col("id") + 1000000L).as("id"), col("vec"))
    base.unionAll(planted)
  }

  /** Base corpus ∪ one deterministic perturbed copy per vector (id+10⁶,
    * per-coordinate multiplicative noise, cos(original, copy) ≈ 0.96) —
    * partition-invariant (pure function of id and coordinate index). */
  def plantNearDups(base: DataFrame): DataFrame = {
    val planted = base.select(
      (col("id") + 1000000L).as("id"),
      transform(col("vec"), (x, j) =>
        (x * (lit(1.0) + lit(0.5) * sin(col("id") + lit(37.0) * j)))
          .cast("float")).as("vec"))
    base.unionAll(planted)
  }

  /** The rank-window SQL spelling of the flagship set-level query over
    * a query-set RELATION — the exact shape `AnnTopKRule.rewriteMvJoin`
    * routes. One statement for every query set in `graft_mv_queries`.
    * `fn` picks the set scorer: `graft_chamfer_score` (A1, the default)
    * or `graft_maxsim_score` (A2) — the matched function decides the
    * route's rescorer, the candidate beams are shared. */
  private def mvRelationSql(setsView: String, k: Int,
                            fn: String = "graft_chamfer_score"): String =
    s"""SELECT qset_id, dset_id, round(score, 6) AS score FROM (
       |  SELECT q.qset_id, d.dset_id,
       |         $fn(q.vec_set, d.vec_set) AS score,
       |         row_number() OVER (PARTITION BY q.qset_id
       |           ORDER BY $fn(q.vec_set, d.vec_set) DESC,
       |                    d.dset_id ASC) AS rnk
       |  FROM graft_mv_queries q CROSS JOIN $setsView d) t
       |WHERE rnk <= $k""".stripMargin

  /** The routed CHILD session statements run in (see
    * [[Fixtures.childSession]]): `spark.graft.ann.rewrite=true` lives
    * there and the CALLER's session conf is never touched — a later
    * query registering its own relation on the main session can never
    * be silently routed, and the driver run leaves the main session's
    * conf exactly as it found it (QuerySmokeSpec asserts). */
  private def routedSession(s: SparkSession): SparkSession =
    Fixtures.childSession(s, "spark.graft.ann.rewrite" -> "true")

  /** Second routed child for the filtered-ANN CERTIFICATE query:
    * `spark.graft.ann.filtered.exact=true` so every filtered route in it
    * jumps straight to the saturating fetch (exact answers). A separate
    * session — not a set/unset on the shared routed one — because the
    * conf is read at EXECUTE time and the standard rows-only variant may
    * execute arbitrarily later. The single-vector relation route's
    * saturating mode rides the same certificate session: l = 2n beams,
    * exact end-to-end. */
  private def exactFilteredSession(s: SparkSession): SparkSession =
    Fixtures.childSession(s, "spark.graft.ann.rewrite" -> "true",
      "spark.graft.ann.filtered.exact" -> "true",
      "spark.graft.ann.relation.exact" -> "true")

  /** Per-TIER certificate sessions (sharded / ivfpq): exact-mode child
    * with the tier FORCED by conf, so the relation route answers from
    * that tier's saturating batch generator (every shard's beam at
    * l = 2·rows / every IVF cell probed) instead of the broadcast
    * graph — the per-tier twins of [[exactFilteredSession]]. */
  private def tierExactSession(s: SparkSession, tier: String): SparkSession =
    Fixtures.childSession(s, "spark.graft.ann.rewrite" -> "true",
      "spark.graft.ann.relation.exact" -> "true",
      "spark.graft.ann.tier" -> tier)

  /** knn_sql_filtered_sharded's session: rewrite on, sharded tier
    * FORCED, pre-filter short-circuit OFF (the tier must serve), exact
    * mode OFF — the production overfetch/escalation regime, unlike the
    * [[tierExactSession]] certificates. With `exact = true` the same
    * composition runs in `spark.graft.ann.filtered.exact` mode — the
    * route's exactness backstop scores the FULL filtered scan over a
    * generator tier, so the sharded filtered shape carries a
    * hash-green certificate (knn_sql_filtered_sharded_exact). */
  private def svFilteredShardedSetup(s: SparkSession, dir: String,
                                     exact: Boolean = false): SparkSession = {
    import graft.plans.AnnIndexRegistry
    val rs = Fixtures.childSession(s, "spark.graft.ann.rewrite" -> "true",
      "spark.graft.ann.tier" -> "sharded",
      "spark.graft.ann.filtered.preFilterMax" -> "0",
      "spark.graft.ann.filtered.exact" -> exact.toString)
    val emb = Tables.embeddings(rs, dir)
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    AnnIndexRegistry.registerSharded(emb, "vec_id", "embedding",
      IndexQueries.shardedHandles(rs, dir, 2), dim = dim,
      metricName = "cosine", searchL = 80)
    emb.createOrReplaceTempView("graft_emb")
    rs
  }

  /** [[svSqlSetup]]'s candidate-tier twin: install the rule on the
    * tier's certificate session, register the requested tier over the
    * embeddings relation (fixture sharded index / IVF-PQ index — both
    * cached per dir), (re)point the views. Idempotent per call. */
  private def svTierSqlSetup(s: SparkSession, dir: String,
                             tier: String): SparkSession = {
    import graft.plans.AnnIndexRegistry
    val rs = tierExactSession(s, tier)
    val emb = Tables.embeddings(rs, dir)
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    // the relation the statement scans — and the registration's rescore
    // corpus; UPDATE certificates swap in the revised corpus so the
    // rescore join sees the revision ids the index serves
    val corpusDf = tier match {
      case "sharded" =>
        AnnIndexRegistry.registerSharded(emb, "vec_id", "embedding",
          IndexQueries.shardedHandles(rs, dir, 2), dim = dim,
          metricName = "cosine", searchL = 80)
        emb
      case "sharded_deleted" =>
        // a FRESH index (the shared fixture handle serves the other
        // certificates and must never see these tombstones), takedown
        // tranche deleted twice (replay converges), then registered —
        // the serving path must mask the tranche through the routed
        // SQL machinery without re-registration
        AnnIndexRegistry.registerSharded(emb, "vec_id", "embedding",
          IndexQueries.shardedDeletedHandles(rs, dir), dim = dim,
          metricName = "cosine", searchL = 80, name = "sharded_deleted")
        emb
      case "sharded_purged" =>
        // the deleted fixture taken through compact: zeroed payloads,
        // retired mask, dead sidecars — the post-purge serving shape
        AnnIndexRegistry.registerSharded(emb, "vec_id", "embedding",
          IndexQueries.shardedPurgedHandles(rs, dir), dim = dim,
          metricName = "cosine", searchL = 80, name = "sharded_purged")
        emb
      case "sharded_updated" =>
        // the UPDATE recipe on the vector tier: revisions landed as
        // delete-old-id + re-append-under-fresh-monotone-id; the
        // certificate session registers AND scans the revised corpus
        val (ref, corpusPath) = IndexQueries.shardedUpdatedHandles(rs, dir)
        val corpus = rs.read.parquet(corpusPath)
        AnnIndexRegistry.registerSharded(corpus, "vec_id", "embedding",
          ref, dim = dim, metricName = "cosine", searchL = 80,
          name = "sharded_updated")
        corpus
      case "sharded_grace" =>
        // serve-through-compaction, reader side: the registered ref is
        // the SUPERSEDED pre-compact generation (mask semantics) after
        // compactVersioned published its successor — a reader holding
        // the pre-flip manifest must keep answering the exact survivor
        // ranking from the intact grace generation
        AnnIndexRegistry.registerSharded(emb, "vec_id", "embedding",
          IndexQueries.shardedVersionedHandles(rs, dir)._1, dim = dim,
          metricName = "cosine", searchL = 80, name = "sharded_grace")
        emb
      case "versioned_live" =>
        // serve-through-compaction, post-flip side: the freshly
        // published generation (mask retired into dead sidecars) must
        // answer the same survivor ranking
        AnnIndexRegistry.registerSharded(emb, "vec_id", "embedding",
          IndexQueries.shardedVersionedHandles(rs, dir)._2, dim = dim,
          metricName = "cosine", searchL = 80, name = "versioned_live")
        emb
      case "versioned_seqlog" =>
        // the same post-flip lifecycle committed through the
        // conditional-put SEQLOG protocol (the object-store commit
        // path) — the committer must be invisible to query semantics
        AnnIndexRegistry.registerSharded(emb, "vec_id", "embedding",
          IndexQueries.shardedSeqlogHandles(rs, dir), dim = dim,
          metricName = "cosine", searchL = 80, name = "versioned_seqlog")
        emb
      case "ivfpq" =>
        val (path, centroids, cbs) = ivfPqIndex(rs, dir)
        AnnIndexRegistry.registerIvfPq(emb, "vec_id", "embedding",
          AnnIndexRegistry.IvfPqEntry(path, emb, "vec_id", "embedding",
            centroids, cbs, "cosine", nProbe = 12, nCand = 250))
        emb
      case "ivfpq_grown" =>
        // register over the HALF-built index, THEN append the second
        // half — the serving path reads build+append output, and the
        // registration predates the growth (the growth-contract order)
        val (path, centroids, cbs, half) = ivfPqGrownIndex(rs, dir)
        AnnIndexRegistry.registerIvfPq(emb, "vec_id", "embedding",
          AnnIndexRegistry.IvfPqEntry(path, emb, "vec_id", "embedding",
            centroids, cbs, "cosine", nProbe = 12, nCand = 250),
          name = "ivfpq_grown")
        ivfPqGrownAppend(rs, dir, path, centroids, cbs, half)
        emb
      case "ivfpq_grace" =>
        // serve-through-compaction on the compressed tier, reader
        // side: the superseded pre-flip generation dir (tombstones
        // still masking the takedown tranche)
        val (pre, _, centroids, cbs) = ivfPqVersionedHandles(rs, dir)
        AnnIndexRegistry.registerIvfPq(emb, "vec_id", "embedding",
          AnnIndexRegistry.IvfPqEntry(pre, emb, "vec_id", "embedding",
            centroids, cbs, "cosine", nProbe = 12, nCand = 250),
          name = "ivfpq_grace")
        emb
      case "ivfpq_versioned" =>
        // ... and post-flip side: the published successor (dead rows
        // physically erased, no tombstones)
        val (_, live, centroids, cbs) = ivfPqVersionedHandles(rs, dir)
        AnnIndexRegistry.registerIvfPq(emb, "vec_id", "embedding",
          AnnIndexRegistry.IvfPqEntry(live, emb, "vec_id", "embedding",
            centroids, cbs, "cosine", nProbe = 12, nCand = 250),
          name = "ivfpq_versioned")
        emb
      case other => sys.error(s"no certificate setup for tier '$other'")
    }
    corpusDf.createOrReplaceTempView("graft_emb")
    Tables.embeddings(rs, dir).filter(col("vec_id") < NQ * C)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .createOrReplaceTempView("graft_emb_queries")
    rs
  }

  /** The filtered-ANN SQL spelling both knn_sql_filtered variants run:
    * metadata predicate + similarity order + limit, score rounded at the
    * query boundary (the wrapper projection the rule matches through). */
  private def filteredKnnSql(qlit: String, k: Int): String =
    s"""SELECT vec_id, round(score, 6) AS score FROM (
       |  SELECT vec_id, graft_vec_cosine(embedding, $qlit) AS score
       |  FROM graft_emb WHERE label IN (2, 5)
       |  ORDER BY score DESC LIMIT $k) t""".stripMargin

  /** Query literal for the single-vector routed statements: the corpus
    * vector at vec_id=5, inlined as exact float literals
    * (`Float.toString` round-trips, so the literal equals the stored
    * vector bit-for-bit — the oracle references the same row). */
  private def svQueryLit(s: SparkSession, dir: String): String =
    Tables.embeddings(s, dir).filter(col("vec_id") === 5)
      .select("embedding").first().getSeq[Float](0)
      .map(x => s"${x}F").mkString("array(", ", ", ")")

  /** Single-vector SQL-route setup: install the rule on the routed (or
    * exact-mode) child session, register the FIXTURE RoarGraph (shared
    * with IndexQueries — one build per JVM per dir) over the embeddings
    * relation with raw vectors for exact rescoring, and (re)point the
    * `graft_emb` view. Idempotent per (session, dir). */
  private def svSqlSetup(s: SparkSession, dir: String,
                         exact: Boolean): SparkSession = {
    import graft.plans.AnnIndexRegistry
    val rs = if (exact) exactFilteredSession(s) else routedSession(s)
    val (graphB, vecsB) = IndexQueries.fixtureHandles(rs, dir)
    val rawB = Fixtures.memo("sv_raw", dir)(
      rs.sparkContext.broadcast(graft.index.VectorStore.fromDf(
        Tables.embeddings(rs, dir), "vec_id", "embedding",
        graft.index.Metrics.InnerProduct)))
    val emb = Tables.embeddings(rs, dir)
    AnnIndexRegistry.register(emb, "vec_id", "embedding",
      AnnIndexRegistry.Entry(graphB, vecsB, rawB,
        IndexQueries.FixtureParams.metric, searchL = 80))
    emb.createOrReplaceTempView("graft_emb")
    // the query relation for the single-vector RELATION spelling: the
    // fixture's NQ·C query vectors (any subplan works — no registration)
    Tables.embeddings(rs, dir).filter(col("vec_id") < NQ * C)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .createOrReplaceTempView("graft_emb_queries")
    rs
  }

  /** The rank-window SQL spelling of per-query single-vector top-k over
    * a query RELATION — the exact shape `AnnTopKRule` routes to
    * `SvJoinTopKNode`: one statement for every query vector (the G8
    * harness runs 10k, tests/test_search_roargraph.cpp). */
  private def svRelationSql(k: Int): String =
    s"""SELECT q_id, vec_id AS d_id, round(score, 6) AS score FROM (
       |  SELECT q.q_id, d.vec_id,
       |         graft_vec_cosine(q.q_vec, d.embedding) AS score,
       |         row_number() OVER (PARTITION BY q.q_id
       |           ORDER BY graft_vec_cosine(q.q_vec, d.embedding) DESC,
       |                    d.vec_id ASC) AS rnk
       |  FROM graft_emb_queries q CROSS JOIN graft_emb d) t
       |WHERE rnk <= $k""".stripMargin

  /** Offline half of the SQL multivector surface, once per fixture dir:
    * the SET-LEVEL parquet relation (one row per corpus set, members in
    * sub order — the bare-scan corpus the rewrite fingerprints) written
    * TWICE (standard + `_sat` saturating-budget twin: the registry keys
    * mv entries by relation fingerprint, so each copy carries its own
    * budget), plus the G9 sub-vector RoarGraph broadcasts shared by
    * both. Every call (re)points the views — `graft_mv_sets`,
    * `graft_mv_sets_sat`, and the `graft_mv_queries` query-set relation
    * — and the registry at THIS dir's relations, on the ROUTED child
    * session; cheap and idempotent, so dir switches stay consistent.
    * Returns the routed session statements should run in. */
  private def mvSqlSetup(s: SparkSession, dir: String): SparkSession = {
    import graft.plans.AnnIndexRegistry
    val rs = routedSession(s)
    val (path, satPath, satShPath, satVgPath, graphB, vecsB, metric, dim) =
      Fixtures.memo("mv_sql", dir) {
        val e = Tables.embeddings(rs, dir)
        val sets = e.select((col("vec_id") / C).cast("long").as("dset_id"),
            (col("vec_id") % C).cast("int").as("d_sub"), col("embedding"))
          .groupBy("dset_id")
          .agg(transform(
            array_sort(collect_list(struct(col("d_sub"), col("embedding")))),
            x => x.getField("embedding")).as("vec_set"))
        val Seq(tmp, sat, satSh, satVg) =
          Seq("graft_mv_sets_", "graft_mv_sat_", "graft_mv_satsh_",
            "graft_mv_satvg_").map(Fixtures.tempDir)
        Seq(tmp, sat, satSh, satVg)
          .foreach(sets.write.mode("overwrite").parquet(_))
        val idx = graft.index.GraphBuild.build(rs, e, e,
          IndexQueries.FixtureParams)
        (tmp, sat, satSh, satVg,
          rs.sparkContext.broadcast(idx.graph),
          rs.sparkContext.broadcast(idx.vecs), idx.params.metric,
          idx.vecs.dim)
      }
    val sets = rs.read.parquet(path)
    sets.createOrReplaceTempView("graft_mv_sets")
    AnnIndexRegistry.registerMvRoar(sets, "dset_id", "vec_set",
      graphB, vecsB, metric, C, dim)
    // saturating twin: budget ≥ 2× the sub-vector corpus — the beam
    // explores every reachable node, the candidate set saturates, and
    // the routed answer must equal the fullscan chamfer ranking
    val satSets = rs.read.parquet(satPath)
    satSets.createOrReplaceTempView("graft_mv_sets_sat")
    AnnIndexRegistry.registerMvRoar(satSets, "dset_id", "vec_set",
      graphB, vecsB, metric, C, dim,
      budget = 2 * vecsB.value.n, name = "mv_roar_sat")
    // saturating SHARDED twin — the mv × sharded cell of the
    // certificate grid: the same budget ≥ 2× the sub-vector corpus is
    // handed to EVERY shard's beam (searchMultiDf passes the budget
    // per shard, and per-shard rows ≤ total), so each shard's
    // sub-corpus saturates, the candidate union covers every set, and
    // the routed answer must equal the fullscan chamfer ranking — the
    // flagship's past-the-broadcast-ceiling path hash-certified, not
    // just recall-gated
    val satShSets = rs.read.parquet(satShPath)
    satShSets.createOrReplaceTempView("graft_mv_sets_satsh")
    AnnIndexRegistry.registerMvSharded(satShSets, "dset_id", "vec_set",
      IndexQueries.shardedHandles(rs, dir, 2), C, dim,
      budget = 2 * vecsB.value.n, name = "mv_sharded_sat")
    // serve-through-compaction GRACE twin on the flagship: the
    // registered ref is the SUPERSEDED pre-compact generation (gen0 +
    // its delta) of a versioned index whose compactVersioned already
    // published gen1 — a reader that resolved the pre-flip manifest.
    // The grace generation covers the full corpus, so the same
    // per-shard saturating budget must reproduce the same fullscan
    // chamfer ranking.
    val satVgSets = rs.read.parquet(satVgPath)
    satVgSets.createOrReplaceTempView("graft_mv_sets_satvg")
    AnnIndexRegistry.registerMvSharded(satVgSets, "dset_id", "vec_set",
      IndexQueries.shardedVersionedGrownHandles(rs, dir), C, dim,
      budget = 2 * vecsB.value.n, name = "mv_versioned_grace")
    // the query-set relation: the fixture's NQ query sets, grouped in
    // sub order — any subplan works on the query side (no fingerprint)
    Tables.embeddings(rs, dir).filter(col("vec_id") < NQ * C)
      .select((col("vec_id") / C).cast("long").as("qset_id"),
        (col("vec_id") % C).cast("int").as("q_sub"), col("embedding"))
      .groupBy("qset_id")
      .agg(transform(
        array_sort(collect_list(struct(col("q_sub"), col("embedding")))),
        x => x.getField("embedding")).as("vec_set"))
      .createOrReplaceTempView("graft_mv_queries")
    rs
  }

  /** One IVF-PQ index build per fixture dir (the offline half); every
    * query call after the first only probes it. Same lifecycle pattern
    * as IndexQueries' sharded handles. */
  private def ivfPqIndex(s: SparkSession, dir: String)
      : (String, Array[Array[Float]], graft.operators.PqAnn.Codebooks) =
    Fixtures.memo("ivfpq", dir) {
      import graft.operators.{IvfAnn, IvfPq, PqAnn}
      val d = Tables.embeddings(s, dir)
        .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val sample = IvfAnn.collectSample(d, 2000, 42L)
      val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
      val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)
      val path = Fixtures.tempDir("graft_ivfpq_")
      IvfPq.writeIndex(s, d, path, centroids, cbs)
      (path, centroids, cbs)
    }

  /** The GROWN IVF-PQ index per fixture dir: built single-shot on the
    * FIRST HALF of the corpus only (same quantizer training as
    * [[ivfPqIndex]] — quantizers are frozen at build, growth is in the
    * index CONTENTS). [[ivfPqGrownAppend]] appends the second half
    * AFTER the tier registration, so the certificate query's serving
    * path reads an index produced by build+append — incremental index
    * maintenance proven through the routed SQL machinery. */
  private def ivfPqGrownIndex(s: SparkSession, dir: String)
      : (String, Array[Array[Float]], graft.operators.PqAnn.Codebooks, Long) =
    Fixtures.memo("ivfpq_grown", dir) {
      import graft.operators.{IvfAnn, IvfPq, PqAnn}
      val d = Tables.embeddings(s, dir)
        .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val half = d.count() / 2
      // quantizers trained on the FIRST HALF only — a real delta-ingest
      // deployment cannot train on future data, and the certificate's
      // "registration predates the growth" story must hold for the
      // quantizers too (exact mode saturates regardless, so the hash
      // stays green under half-trained codebooks)
      val sample = IvfAnn.collectSample(d.filter(col("d_id") < half), 2000, 42L)
      val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
      val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)
      val path = Fixtures.tempDir("graft_ivfpq_grown_")
      IvfPq.writeIndex(s, d.filter(col("d_id") < half), path, centroids, cbs)
      (path, centroids, cbs, half)
    }

  private def ivfPqGrownAppend(s: SparkSession, dir: String, path: String,
      centroids: Array[Array[Float]], cbs: graft.operators.PqAnn.Codebooks,
      half: Long): Unit =
    Fixtures.memo("ivfpq_grown_append", dir, path) {
      val d = Tables.embeddings(s, dir)
        .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      graft.operators.IvfPq.appendIndex(s, d.filter(col("d_id") >= half),
        path, centroids, cbs)
    }

  /** One VERSIONED IVF-PQ index per fixture dir — serve-through-
    * compaction on the compressed tier: gen0 built over the full
    * corpus (the [[ivfPqIndex]] quantizers), the takedown tranche
    * (vec_id % 13 = 0) tombstoned via the versioned writer face, then
    * [[graft.operators.IvfPq.compactVersioned]] published gen1 with
    * the dead rows physically erased. Returns (pre-flip grace dir,
    * post-flip live dir, centroids, codebooks); the grace dir is
    * asserted intact — a reader that resolved the pre-flip manifest
    * still holds it. */
  private def ivfPqVersionedHandles(s: SparkSession, dir: String)
      : (String, String, Array[Array[Float]], graft.operators.PqAnn.Codebooks) =
    Fixtures.memo("ivfpq_versioned", dir) {
      import graft.operators.{IvfAnn, IvfPq, PqAnn}
      val d = Tables.embeddings(s, dir)
        .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val sample = IvfAnn.collectSample(d, 2000, 42L)
      val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
      val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)
      val root = Fixtures.tempDir("graft_ivfpq_ver_")
      IvfPq.buildVersioned(s, d, root, centroids, cbs)
      val tranche = Tables.embeddings(s, dir)
        .filter(col("vec_id") % 13 === 0).select(col("vec_id").as("d_id"))
      require(IvfPq.deleteVersioned(s, root, tranche) > 0,
        "versioned IVF-PQ fixture produced an empty tranche")
      val pre = IvfPq.resolveVersioned(s, root)
      val live = IvfPq.compactVersioned(s, root)
      require(pre == s"$root/gen0" && live == s"$root/gen1",
        "versioned IVF-PQ fixture did not flip generations")
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(pre)),
        "IVF-PQ grace generation was retired at the first flip")
      (pre, live, centroids, cbs)
    }

  /** One SEEDED IVF-PQ index per fixture dir — the [[ivfPqIndex]]
    * lifecycle with both quantizers training-free (md5-ranked seeds):
    * nlist=16 cells, nSub=8 × ncode=16 codebooks, all reproducible in
    * the oracle's `row_number` CTE. */
  /** COMMITTED trained-codes fixture for the g9_ivfpq certificate arm
    * (r19 verdict task 4): when `fixtures/ivfpq_<sfname>_{codebooks,
    * codes}.parquet` exist for this dir (generated once by
    * [[graft.tools.QuantizerFixture]] from the PRODUCTION Lloyd
    * trainers and regenerated only on deliberate change), returns the
    * encoded corpus `(d_id, codes)` and the codebooks reconstructed
    * from the committed doubles (exact float↔double round-trip). The
    * serving arithmetic downstream (ADC scan, exact rerank, chamfer)
    * is the production code verbatim — only the quantizer SOURCE is
    * pinned, which is precisely the stage DuckDB cannot retrain. */
  private def ivfPqCommittedFixture(s: SparkSession, dir: String)
      : Option[(DataFrame, graft.operators.PqAnn.Codebooks)] =
    Fixtures.memo("ivfpq_committed", dir)(scala.util.Try {
      val base = new java.io.File(dir).getName
      val cbPath = s"$fixturesDir/ivfpq_${base}_codebooks.parquet"
      val codesPath = s"$fixturesDir/ivfpq_${base}_codes.parquet"
      import java.nio.file.{Files, Paths}
      if (!Files.exists(Paths.get(cbPath)) ||
          !Files.exists(Paths.get(codesPath))) None
      else {
        val rows = s.read.parquet(cbPath).select("sub", "code", "vec")
          .collect()
          .map(r => (r.getInt(0), r.getInt(1),
            r.getAs[Seq[Double]](2).map(_.toFloat).toArray))
        val nSub = rows.map(_._1).max + 1
        val cbs: graft.operators.PqAnn.Codebooks = Array.tabulate(nSub)(
          m => rows.filter(_._1 == m).sortBy(_._2).map(_._3))
        val codes = s.read.parquet(codesPath)
          .groupBy("d_id")
          .agg(transform(
            array_sort(collect_list(struct(col("sub"), col("code")))),
            x => x.getField("code")).as("codes"))
        Some((codes, cbs))
      }
    }.toOption.flatten)

  private def ivfPqSeededIndex(s: SparkSession, dir: String)
      : (String, Array[Array[Float]], graft.operators.PqAnn.Codebooks) =
    Fixtures.memo("ivfpq_seeded", dir) {
      import graft.operators.{IvfAnn, IvfPq, PqAnn}
      val d = Tables.embeddings(s, dir)
        .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val centroids = IvfAnn.seededCentroids(d, 16)
      val cbs = PqAnn.seededCodebooks(d, nSub = 8, ncode = 16)
      val path = Fixtures.tempDir("graft_ivfpq_seed_")
      IvfPq.writeIndexSeeded(s, d, path, centroids, cbs)
      (path, centroids, cbs)
    }

  private def dotSqlAB(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def normSqlOf(t: String) =
    s"sqrt(list_sum(list_transform($t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private def normSqlExpr(e: String) =
    s"sqrt(list_sum(list_transform($e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private def cosSql(a: String, b: String) =
    s"round(${dotSqlAB(a, b)} / (${normSqlExpr(a)} * ${normSqlExpr(b)}), 9)"

  /** knn_ivf_seeded oracle — the complete seeded-IVF pipeline in SQL:
    * md5-ranked seed pick, argmax-cosine cell assignment, nProbe probe,
    * exact rerank, all on the same 9-decimal double quantization as the
    * Spark kernel. */
  private val ivfSeededOracle: String = {
    import VectorQueries.{C, NQ, K}
    val nlist = 16
    val nProbe = 10
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < ${NQ * C}),
       |d AS (SELECT vec_id AS d_id, embedding AS d_vec FROM embeddings),
       |seeds AS (
       |  SELECT cell, s_vec FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(d_id AS VARCHAR)), d_id) - 1 AS cell,
       |           d_vec AS s_vec
       |    FROM d) t WHERE cell < $nlist),
       |assigned AS (
       |  SELECT d_id, d_vec, cell FROM (
       |    SELECT d.d_id, d.d_vec, s.cell,
       |           row_number() OVER (PARTITION BY d.d_id
       |             ORDER BY ${cosSql("d.d_vec", "s.s_vec")} DESC, s.cell ASC) AS rn
       |    FROM d CROSS JOIN seeds s) t WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, q_vec, cell FROM (
       |    SELECT q.q_id, q.q_vec, s.cell,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${cosSql("q.q_vec", "s.s_vec")} DESC, s.cell ASC) AS rn
       |    FROM q CROSS JOIN seeds s) t WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT p.q_id, a.d_id, ${cosSql("p.q_vec", "a.d_vec")} AS score
       |  FROM probes p JOIN assigned a USING (cell)
       |  WHERE p.q_id <> a.d_id),
       |ranked AS (
       |  SELECT q_id, d_id, score,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY score DESC, d_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, rank, d_id, round(score, 6) AS score
       |FROM ranked WHERE rank <= $K""".stripMargin
  }

  /** knn_pq_seeded oracle — the complete seeded-PQ pipeline in SQL:
    * md5-ranked seed rows → per-subspace codebooks, argmin-L2² encode,
    * ADC candidate scan over the reconstructed (quantized) vectors, and
    * exact cosine rerank — on the same 9-decimal double quantization and
    * subspace-partial accumulation order as the Spark kernel. The
    * reconstructed-vector form (`recon` = concat of each subspace's
    * chosen codeword) is arithmetic-identical to the kernel's LUT sum:
    * both add per-subspace L2² partials, each summed from 0 in index
    * order, in subspace order. */
  /** L2² of subspace m between full vectors a and b (diff list, then
    * squares, then an index-order list_sum — the PQ kernel's loop). */
  private def subL2Sql(a: String, b: String, m: String, sd: Int): String =
    s"""list_sum(list_transform(
       |      list_transform(range($sd),
       |        i -> CAST($a[$m*$sd+i+1] AS DOUBLE) - CAST($b[$m*$sd+i+1] AS DOUBLE)),
       |      x -> x*x))""".stripMargin

  private val pqSeededOracle: String = {
    import VectorQueries.{C, NQ, K}
    val nSub = 8
    val sd = 8 // dim 64 / nSub
    val ncode = 16
    val nCand = 80
    def subL2(a: String, b: String, m: String): String = subL2Sql(a, b, m, sd)
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < ${NQ * C}),
       |d AS (SELECT vec_id AS d_id, embedding AS d_vec FROM embeddings),
       |seeds AS (
       |  SELECT code, s_vec FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(d_id AS VARCHAR)), d_id) - 1 AS code,
       |           d_vec AS s_vec
       |    FROM d) t WHERE code < $ncode),
       |subs AS (SELECT unnest(range($nSub)) AS m),
       |codes AS (
       |  SELECT d_id, m, s_vec FROM (
       |    SELECT d.d_id, subs.m, s.s_vec,
       |           row_number() OVER (PARTITION BY d.d_id, subs.m
       |             ORDER BY round(${subL2("d.d_vec", "s.s_vec", "subs.m")}, 9) ASC,
       |                      s.code ASC) AS rn
       |    FROM d CROSS JOIN subs CROSS JOIN seeds s) t WHERE rn = 1),
       |recon AS (
       |  SELECT d_id,
       |         flatten(list(s_vec[m*$sd+1 : m*$sd+$sd] ORDER BY m)) AS rvec
       |  FROM codes GROUP BY d_id),
       |adc AS (
       |  SELECT q.q_id, r.d_id,
       |         round(list_sum(list_transform(range($nSub),
       |           m -> ${subL2("q.q_vec", "r.rvec", "m")})), 9) AS adist
       |  FROM q CROSS JOIN recon r WHERE q.q_id <> r.d_id),
       |cand AS (
       |  SELECT q_id, d_id FROM (
       |    SELECT q_id, d_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY adist ASC, d_id ASC) AS crn
       |    FROM adc) t WHERE crn <= $nCand),
       |scored AS (
       |  SELECT c.q_id, c.d_id, ${cosSql("q.q_vec", "d.d_vec")} AS score
       |  FROM cand c JOIN q USING (q_id) JOIN d USING (d_id)),
       |ranked AS (
       |  SELECT q_id, d_id, score,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY score DESC, d_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, rank, d_id, round(score, 6) AS score
       |FROM ranked WHERE rank <= $K""".stripMargin
  }

  /** knn_ivfpq_seeded oracle — the COMPOSED seeded index in SQL: ONE
    * md5-ranked seed CTE feeds both quantizers (coarse cells and every
    * subspace codebook — nlist == ncode == 16, so the seed sets
    * coincide); cell assignment + probes are the [[ivfSeededOracle]]
    * CTEs, encode + ADC + rerank the [[pqSeededOracle]] CTEs, and the
    * ADC scan is restricted to each query's probed cells — the SQL
    * statement of the partition pruning the index layout performs. */
  private val ivfPqSeededOracle: String = {
    import VectorQueries.{C, NQ, K}
    val nlist = 16
    val nProbe = 10
    val nSub = 8
    val sd = 8 // dim 64 / nSub
    val ncode = 16
    val nCand = 80
    def subL2(a: String, b: String, m: String): String = subL2Sql(a, b, m, sd)
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < ${NQ * C}),
       |d AS (SELECT vec_id AS d_id, embedding AS d_vec FROM embeddings),
       |seeds AS (
       |  SELECT rk, s_vec FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(d_id AS VARCHAR)), d_id) - 1 AS rk,
       |           d_vec AS s_vec
       |    FROM d) t WHERE rk < ${math.max(nlist, ncode)}),
       |assigned AS (
       |  SELECT d_id, cell FROM (
       |    SELECT d.d_id, s.rk AS cell,
       |           row_number() OVER (PARTITION BY d.d_id
       |             ORDER BY ${cosSql("d.d_vec", "s.s_vec")} DESC, s.rk ASC) AS rn
       |    FROM d CROSS JOIN (SELECT * FROM seeds WHERE rk < $nlist) s) t
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, q_vec, cell FROM (
       |    SELECT q.q_id, q.q_vec, s.rk AS cell,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${cosSql("q.q_vec", "s.s_vec")} DESC, s.rk ASC) AS rn
       |    FROM q CROSS JOIN (SELECT * FROM seeds WHERE rk < $nlist) s) t
       |  WHERE rn <= $nProbe),
       |subs AS (SELECT unnest(range($nSub)) AS m),
       |codes AS (
       |  SELECT d_id, m, s_vec FROM (
       |    SELECT d.d_id, subs.m, s.s_vec,
       |           row_number() OVER (PARTITION BY d.d_id, subs.m
       |             ORDER BY round(${subL2("d.d_vec", "s.s_vec", "subs.m")}, 9) ASC,
       |                      s.rk ASC) AS rn
       |    FROM d CROSS JOIN subs
       |         CROSS JOIN (SELECT * FROM seeds WHERE rk < $ncode) s) t
       |  WHERE rn = 1),
       |recon AS (
       |  SELECT d_id,
       |         flatten(list(s_vec[m*$sd+1 : m*$sd+$sd] ORDER BY m)) AS rvec
       |  FROM codes GROUP BY d_id),
       |adc AS (
       |  SELECT p.q_id, a.d_id,
       |         round(list_sum(list_transform(range($nSub),
       |           m -> ${subL2("p.q_vec", "r.rvec", "m")})), 9) AS adist
       |  FROM probes p JOIN assigned a USING (cell)
       |       JOIN recon r ON r.d_id = a.d_id
       |  WHERE p.q_id <> a.d_id),
       |cand AS (
       |  SELECT q_id, d_id FROM (
       |    SELECT q_id, d_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY adist ASC, d_id ASC) AS crn
       |    FROM adc) t WHERE crn <= $nCand),
       |scored AS (
       |  SELECT c.q_id, c.d_id, ${cosSql("q.q_vec", "d.d_vec")} AS score
       |  FROM cand c JOIN q USING (q_id) JOIN d USING (d_id)),
       |ranked AS (
       |  SELECT q_id, d_id, score,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY score DESC, d_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, rank, d_id, round(score, 6) AS score
       |FROM ranked WHERE rank <= $K""".stripMargin
  }

  /** ivfpq_cell_stats oracle — re-derives every seeded cell assignment
    * (the [[ivfPqSeededOracle]] `assigned` CTE) and aggregates. */
  private val cellStatsOracle: String = {
    val nlist = 16
    s"""WITH d AS (SELECT vec_id AS d_id, embedding AS d_vec FROM embeddings),
       |seeds AS (
       |  SELECT rk, s_vec FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(d_id AS VARCHAR)), d_id) - 1 AS rk,
       |           d_vec AS s_vec
       |    FROM d) t WHERE rk < $nlist),
       |assigned AS (
       |  SELECT d_id, cell FROM (
       |    SELECT d.d_id, s.rk AS cell,
       |           row_number() OVER (PARTITION BY d.d_id
       |             ORDER BY ${cosSql("d.d_vec", "s.s_vec")} DESC, s.rk ASC) AS rn
       |    FROM d CROSS JOIN seeds s) t WHERE rn = 1),
       |cells AS (SELECT cell, count(*) AS n FROM assigned GROUP BY cell)
       |SELECT cell, n,
       |       round(CAST(n AS DOUBLE) / (SELECT sum(n) FROM cells), 6) AS frac
       |FROM cells""".stripMargin
  }

  /** randproj_vectors oracle — projected component j of every corpus
    * vector: round9 double dot over the md5-ranked seed directions,
    * cast to FLOAT (the engine-neutral storage width). */
  private val randProjOracle: String = {
    val outDim = 16
    s"""WITH d AS (SELECT vec_id AS d_id, embedding AS d_vec FROM embeddings),
       |seeds AS (
       |  SELECT rk, s_vec FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(d_id AS VARCHAR)), d_id) - 1 AS rk,
       |           d_vec AS s_vec
       |    FROM d) t WHERE rk < $outDim)
       |SELECT d.d_id AS vec_id, s.rk AS j,
       |       CAST(round(${dotSqlAB("d.d_vec", "s.s_vec")} /
       |            ${normSqlExpr("s.s_vec")}, 9) AS FLOAT) AS val
       |FROM d CROSS JOIN seeds s""".stripMargin
  }

  /** knn_randproj oracle — the complete projection-accelerated pipeline
    * in SQL: seed pick, per-vector 16-dim projection (round9 → FLOAT),
    * reduced-space cosine top-nCand, exact full-dim rerank — the
    * [[ivfSeededOracle]] recipe applied to the JL tier. */
  private val knnRandProjOracle: String = {
    import VectorQueries.{C, NQ, K}
    val outDim = 16
    val nCand = 80
    def projList(src: String, vec: String) =
      s"""SELECT x.$src, list(
         |    CAST(round(${dotSqlAB(s"x.$vec", "s.s_vec")} /
         |         ${normSqlExpr("s.s_vec")}, 9) AS FLOAT) ORDER BY s.rk) AS pvec
         |  FROM ${if (src == "q_id") "q" else "d"} x CROSS JOIN seeds s
         |  GROUP BY x.$src""".stripMargin
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < ${NQ * C}),
       |d AS (SELECT vec_id AS d_id, embedding AS d_vec FROM embeddings),
       |seeds AS (
       |  SELECT rk, s_vec FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(d_id AS VARCHAR)), d_id) - 1 AS rk,
       |           d_vec AS s_vec
       |    FROM d) t WHERE rk < $outDim),
       |dp AS (
       |  ${projList("d_id", "d_vec")}),
       |qp AS (
       |  ${projList("q_id", "q_vec")}),
       |pcos AS (
       |  SELECT qp.q_id, dp.d_id, ${cosSql("qp.pvec", "dp.pvec")} AS ps
       |  FROM qp CROSS JOIN dp WHERE qp.q_id <> dp.d_id),
       |cand AS (
       |  SELECT q_id, d_id FROM (
       |    SELECT q_id, d_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ps DESC, d_id ASC) AS crn
       |    FROM pcos) t WHERE crn <= $nCand),
       |scored AS (
       |  SELECT c.q_id, c.d_id, ${cosSql("q.q_vec", "d.d_vec")} AS score
       |  FROM cand c JOIN q USING (q_id) JOIN d USING (d_id)),
       |ranked AS (
       |  SELECT q_id, d_id, score,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY score DESC, d_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, rank, d_id, round(score, 6) AS score
       |FROM ranked WHERE rank <= $K""".stripMargin
  }

  /** Sign-bit band keys in SQL for a (id-col, vec-col) relation against
    * the md5-ranked seeded planes `pl(r, p_vec)`: bit r of band r/B is
    * sign(dot) packed big-endian — exactly VecLshBandKeysExpr's
    * `key = (key << 1) | (s >= 0)` loop. */
  private def bandKeysSql(rel: String, idCol: String, vecCol: String,
                          rowsPerBand: Int): String =
    s"""SELECT $idCol, r // $rowsPerBand AS band,
       |       CAST(sum(CASE WHEN ${dotSqlAB("p_vec", vecCol)} >= 0
       |            THEN (CAST(1 AS BIGINT) << (${rowsPerBand - 1} - (r % $rowsPerBand)))
       |            ELSE 0 END) AS BIGINT) AS key
       |FROM $rel CROSS JOIN pl GROUP BY 1, 2""".stripMargin

  /** knn_lsh_seeded oracle — the complete seeded-LSH pipeline in SQL:
    * md5-ranked plane pick, sign-bit band keys, bucket equi-join, exact
    * cosine rerank, top-k, on the same 9-decimal double quantization as
    * the Spark kernel. */
  private val lshSeededOracle: String = {
    import VectorQueries.{C, NQ, K}
    val p = 64
    val b = 8
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < ${NQ * C}),
       |d AS (SELECT vec_id AS d_id, embedding AS d_vec FROM embeddings),
       |pl AS (
       |  SELECT rn - 1 AS r, p_vec FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(d_id AS VARCHAR)), d_id) AS rn,
       |           d_vec AS p_vec
       |    FROM d) t WHERE rn <= $p),
       |dk AS (
       |  ${bandKeysSql("d", "d_id", "d_vec", b)}),
       |qk AS (
       |  ${bandKeysSql("q", "q_id", "q_vec", b)}),
       |cand AS (
       |  SELECT DISTINCT q_id, d_id FROM qk JOIN dk USING (band, key)),
       |scored AS (
       |  SELECT c.q_id, c.d_id, ${cosSql("q.q_vec", "d.d_vec")} AS score
       |  FROM cand c JOIN q ON q.q_id = c.q_id JOIN d ON d.d_id = c.d_id
       |  WHERE c.q_id <> c.d_id),
       |ranked AS (
       |  SELECT q_id, d_id, score,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY score DESC, d_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, rank, d_id, round(score, 6) AS score
       |FROM ranked WHERE rank <= $K""".stripMargin
  }

  /** Shared CTE chain of the seeded-threshold pipeline (exact-mod
    * planted corpus, seeded planes, pinned 12×12 banding, cosine-scored
    * candidates) — consumed by both the pair oracle and the end-to-end
    * cluster oracle. */
  /** The planted-near-dup corpus (base ∪ id+10⁶ perturbed copies) as
    * reusable SQL CTEs — the [[plantNearDupsExact]] twin. */
  private val plantedCorpusCtes: String =
    s"""plantedlong AS (
       |  SELECT vec_id, j,
       |         CAST(CAST(x AS DOUBLE) * (1.0 + 0.05 *
       |           CAST((vec_id + 37 * (j - 1)) % 19 - 9 AS DOUBLE)) AS FLOAT) AS xf
       |  FROM (SELECT vec_id, unnest(embedding) AS x,
       |               unnest(range(1, len(embedding) + 1)) AS j
       |        FROM embeddings)),
       |corpus AS (
       |  SELECT vec_id AS id, embedding AS vec FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS id, list(xf ORDER BY j) AS vec
       |  FROM plantedlong GROUP BY vec_id)""".stripMargin

  private val thresholdSeededCtes: String = {
    val p = 144
    val b = 12
    s"""$plantedCorpusCtes,
       |pl AS (
       |  SELECT rn - 1 AS r, p_vec FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn,
       |           vec AS p_vec
       |    FROM corpus) t WHERE rn <= $p),
       |k AS (
       |  ${bandKeysSql("corpus", "id", "vec", b)}),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM k a JOIN k b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
       |scored AS (
       |  SELECT id_a, id_b, ${cosSql("ca.vec", "cb.vec")} AS cos
       |  FROM cand JOIN corpus ca ON ca.id = id_a JOIN corpus cb ON cb.id = id_b)""".stripMargin
  }

  /** dedup_embedding_threshold_seeded oracle. */
  private val thresholdSeededOracle: String =
    s"""WITH $thresholdSeededCtes
       |SELECT id_a, id_b, round(cos, 6) AS cos
       |FROM scored WHERE cos >= 0.85""".stripMargin

  /** dedup_embedding_clusters oracle: the full embedding-dedup pipeline —
    * seeded threshold pairs, transitive-closure components, min-id
    * survivors — in one recursive SQL statement. */
  private val embClustersOracle: String =
    s"""WITH RECURSIVE $thresholdSeededCtes,
       |pairs AS (SELECT id_a, id_b FROM scored WHERE cos >= 0.85),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
       |          UNION SELECT id_b AS u, id_a AS v FROM pairs),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |labels AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |  FROM reach GROUP BY u)
       |SELECT c.id AS doc_id,
       |       COALESCE(l.cluster_id, c.id) AS cluster_id,
       |       CAST(COALESCE(l.cluster_id, c.id) = c.id AS BIGINT) AS is_canonical
       |FROM corpus c LEFT JOIN labels l ON l.doc_id = c.id""".stripMargin

  /** Shared saturating-route oracle: exhaustive per-query cosine top-k
    * over the fixture query relation — every saturated route (graph,
    * sharded, ivfpq) must hash-match this exact ranking. */
  private lazy val g8SaturatedOracle: String = g8SaturatedOracleOver("")

  /** g8_sql_sharded_deleted's oracle: the SAME exhaustive ranking
    * restricted to the surviving documents — the query side is
    * untouched (deletion hides documents, never queriers). */
  private lazy val g8DeletedOracle: String =
    g8SaturatedOracleOver("WHERE vec_id % 13 <> 0")

  /** g8_sql_sharded_updated's oracle: the exhaustive ranking over the
    * REVISED corpus — survivors plus the revisions re-appended under
    * fresh monotone ids (old corpus size + dense rank over old-id
    * order, the exact id mapping the fixture's appendDelta used). */
  private lazy val g8UpdatedOracle: String = g8SaturatedOracleDocs(
    """SELECT vec_id, embedding FROM embeddings WHERE vec_id % 17 <> 0
      |  UNION ALL
      |  SELECT (SELECT count(*) FROM embeddings)
      |           + row_number() OVER (ORDER BY vec_id) - 1 AS vec_id,
      |         embedding
      |  FROM embeddings WHERE vec_id % 17 = 0""".stripMargin)

  private def g8SaturatedOracleOver(docWhere: String): String =
    g8SaturatedOracleDocs(s"SELECT * FROM embeddings $docWhere")

  private def g8SaturatedOracleDocs(docsSql: String): String = {
    import VectorQueries.{C, NQ, K}
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < ${NQ * C}),
       |docs AS ($docsSql),
       |scored AS (
       |  SELECT q.q_id, d.vec_id,
       |         ${dotSqlAB("q.q_vec", "d.embedding")} /
       |           (${normSqlExpr("q.q_vec")} * ${normSqlExpr("d.embedding")}) AS score
       |  FROM q CROSS JOIN docs d),
       |ranked AS (
       |  SELECT q_id, vec_id, score,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM scored)
       |SELECT q_id, vec_id AS d_id, round(score, 6) AS score FROM ranked
       |WHERE rnk <= $K""".stripMargin
  }

  /** semdedup oracle — the complete SemDeDup pipeline in SQL: planted
    * corpus, md5-ranked seeded centroids, argmax-cosine cell assignment
    * (the [[ivfSeededOracle]] CTE shape), cell-local pair scan, greedy
    * lower-id dup marking — all on the same 9-decimal double
    * quantization as the Spark kernel. */
  private val semDedupOracle: String = {
    // nlist = ceil(sqrt(N)) computed IN the statement from the same
    // corpus — the SemDedup.autoNlist twin (IEEE sqrt/ceil, exact)
    val nlist = "(SELECT GREATEST(1, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM corpus)"
    val tau = 0.9
    s"""WITH $plantedCorpusCtes,
       |seeds AS (
       |  SELECT rn - 1 AS cell, s_vec FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn,
       |           vec AS s_vec
       |    FROM corpus) t WHERE rn <= $nlist),
       |assigned AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT c.id, c.vec, s.cell,
       |           row_number() OVER (PARTITION BY c.id
       |             ORDER BY ${cosSql("c.vec", "s.s_vec")} DESC, s.cell ASC) AS rn
       |    FROM corpus c CROSS JOIN seeds s) t WHERE rn = 1),
       |dups AS (
       |  SELECT DISTINCT b.id
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
       |  WHERE ${cosSql("a.vec", "b.vec")} >= $tau)
       |SELECT c.id, CAST(c.cell AS BIGINT) AS cell,
       |       CAST(CASE WHEN d.id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
       |FROM assigned c LEFT JOIN dups d ON d.id = c.id""".stripMargin
  }

  /** semdedup_text oracle — the composed documents → hashing-trick
    * embeddings → SemDeDup pipeline in one SQL statement: the
    * doc_embed_hash CTEs densified to 32 buckets, zero-norm docs
    * dropped, then the [[semDedupOracle]] CTEs over the hashed
    * vectors. Bucket sums are ±1 integers in double, exact in any
    * accumulation order. */
  private val semDedupTextOracle: String = {
    // auto-nlist from the DENSE (zero-norm-dropped) corpus count — the
    // same count markSeededAuto takes its sqrt over
    val nlist = "(SELECT GREATEST(1, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM corpus)"
    val tau = 0.95
    s"""WITH t AS (SELECT doc_id, unnest(${TextQueries.tokensSql}) AS tok
       |           FROM documents),
       |hh AS (SELECT doc_id, md5(tok) AS h FROM t),
       |cc AS (SELECT doc_id,
       |        CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 2
       |          + ((strpos('0123456789abcdef', substr(h, 2, 1)) - 1) & 1)
       |          AS INTEGER) AS pos,
       |        CASE WHEN ((strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
       |               >> 1) & 1 = 1
       |             THEN 1.0 ELSE -1.0 END AS c
       |      FROM hh),
       |sums AS (SELECT doc_id, pos, sum(c) AS v FROM cc GROUP BY doc_id, pos),
       |dims AS (SELECT unnest(range(32)) AS j),
       |ids AS (SELECT DISTINCT doc_id FROM sums),
       |dense AS (
       |  SELECT i.doc_id,
       |         list(CAST(COALESCE(s.v, 0) AS FLOAT) ORDER BY dims.j) AS vec
       |  FROM ids i CROSS JOIN dims
       |       LEFT JOIN sums s ON s.doc_id = i.doc_id AND s.pos = dims.j
       |  GROUP BY i.doc_id),
       |corpus AS (
       |  SELECT doc_id AS id, vec FROM dense
       |  WHERE list_sum(list_transform(vec,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |seeds AS (
       |  SELECT rn - 1 AS cell, s_vec FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn,
       |           vec AS s_vec
       |    FROM corpus) t WHERE rn <= $nlist),
       |assigned AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT c.id, c.vec, s.cell,
       |           row_number() OVER (PARTITION BY c.id
       |             ORDER BY ${cosSql("c.vec", "s.s_vec")} DESC, s.cell ASC) AS rn
       |    FROM corpus c CROSS JOIN seeds s) t WHERE rn = 1),
       |dups AS (
       |  SELECT DISTINCT b.id
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
       |  WHERE ${cosSql("a.vec", "b.vec")} >= $tau)
       |SELECT c.id, CAST(c.cell AS BIGINT) AS cell,
       |       CAST(CASE WHEN d.id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
       |FROM assigned c LEFT JOIN dups d ON d.id = c.id""".stripMargin
  }

  /** DuckDB byte extraction for the media oracle: hex-encode the payload
    * and decode each byte as two nibble lookups (pure SQL, no blob
    * indexing needed). */
  private val mmOracle: String = {
    val histExprs = (0 until 16).map(k =>
      s"round(round(CAST(sum(CASE WHEN byte // 16 = $k THEN c ELSE 0 END) AS DOUBLE) / any_value(n_bytes), 9), 6) AS hist_$k")
      .mkString(",\n         ")
    val histSelect = (0 until 16)
      .map(k => s"COALESCE(hist.hist_$k, 0) AS hist_$k").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS n_bytes
       |  FROM documents WHERE doc_id < 50),
       |pos AS (
       |  SELECT media_id, n_bytes, hx,
       |         unnest(range(1, CAST(n_bytes AS INTEGER) + 1)) AS i
       |  FROM d),
       |b AS (
       |  SELECT media_id, n_bytes,
       |         (strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1)) - 1) * 16
       |       + (strpos('0123456789ABCDEF', substring(hx, 2*i,   1)) - 1) AS byte
       |  FROM pos),
       |cnt AS (SELECT media_id, n_bytes, byte, count(*) AS c
       |        FROM b GROUP BY 1, 2, 3),
       |ent AS (SELECT media_id,
       |               round(round(-sum((CAST(c AS DOUBLE) / n_bytes)
       |                     * ln(CAST(c AS DOUBLE) / n_bytes) / ln(2)), 9), 6) AS entropy
       |        FROM cnt GROUP BY 1),
       |hist AS (SELECT media_id,
       |         $histExprs
       |         FROM cnt GROUP BY 1)
       |SELECT d.media_id, 'text/plain' AS mime, d.n_bytes,
       |       COALESCE(ent.entropy, 0) AS entropy,
       |       $histSelect
       |FROM d
       |LEFT JOIN ent ON ent.media_id = d.media_id
       |LEFT JOIN hist ON hist.media_id = d.media_id""".stripMargin
  }

  /** knn_sq8 oracle — the COMPLETE scalar-quantization pipeline in SQL:
    * exact per-dim min/max bounds, HALF_UP byte quantization (non-
    * negative, so DuckDB's half-away `round` coincides), affine
    * dequantize, coarse dequantized-cosine top-nCand, exact rerank —
    * all on the same 9-decimal double quantization as the Spark kernel.
    * No seeding anywhere: SQ8's training is a selection (min/max), so
    * the production path itself is the hash-checked path. */
  private val knnSq8Oracle: String = {
    import VectorQueries.{C, NQ, K}
    val dim = 64
    val nCand = 60
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < ${NQ * C}),
       |d AS (SELECT vec_id AS d_id, embedding AS d_vec FROM embeddings),
       |dims AS (SELECT unnest(range($dim)) AS j),
       |bounds AS (
       |  SELECT j, min(CAST(d_vec[j+1] AS DOUBLE)) AS mn,
       |            max(CAST(d_vec[j+1] AS DOUBLE)) AS mx
       |  FROM d CROSS JOIN dims GROUP BY j),
       |recon AS (
       |  SELECT d_id,
       |         list(CASE WHEN mx = mn THEN mn
       |              ELSE mn + (CAST(round(
       |                     (CAST(d_vec[j+1] AS DOUBLE) - mn)
       |                       / (mx - mn) * 255, 0) AS BIGINT)
       |                   / 255.0) * (mx - mn) END
       |              ORDER BY j) AS rvec
       |  FROM d CROSS JOIN bounds GROUP BY d_id),
       |coarse AS (
       |  SELECT q.q_id, r.d_id, ${cosSql("q.q_vec", "r.rvec")} AS ascore
       |  FROM q CROSS JOIN recon r WHERE q.q_id <> r.d_id),
       |cand AS (
       |  SELECT q_id, d_id FROM (
       |    SELECT q_id, d_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ascore DESC, d_id ASC) AS crn
       |    FROM coarse) t WHERE crn <= $nCand),
       |scored AS (
       |  SELECT c.q_id, c.d_id, ${cosSql("q.q_vec", "d.d_vec")} AS score
       |  FROM cand c JOIN q USING (q_id) JOIN d USING (d_id)),
       |ranked AS (
       |  SELECT q_id, d_id, score,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY score DESC, d_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, rank, d_id, round(score, 6) AS score
       |FROM ranked WHERE rank <= $K""".stripMargin
  }

  /** g9_sq8 oracle — the COMPLETE compressed-tier flagship in SQL
    * (r19 verdict task 4): nothing in the g9_sq8 pipeline is
    * training-dependent (SQ8 bounds are exact per-dim min/max —
    * selection, not accumulation), so the whole chain is deterministic
    * double arithmetic DuckDB recomputes end-to-end: bounds → affine
    * encode/dequantize → coarse dequantized-cosine top-nCand per
    * subquery → exact-cosine rerank to the per-subquery top-40 → the
    * candidate DSET union → exhaustive smooth-Chamfer over candidate
    * sets (the a1 oracle's LSE shape, fixed c denominators) → per-set
    * top-K. The coarse/rerank CTEs are [[knnSq8Oracle]]'s at this
    * query's (nCand=80, k=40, excludeSelf=false) knobs; the chamfer
    * tail mirrors [[graft.operators.Rerank.chamferTopK]]. */
  private val g9Sq8Oracle: String = {
    import VectorQueries.{C, NQ, K}
    import graft.operators.SetSim
    val dim = 64
    val nCand = 80
    val kSub = 40
    val ts = SetSim.Temperature * SetSim.TxtScale
    val t = SetSim.Temperature
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < ${NQ * C}),
       |d AS (SELECT vec_id AS d_id, embedding AS d_vec FROM embeddings),
       |dims AS (SELECT unnest(range($dim)) AS j),
       |bounds AS (
       |  SELECT j, min(CAST(d_vec[j+1] AS DOUBLE)) AS mn,
       |            max(CAST(d_vec[j+1] AS DOUBLE)) AS mx
       |  FROM d CROSS JOIN dims GROUP BY j),
       |recon AS (
       |  SELECT d_id,
       |         list(CASE WHEN mx = mn THEN mn
       |              ELSE mn + (CAST(round(
       |                     (CAST(d_vec[j+1] AS DOUBLE) - mn)
       |                       / (mx - mn) * 255, 0) AS BIGINT)
       |                   / 255.0) * (mx - mn) END
       |              ORDER BY j) AS rvec
       |  FROM d CROSS JOIN bounds GROUP BY d_id),
       |coarse AS (
       |  SELECT q.q_id, r.d_id, ${cosSql("q.q_vec", "r.rvec")} AS ascore
       |  FROM q CROSS JOIN recon r),
       |cand AS (
       |  SELECT q_id, d_id FROM (
       |    SELECT q_id, d_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ascore DESC, d_id ASC) AS crn
       |    FROM coarse) t WHERE crn <= $nCand),
       |resc AS (
       |  SELECT c.q_id, c.d_id, ${cosSql("q.q_vec", "d.d_vec")} AS score
       |  FROM cand c JOIN q USING (q_id) JOIN d USING (d_id)),
       |sub40 AS (
       |  SELECT q_id, d_id FROM (
       |    SELECT q_id, d_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY score DESC, d_id ASC) AS rn
       |    FROM resc) t WHERE rn <= $kSub),
       |cset AS (
       |  SELECT DISTINCT CAST(q_id // $C AS BIGINT) AS qset_id,
       |                  CAST(d_id // $C AS BIGINT) AS dset_id
       |  FROM sub40)""".stripMargin + chamferOverCsetTail
  }

  /** Shared oracle TAIL for the compressed-tier g9 twins: given a
    * `cset(qset_id, dset_id)` candidate-set CTE, score every candidate
    * pair with the exhaustive smooth-Chamfer (the a1 oracle's LSE
    * shape, fixed-c denominators — the [[graft.operators.Rerank
    * .chamferTopK]] mirror) and emit the per-set top-K. */
  private lazy val chamferOverCsetTail: String = {
    import VectorQueries.{C, NQ, K}
    import graft.operators.SetSim
    val ts = SetSim.Temperature * SetSim.TxtScale
    val t = SetSim.Temperature
    s""",
       |qs AS (SELECT CAST(vec_id // $C AS BIGINT) AS qset_id,
       |              vec_id % $C AS q_sub, embedding
       |       FROM embeddings WHERE vec_id < ${NQ * C}),
       |ds AS (SELECT CAST(vec_id // $C AS BIGINT) AS dset_id,
       |              vec_id % $C AS d_sub, embedding FROM embeddings),
       |sims AS (
       |  SELECT cs.qset_id, cs.dset_id, qs.q_sub, ds.d_sub,
       |         ${dotSqlAB("qs.embedding", "ds.embedding")} /
       |           (${normSqlExpr("qs.embedding")} *
       |            ${normSqlExpr("ds.embedding")}) AS sim
       |  FROM cset cs JOIN qs ON qs.qset_id = cs.qset_id
       |       JOIN ds ON ds.dset_id = cs.dset_id),
       |rl AS (
       |  SELECT qset_id, dset_id, q_sub, m + ln(sum(exp(x - m))) AS lse FROM (
       |    SELECT qset_id, dset_id, q_sub, sim * $ts AS x,
       |           max(sim * $ts) OVER (PARTITION BY qset_id, dset_id, q_sub) AS m
       |    FROM sims) GROUP BY qset_id, dset_id, q_sub, m),
       |cl AS (
       |  SELECT qset_id, dset_id, d_sub, m + ln(sum(exp(x - m))) AS lse FROM (
       |    SELECT qset_id, dset_id, d_sub, sim * $t AS x,
       |           max(sim * $t) OVER (PARTITION BY qset_id, dset_id, d_sub) AS m
       |    FROM sims) GROUP BY qset_id, dset_id, d_sub, m),
       |t1 AS (SELECT qset_id, dset_id, sum(lse) AS s1 FROM rl GROUP BY qset_id, dset_id),
       |t2 AS (SELECT qset_id, dset_id, sum(lse) AS s2 FROM cl GROUP BY qset_id, dset_id),
       |cscored AS (
       |  SELECT t1.qset_id, t1.dset_id,
       |         round((t1.s1 / (${C.toDouble} * $ts) + t2.s2 / (${C.toDouble} * $t)) / ${SetSim.Denominator}, 9) AS score
       |  FROM t1 JOIN t2 ON t1.qset_id = t2.qset_id AND t1.dset_id = t2.dset_id),
       |cranked AS (
       |  SELECT qset_id, dset_id, score,
       |         row_number() OVER (PARTITION BY qset_id
       |           ORDER BY score DESC, dset_id ASC) AS rank
       |  FROM cscored)
       |SELECT qset_id, rank, dset_id, round(score, 6) AS score
       |FROM cranked WHERE rank <= $K""".stripMargin
  }

  /** g9_ivfpq oracle — the TRAINED compressed-tier flagship from the
    * COMMITTED codes fixture (r19 verdict task 4): Lloyd training is
    * the one non-SQL-reproducible stage, so the trained codebooks and
    * the encoded corpus (cells + codes) are committed parquet fixtures
    * (graft.tools.QuantizerFixture, the MmExpected pattern) and the
    * certificate arm of the query serves FROM them at FULL probe.
    * DuckDB then recomputes the rest bit-for-bit: codeword lookup →
    * reconstructed vectors → ADC (round-9 summed subspace L2²,
    * adist ASC / d_id ASC — [[graft.operators.PqAnn.adcCandidates]]'s
    * heap discipline) → exact-cosine rerank to the per-subquery
    * top-40 → candidate-dset chamfer top-K. The production kmeans +
    * partition-pruned-probe path keeps its recall gates
    * (LlmPipelineSpec) and remains what every non-fixture dir runs. */
  private lazy val g9IvfPqOracle: String = {
    import VectorQueries.{C, NQ, K}
    val nSub = 8
    val sd = 8 // dim 64 / nSub
    val nCand = 160
    val kSub = 40
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < ${NQ * C}),
       |d AS (SELECT vec_id AS d_id, embedding AS d_vec FROM embeddings),
       |cb AS (SELECT sub, code, vec FROM
       |       read_parquet('$fixturesDir/ivfpq_sf0.01_codebooks.parquet')),
       |codes AS (SELECT d_id, sub, code FROM
       |       read_parquet('$fixturesDir/ivfpq_sf0.01_codes.parquet')),
       |recon AS (
       |  SELECT c.d_id, flatten(list(cb.vec ORDER BY c.sub)) AS rvec
       |  FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code
       |  GROUP BY c.d_id),
       |adc AS (
       |  SELECT q.q_id, r.d_id,
       |         round(list_sum(list_transform(range($nSub),
       |           m -> ${subL2Sql("q.q_vec", "r.rvec", "m", sd)})), 9) AS adist
       |  FROM q CROSS JOIN recon r),
       |cand AS (
       |  SELECT q_id, d_id FROM (
       |    SELECT q_id, d_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY adist ASC, d_id ASC) AS crn
       |    FROM adc) t WHERE crn <= $nCand),
       |resc AS (
       |  SELECT c.q_id, c.d_id, ${cosSql("q.q_vec", "d.d_vec")} AS score
       |  FROM cand c JOIN q USING (q_id) JOIN d USING (d_id)),
       |sub40 AS (
       |  SELECT q_id, d_id FROM (
       |    SELECT q_id, d_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY score DESC, d_id ASC) AS rn
       |    FROM resc) t WHERE rn <= $kSub),
       |cset AS (
       |  SELECT DISTINCT CAST(q_id // $C AS BIGINT) AS qset_id,
       |                  CAST(d_id // $C AS BIGINT) AS dset_id
       |  FROM sub40)""".stripMargin + chamferOverCsetTail
  }

  // knn_sql_filtered (and its sharded-tier twin): exhaustive filtered
  // cosine top-k — the routed plan runs in exact mode (saturating fetch
  // / full filtered scan), so ids AND scores must hash-match. Ranking
  // mirrors the route exactly: raw double cosine DESC, vec_id ASC
  // tiebreak, round-6 only at the output boundary.
  private lazy val filteredExactOracle =
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 5),
       |scored AS (
       |  SELECT d.vec_id,
       |         ${dotSqlAB("d.embedding", "q.embedding")} /
       |           (${normSqlExpr("d.embedding")} * ${normSqlExpr("q.embedding")}) AS score
       |  FROM embeddings d CROSS JOIN q
       |  WHERE d.label IN (2, 5)),
       |ranked AS (
       |  SELECT vec_id, score,
       |         row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM scored)
       |SELECT vec_id, round(score, 6) AS score FROM ranked
       |WHERE rnk <= ${2 * K}""".stripMargin

  /** s14_random_vectors_seeded oracle — the identical integer-hash
    * Irwin–Hall generator in SQL: same multiplicative hash, same
    * twelve-term left-to-right uniform sum, same ascending-pos ordered
    * cumulative sum-of-squares, same round9→round6 boundary. */
  private val s14SeededOracle: String = {
    val terms = (1 to 12).map(t =>
      s"(CAST(((i*1000003 + j*7919 + $t*104729) * 2654435761) % 2147483647" +
        " AS DOUBLE) / 2147483647.0)").mkString(" + ")
    s"""WITH raw AS (
       |  SELECT i AS vec_id, j AS pos, ($terms) - 6.0 AS v
       |  FROM range(0,200) t1(i), range(0,16) t2(j)),
       |css AS (
       |  SELECT vec_id, pos, v,
       |         SUM(v*v) OVER (PARTITION BY vec_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
       |  FROM raw),
       |n AS (SELECT vec_id, MAX(cs) AS ss FROM css GROUP BY vec_id)
       |SELECT r.vec_id, r.pos,
       |       round(round(r.v / sqrt(n.ss), 9), 6) AS val
       |FROM raw r JOIN n USING (vec_id)""".stripMargin
  }

  /** The committed expected-parquet fixtures live beside the code, not
    * at a fixed absolute path: resolve `fixtures/` against (in order)
    * the `graft.fixtures.dir` system property, then the working
    * directory, then the working directory's parents — so the oracle
    * SQL interpolates the checkout's own copy wherever Verify runs
    * (a hardcoded /root/repo would silently read a STALE fixture on
    * any other checkout). Fails loudly when no fixtures dir exists. */
  private[graft] lazy val fixturesDir: String = {
    val cands = sys.props.get("graft.fixtures.dir").toSeq ++ {
      val cwd = java.nio.file.Paths.get(
        sys.props.getOrElse("user.dir", ".")).toAbsolutePath
      Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null).take(4)
        .map(_.resolve("fixtures").toString).toSeq
    }
    cands.find(p => java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(p)))
      .getOrElse(sys.error(
        "fixtures/ directory not found from " + cands.mkString(", ") +
          " — run from the repo root or set -Dgraft.fixtures.dir"))
  }

  def oracles: Map[String, String] = Map(
    "s14_random_vectors_seeded" -> s14SeededOracle,
    // mm decode FIXTURE-CHECKSUM oracles: the decode outputs are
    // deterministic pure-JVM functions of synthetic payloads derived
    // from doc_id alone (no sf dependence below the doc_id filter), so
    // the oracle reads back a committed expected-parquet generated by
    // graft.tools.MmExpected — a behavior-drift checksum gate. If the
    // decode semantics intentionally change, regenerate via that tool.
    "mm_image_decode" ->
      s"""SELECT doc_id, png_bytes, pos, val FROM
        |read_parquet('$fixturesDir/mm_image_decode_expected.parquet')"""
        .stripMargin,
    "mm_video_decode" ->
      s"""SELECT doc_id, frame_idx, pos, val FROM
        |read_parquet('$fixturesDir/mm_video_decode_expected.parquet')"""
        .stripMargin,
    // frame-sample -> stub-codec decode -> CLIP4Clip mean-pool: also
    // deterministic, but a function of the documents TEXT, so the
    // fixture is pinned to sf0.01 — the scale the driver's oracle
    // compare runs at (regenerate via graft.tools.MmExpected if the
    // corpus or the pipeline changes on purpose)
    "mm_frame_pipeline" ->
      s"""SELECT video_id, pos, val FROM
        |read_parquet('$fixturesDir/mm_frame_pipeline_expected.parquet')"""
        .stripMargin,
    "knn_sql_filtered" -> filteredExactOracle,
    "knn_sql_filtered_sharded_exact" -> filteredExactOracle,
    // g8_sql_saturated (+ the sharded / ivfpq tier certificates, same
    // statement, same oracle): exhaustive per-query cosine top-k over
    // the same query relation — raw-score ranking with id tiebreak,
    // the exact mirror of the routed window (round-6 at the boundary)
    "g8_sql_saturated" -> g8SaturatedOracle,
    "g8_sql_sharded_saturated" -> g8SaturatedOracle,
    "g8_sql_sharded_deleted" -> g8DeletedOracle,
    // the purged twin answers over the same survivors — erasure and
    // mask retirement must not change WHAT is answered, only how the
    // exclusion is enforced (dead sidecar filter instead of anti-join)
    "g8_sql_sharded_purged" -> g8DeletedOracle,
    "g8_sql_sharded_updated" -> g8UpdatedOracle,
    "g8_sql_sharded_grace" -> g8DeletedOracle,
    "g8_sql_versioned_live" -> g8DeletedOracle,
    // the seqlog-committed lifecycle answers the same survivor ranking
    // — the commit protocol must not change WHAT is served
    "g8_sql_versioned_seqlog" -> g8DeletedOracle,
    "g8_sql_ivfpq_saturated" -> g8SaturatedOracle,
    "g8_sql_ivfpq_grown_saturated" -> g8SaturatedOracle,
    // both sides of the compressed tier's generation flip answer the
    // exhaustive ranking over the SURVIVORS (the takedown tranche is
    // masked pre-flip, physically erased post-flip)
    "g8_sql_ivfpq_grace" -> g8DeletedOracle,
    "g8_sql_ivfpq_versioned" -> g8DeletedOracle,
    "mm_media_features" -> mmOracle,
    "knn_sq8" -> knnSq8Oracle,
    "semdedup" -> semDedupOracle,
    "semdedup_text" -> semDedupTextOracle,
    "mm_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, text FROM documents
        |           WHERE doc_id < 50),
        |f AS (SELECT media_id, text, unnest(range(4)) AS frame_idx FROM m),
        |s AS (SELECT media_id, frame_idx,
        |        substring(text,
        |          CAST((frame_idx * greatest(length(text) - 64, 0)) // 3
        |            AS BIGINT) + 1, 64) AS frame
        |      FROM f)
        |SELECT media_id, frame_idx, md5(frame) AS frame_hash,
        |       CAST(length(frame) AS BIGINT) AS frame_bytes
        |FROM s""".stripMargin,
    "knn_ivf_seeded" -> ivfSeededOracle,
    "knn_pq_seeded" -> pqSeededOracle,
    "knn_ivfpq_seeded" -> ivfPqSeededOracle,
    "g9_sq8" -> g9Sq8Oracle,
    "g9_ivfpq" -> g9IvfPqOracle,
    "ivfpq_cell_stats" -> cellStatsOracle,
    "randproj_vectors" -> randProjOracle,
    "knn_randproj" -> knnRandProjOracle,
    "knn_lsh_seeded" -> lshSeededOracle,
    "dedup_embedding_threshold_seeded" -> thresholdSeededOracle,
    "dedup_embedding_clusters" -> embClustersOracle,
    "s15_meanpool" ->
      """WITH f AS (
        |  SELECT vec_id // 5 AS video_id,
        |         unnest(embedding) AS x,
        |         unnest(range(1, len(embedding) + 1)) AS pos,
        |         sqrt(list_sum(list_transform(embedding,
        |           v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS fn0
        |  FROM embeddings),
        |e AS (SELECT video_id, pos,
        |             CAST(x AS DOUBLE) /
        |               (CASE WHEN fn0 = 0 THEN 1 ELSE fn0 END) AS xn
        |      FROM f),
        |m AS (SELECT video_id, pos, avg(xn) AS mean_val FROM e GROUP BY 1, 2),
        |n AS (SELECT video_id, sqrt(sum(mean_val * mean_val)) AS vnorm
        |      FROM m GROUP BY 1)
        |SELECT m.video_id, m.pos,
        |       round(round(m.mean_val / n.vnorm, 9), 6) AS val
        |FROM m JOIN n ON m.video_id = n.video_id""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         round(${dotSqlAB("a.embedding", "b.embedding")} /
         |               (${normSqlOf("a")} * ${normSqlOf("b")}), 9) AS cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(cos, 6) AS cos FROM pairs
         |ORDER BY cos DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin
  )
}
