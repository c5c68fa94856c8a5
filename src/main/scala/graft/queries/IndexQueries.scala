package graft.queries

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.functions.VectorFunctions._
import graft.index._
import graft.operators.{KnnJoin, Rerank, SetSim, TopK}

/** Graph-index operator surface: J5 edge construction, A5 degree stats,
  * A6/A7 medoid (all DuckDB-checkable, relational), plus the kernel-side
  * G2 build, G8 single-vector and G9 multivector adaptive beam search
  * (approximate by design → rows-only correctness + the recall harness in
  * `IndexSpec`).
  */
object IndexQueries extends QueryPack {
  /** Training-query subset for the relational J5/A5 rows: vec_id < TrainN. */
  val TrainN = 100
  /** NN-list length per training query for J5/A5. */
  val MTrain = 8

  import VectorQueries.{C, NQ, K}

  /** Fixture-scale build params (reference scale uses 100/35/100,
    * `build_roargraph_index.sh:27-29`). */
  val FixtureParams: BuildParams =
    BuildParams(mSq = 20, mPjbp = 8, lPjpq = 40, metric = "cosine")

  /** One built index (+ its broadcasts) per fixture dir per JVM — Verify
    * and Bench run many queries over the same session. Every fixture of
    * this pack lives in [[Fixtures.memo]] (and under its invariant). */
  private case class Handles(idx: RoarIndex, graphB: Broadcast[CsrGraph],
                             vecsB: Broadcast[VectorStore])

  private def handles(s: SparkSession, dir: String): Handles =
    Fixtures.memo("roar", dir) {
      val emb = Tables.embeddings(s, dir)
      val idx = GraphBuild.build(s, emb, emb, FixtureParams)
      Handles(idx,
        s.sparkContext.broadcast(idx.graph),
        s.sparkContext.broadcast(idx.vecs))
    }

  /** The fixture index's (graph, search-vector) broadcasts, shared with
    * the other query packs (AnnQueries' single-vector SQL route) so each
    * JVM builds the fixture graph once. */
  private[queries] def fixtureHandles(s: SparkSession, dir: String)
      : (Broadcast[CsrGraph], Broadcast[VectorStore]) = {
    val h = handles(s, dir)
    (h.graphB, h.vecsB)
  }

  /** One persisted sharded index per (dir, nShards) — the scale-tier twin
    * of [[handles]]. The descriptor is data-free: the index lives on disk
    * and each search loads one shard at a time (ShardedIndex lifecycle). */
  private[queries] def shardedHandles(s: SparkSession, dir: String,
                                      nShards: Int): ShardedIndexRef =
    Fixtures.memo("sharded", dir, nShards) {
      val path = Fixtures.tempDir("graft_sharded_")
      ShardedIndex.buildPersisted(s, Tables.embeddings(s, dir),
        FixtureParams, nShards, path)
    }

  /** One takedown-TRANCHE-deleted sharded index per dir — the full
    * corpus built fresh (never the shared [[shardedHandles]] fixture:
    * its tombstones must not leak into the other certificates), then
    * `vec_id % 13 = 0` deleted via [[ShardedIndex.deleteFromIndex]]
    * with an idempotent replay. Serves g8_sql_sharded_deleted: at
    * saturating budget the routed answer must hash-equal the exact
    * ranking over the SURVIVORS. */
  private[queries] def shardedDeletedHandles(s: SparkSession,
                                             dir: String): ShardedIndexRef =
    Fixtures.memo("sharded_deleted", dir) {
      val path = Fixtures.tempDir("graft_sharded_deleted_")
      val emb = Tables.embeddings(s, dir)
      val ref = ShardedIndex.buildPersisted(s, emb, FixtureParams, 2, path)
      val tranche = emb.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("gid"))
      require(ShardedIndex.deleteFromIndex(s, path, tranche) > 0,
        "deleted-certificate fixture produced an empty tranche")
      require(ShardedIndex.deleteFromIndex(s, path, tranche) == 0,
        "replayed takedown was not idempotent")
      ref
    }

  /** One takedown-then-COMPACTED (purged) sharded index per dir — the
    * [[shardedDeletedHandles]] lifecycle taken one step further: after
    * the tranche delete, [[ShardedIndex.compact]] zeroes the payloads,
    * retires the erased ids from the `_tombstones` mask into the
    * per-shard `dead` sidecars, and rebuilds in place. Serves
    * g8_sql_sharded_purged: at saturating budget the routed answer
    * must hash-equal the exact survivor ranking with the per-query
    * mask GONE — certifying the dead-sidecar emission filter through
    * the full SQL machinery, not just the operator face. */
  private[queries] def shardedPurgedHandles(s: SparkSession,
                                            dir: String): ShardedIndexRef =
    Fixtures.memo("sharded_purged", dir) {
      val path = Fixtures.tempDir("graft_sharded_purged_")
      val emb = Tables.embeddings(s, dir)
      val ref = ShardedIndex.buildPersisted(s, emb, FixtureParams, 2, path)
      val tranche = emb.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("gid"))
      require(ShardedIndex.deleteFromIndex(s, path, tranche) > 0,
        "purged-certificate fixture produced an empty tranche")
      val purged = ShardedIndex.compact(s, ref, FixtureParams)
      require(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$path/_tombstones")),
        "purge did not retire the tombstone mask")
      purged
    }

  /** One UPDATED sharded index per dir — the vector-tier twin of the
    * text_bm25_updated recipe: revisions of `vec_id % 17 = 0` land by
    * DELETING the old id and RE-APPENDING the revision under a fresh
    * monotone id (old corpus size + dense rank over old-id order).
    * Content-identical revisions keep the oracle derivable in SQL and
    * make the certificate sharp: an unmasked old id would tie the
    * revision's score with a LOWER id and steal its rank — any update
    * leak hash-mismatches. Serves g8_sql_sharded_updated. */
  /** Returns (grown ref, updated-corpus parquet path): the corpus path
    * holds survivors ∪ revisions — the relation the certificate session
    * registers AND queries, so the rescore join sees the revision ids
    * the index serves. */
  private[queries] def shardedUpdatedHandles(s: SparkSession, dir: String)
      : (ShardedIndexRef, String) =
    Fixtures.memo("sharded_updated", dir) {
      val path = Fixtures.tempDir("graft_sharded_updated_")
      val emb = Tables.embeddings(s, dir)
      val n = emb.count()
      val ref = ShardedIndex.buildPersisted(s, emb, FixtureParams, 2, path)
      val old = emb.filter(col("vec_id") % 17 === 0)
      require(ShardedIndex.deleteFromIndex(s, path,
        old.select(col("vec_id").as("gid"))) > 0,
        "updated-certificate fixture revised nothing")
      import org.apache.spark.sql.expressions.Window
      val revisions = old.select(
        (lit(n) + row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .cast("long").as("vec_id"),
        col("embedding"))
      val grown = ShardedIndex.appendDelta(s, revisions, ref, FixtureParams)
      val corpusPath = s"$path/updated_corpus"
      emb.filter(col("vec_id") % 17 =!= 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(revisions)
        .write.mode("overwrite").parquet(corpusPath)
      (grown, corpusPath)
    }

  /** One generation-VERSIONED sharded index per dir, exercising the
    * serve-through-compaction contract end to end: build gen0, delete
    * the takedown tranche, resolve the PRE-compact manifest, then run
    * [[ShardedIndex.compactVersioned]] to completion (gen1 published,
    * gen0 retained as the grace generation). Returns BOTH refs:
    * `_1` = the superseded pre-compact snapshot a still-running reader
    * holds (mask semantics, serves g8_sql_sharded_grace), `_2` = the
    * live post-flip generation (dead-sidecar semantics, serves
    * g8_sql_versioned_live). Both must hash-match the same survivor
    * oracle. */
  private[queries] def shardedVersionedHandles(s: SparkSession, dir: String)
      : (ShardedIndexRef, ShardedIndexRef) =
    Fixtures.memo("sharded_versioned", dir) {
      val root = Fixtures.tempDir("graft_sharded_versioned_")
      val emb = Tables.embeddings(s, dir)
      ShardedIndex.buildVersioned(s, emb, FixtureParams, 2, root)
      val tranche = emb.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("gid"))
      require(ShardedIndex.deleteVersioned(s, root, tranche) > 0,
        "versioned-certificate fixture produced an empty tranche")
      val pre = ShardedIndex.resolveVersioned(s, root, FixtureParams.metric)
      val live = ShardedIndex.compactVersioned(s, root, FixtureParams)
      require(pre.path == s"$root/gen0" && live.path == s"$root/gen1",
        "versioned fixture did not flip generations")
      require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(pre.path)),
        "grace generation was retired at the first flip")
      (pre, live)
    }

  /** The versioned lifecycle once more, committed through the SEQLOG
    * (conditional-put) protocol instead of the rename pointer — the
    * object-store commit path ([[Generations]] `committer=seqlog`):
    * build gen0, tombstone the takedown tranche, compactVersioned
    * publishes gen1, and every flip lands as an immutable
    * `MANIFEST.<seq>` exclusive-create append, never a rename. The
    * served answer must be byte-identical to the rename-mode run —
    * the commit protocol is invisible to query semantics. Serves
    * g8_sql_versioned_seqlog. */
  private[queries] def shardedSeqlogHandles(s: SparkSession,
                                            dir: String): ShardedIndexRef =
    Fixtures.memo("sharded_seqlog", dir) {
      val root = Fixtures.tempDir("graft_sharded_seqlog_")
      val emb = Tables.embeddings(s, dir)
      // the commit protocol is passed PER CALL (never via the
      // session-global spark.graft.gen.committer conf): the faces
      // thread it down to Generations.publish, so another publish on
      // this session during the fixture build can never be silently
      // migrated to the seqlog protocol by a fixture-scoped toggle
      ShardedIndex.buildVersioned(s, emb, FixtureParams, 2, root,
        committer = "seqlog")
      val tranche = emb.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("gid"))
      require(ShardedIndex.deleteVersioned(s, root, tranche) > 0,
        "seqlog-certificate fixture produced an empty tranche")
      val live = ShardedIndex.compactVersioned(s, root, FixtureParams,
        committer = "seqlog")
      require(live.path == s"$root/gen1",
        "seqlog fixture did not flip generations")
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(
          s"$root/MANIFEST.000000000002")) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(
          s"$root/MANIFEST")),
        "seqlog fixture did not commit through the CAS log")
      live
    }

  /** One GROWTH-ONLY versioned sharded index per dir — gen0 built on
    * the first 80%, the rest appended as gen0's delta, then
    * [[ShardedIndex.compactVersioned]] published gen1. Returns the
    * SUPERSEDED pre-compact ref (gen0 + its delta — the grace
    * generation a reader that resolved the pre-flip manifest still
    * holds): it covers the FULL corpus, so at saturating budget it
    * must reproduce the standard exhaustive oracles. Serves the mv
    * flagship's serve-through-compaction certificate
    * (g9_sql_versioned_grace). */
  private[queries] def shardedVersionedGrownHandles(s: SparkSession,
                                                    dir: String)
      : ShardedIndexRef =
    Fixtures.memo("sharded_vgrown", dir) {
      val root = Fixtures.tempDir("graft_sharded_vgrown_")
      val e = Tables.embeddings(s, dir)
      val cut = e.count() * 4 / 5
      ShardedIndex.buildVersioned(s, e.filter(col("vec_id") < cut),
        FixtureParams, nShards = 2, root)
      ShardedIndex.appendVersioned(s, e.filter(col("vec_id") >= cut),
        root, FixtureParams)
      val pre = ShardedIndex.resolveVersioned(s, root, FixtureParams.metric)
      val live = ShardedIndex.compactVersioned(s, root, FixtureParams)
      require(pre.path == s"$root/gen0" && pre.nDeltas == 1 &&
        live.path == s"$root/gen1",
        "versioned grown fixture did not flip generations")
      pre
    }

  /** One delta-GROWN sharded index per dir — base built on the first 80%
    * of the corpus, the rest appended via [[ShardedIndex.appendDelta]]:
    * the daily-ingest lifecycle as a first-class query path. Same
    * data-free-descriptor lifecycle (and the same no-localCheckpoint
    * cache invariant) as [[shardedHandles]]; IndexSpec holds the
    * recall-after-append, base-untouched, and compaction gates. */
  private def deltaShardedHandles(s: SparkSession,
                                  dir: String): ShardedIndexRef =
    Fixtures.memo("sharded_delta", dir) {
      val path = Fixtures.tempDir("graft_sharded_delta_")
      val e = Tables.embeddings(s, dir)
      val cut = e.count() * 4 / 5
      val base = ShardedIndex.buildPersisted(s,
        e.filter(col("vec_id") < cut), FixtureParams, 2, path)
      ShardedIndex.appendDelta(s, e.filter(col("vec_id") >= cut), base,
        FixtureParams)
    }

  /** Flagship-tier shard knob: 1 (default) = broadcast tier, >1 = sharded
    * tier (per-shard graphs + bounded merge — the 100 TB layout). */
  def confShards(s: SparkSession): Int =
    s.conf.get("spark.graft.index.shards", "1").toInt

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)

  /** Relational J5 edge set over the TrainN×MTrain kNN ranking. */
  private def j5Edges(s: SparkSession, dir: String): DataFrame = {
    val nd = emb(s, dir).count()
    val q = emb(s, dir).filter(col("vec_id") < TrainN)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val d = emb(s, dir)
      .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val ranked = KnnJoin.bruteForce(q, d, MTrain, "cosine", excludeSelf = true)
    val fwd = ranked.filter(col("rank") >= 2)
      .select((col("q_id") + nd).as("src"), col("d_id").as("dst"),
        lit("fwd").as("kind"))
    val rev = ranked.filter(col("rank") === 1)
      .select(col("d_id").as("src"), (col("q_id") + nd).as("dst"),
        lit("rev").as("kind"))
    fwd.unionByName(rev)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J5: bipartite edge construction from kNN lists
    // (qbaseNNbipartite, index_bipartite.cpp:237-282).
    "j5_edges" -> ((s, dir) => j5Edges(s, dir)),

    // A5: degree statistics over the J5 edge set
    // (index_bipartite.cpp:107-141,1145-1181).
    "a5_degree" -> ((s, dir) => {
      j5Edges(s, dir).groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .agg(round(avg("deg"), 6).as("avg_degree"),
          max("deg").as("max_degree"),
          min("deg").as("min_degree"),
          count(lit(1)).as("n_nodes"))
    }),

    // A6+A7: centroid → medoid entry point, fully relational
    // (CalculateProjectionep, index_bipartite.cpp:2006-2043).
    "a7_medoid" -> ((s, dir) => {
      val cent = emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "val")))
        .groupBy("pos").agg(avg(col("val").cast("double")).as("c"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(transform(col("pc"), x => x.getField("c")).as("centroid"))
      emb(s, dir).crossJoin(broadcast(cent))
        .select(col("vec_id"),
          round(round(vecL2Sq(col("embedding"), col("centroid")), 9), 6).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(1)
        .select(col("vec_id").as("medoid_id"), col("dist"))
    }),

    // G1/G2 build + A5 over the result (rows-only: kernel-approximate).
    "g2_graph_stats" -> ((s, dir) => {
      val h = handles(s, dir)
      CsrGraph.degreeStats(CsrGraph.toAdjacencyDf(s, h.idx.graph),
          h.idx.params.mPjbp)
        .withColumn("entry_point", lit(h.idx.graph.entryPoint.toLong))
    }),

    // G8: single-vector beam search over the built graph (rows-only).
    "g8_beam_search" -> ((s, dir) => {
      val h = handles(s, dir)
      val q = emb(s, dir).filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      BeamSearch.searchSingleDf(s, q, h.graphB, h.vecsB,
        h.idx.params.metric, l = 40, k = K)
    }),

    // G8 + rerank: single-vector query (cardinality-1 query set) → graph
    // search → set-level chamfer rerank — the reference's
    // `test_search_singlevector_rerank` path (rows-only).
    "g8_singlevector_rerank" -> ((s, dir) => {
      val h = handles(s, dir)
      val q = emb(s, dir).filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val cands = BeamSearch.searchSingleDf(s, q, h.graphB, h.vecsB,
        h.idx.params.metric, l = 60, k = 60)
      val querySets = q.select(col("q_id").as("qset_id"),
        lit(0).as("q_sub"), col("q_vec"))
      // cardinality-1 query set: chamfer denominator c_q = 1
      Rerank.chamferTopK(emb(s, dir), querySets,
        cands.select(col("q_id").as("qset_id"), col("d_id")), C, K, cQ = 1)
    }),

    // G3+G13: bipartite graph (qbaseNNbipartite shape) + two-hop search
    // over it — the reference's ablation baseline (rows-only).
    "g13_bipartite_search" -> ((s, dir) => {
      val h = handles(s, dir)
      val nd = h.idx.vecs.n
      val train = emb(s, dir).filter(col("vec_id") < TrainN)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val knn = GraphBuild.exactKnn(s, train, MTrain, h.vecsB,
        h.idx.params.metric, excludeSelf = true)
      // shift query-node ids by nd and build CSR over nd + TrainN nodes
      val bipAdj = GraphBuild.bipartiteAdjacency(knn, nd, MTrain)
      val bip = CsrGraph.collect(bipAdj, nd + TrainN, h.idx.graph.entryPoint)
      val bipB = s.sparkContext.broadcast(bip)
      val q = emb(s, dir).filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      BeamSearch.searchBipartiteDf(s, q, bipB, nd, h.vecsB,
        h.idx.params.metric, l = 40, k = K)
    }),

    // G10: shared-visited-list multivector search variant — round-robin
    // expansion, one shared visited set, every expanded node scored
    // against all c subqueries (rows-only).
    "g10_shared_search" -> ((s, dir) => {
      val h = handles(s, dir)
      val querySets = emb(s, dir).filter(col("vec_id") < NQ * C).select(
        (col("vec_id") / C).cast("long").as("qset_id"),
        (col("vec_id") % C).cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
      BeamSearch.searchMultiSharedDf(s, querySets, h.graphB, h.vecsB,
        h.idx.params.metric, maxPq = 200, budget = 120)
    }),

    // G10's ORACLE-CHECKABLE twin: the shared-visited kernel run
    // SATURATED (per-subquery beam l = budget/c = 2n, maxPq = 2n — the
    // a11/g8/g9_sql_saturated regime). The shared visited set scores
    // every expanded node against ALL c subqueries (the round-robin
    // loop in [[graft.index.BeamSearch.searchMultiShared]], reference
    // `index_bipartite.cpp:2668-2764`), so at saturation every
    // subquery's queue holds every reachable node; the per-subquery
    // top-K slice re-ranked by exact double cosine (KnnJoin
    // discipline: round-9 score, d_id tie-break) is therefore the
    // exhaustive per-subquery ranking, which DuckDB recomputes. The
    // production g10_shared_search keeps its budgeted beams
    // (order-dependent by design, rows-only + VariantSpec's gate).
    "g10_shared_saturated" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val h = handles(s, dir)
      val n = h.idx.graph.n
      val querySets = emb(s, dir).filter(col("vec_id") < NQ * C).select(
        (col("vec_id") / C).cast("long").as("qset_id"),
        (col("vec_id") % C).cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
      val beam = BeamSearch.searchMultiSharedDf(s, querySets, h.graphB,
          h.vecsB, h.idx.params.metric, maxPq = 2 * n, budget = 2 * n * C)
        .select(col("qset_id"), col("q_sub"), col("d_id"))
      val q = querySets.withColumn("q_norm", vecNorm(col("q_vec")))
      val d = emb(s, dir).select(col("vec_id").as("d_id"),
        col("embedding").as("d_vec"),
        vecNorm(col("embedding")).as("d_norm"))
      val scored = beam.join(broadcast(q), Seq("qset_id", "q_sub"))
        .join(broadcast(d), Seq("d_id"))
        .withColumn("score", round(vecDot(col("q_vec"), col("d_vec")) /
          (col("q_norm") * col("d_norm")), 9))
      val w = Window.partitionBy(col("qset_id"), col("q_sub"))
        .orderBy(col("score").desc, col("d_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("qset_id"), col("q_sub"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // G12: overlap-instrumented search — TRUE visited-node logs per
    // subquery, unique/total across the set (rows-only).
    "g12_visited_overlap" -> ((s, dir) => {
      val h = handles(s, dir)
      val querySets = emb(s, dir).filter(col("vec_id") < NQ * C).select(
        (col("vec_id") / C).cast("long").as("qset_id"),
        (col("vec_id") % C).cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
      BeamSearch.visitedOverlapDf(s, querySets, h.graphB, h.vecsB,
        h.idx.params.metric, minPq = 10, maxPq = 200, budget = 120,
        adaptive = true)
    }),

    // A11/G12: search-path overlap across a query set's subqueries —
    // unique visited candidates ÷ total candidate rows
    // (`TestOverlap_SearchMultivectorOnRoarGraph`,
    // index_bipartite.cpp:2546-2666), measured on the G9 beam contents
    // (rows-only: kernel-approximate).
    "a11_overlap" -> ((s, dir) => {
      val h = handles(s, dir)
      val querySets = emb(s, dir).filter(col("vec_id") < NQ * C).select(
        (col("vec_id") / C).cast("long").as("qset_id"),
        (col("vec_id") % C).cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
      BeamSearch.searchMultiDf(s, querySets, h.graphB, h.vecsB,
          h.idx.params.metric, minPq = 10, maxPq = 200, budget = 120,
          adaptive = true)
        .groupBy("qset_id")
        .agg(round(countDistinct(col("d_id")).cast("double") /
          count(lit(1)), 6).as("unique_frac"))
    }),

    // A11's ORACLE-CHECKABLE twin: the same unique÷total overlap
    // statistic computed over candidate lists with EXACT membership.
    // Each subquery's beam runs SATURATED (l = 2n, budget = c·2n, the
    // g8/g9_sql_saturated regime: the beam then holds every reachable
    // node — full reachability is what those hash-green certificates
    // already prove for this fixture graph), and the per-subquery
    // top-K slice is re-ranked by exact double cosine with the
    // KnnJoin discipline (round-9 score, d_id tie-break) — so the
    // lists, and therefore the overlap ratio, are deterministic and
    // DuckDB-recomputable. The production a11_overlap keeps its
    // budgeted adaptive beams (order-dependent by design, rows-only).
    "a11_overlap_saturated" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val h = handles(s, dir)
      val n = h.idx.graph.n
      val querySets = emb(s, dir).filter(col("vec_id") < NQ * C).select(
        (col("vec_id") / C).cast("long").as("qset_id"),
        (col("vec_id") % C).cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
      val beam = BeamSearch.searchMultiDf(s, querySets, h.graphB, h.vecsB,
          h.idx.params.metric, minPq = 2 * n, maxPq = 2 * n,
          budget = 2 * n * C, adaptive = false)
        .select(col("qset_id"), col("q_sub"), col("d_id"))
      val q = querySets.withColumn("q_norm", vecNorm(col("q_vec")))
      val d = emb(s, dir).select(col("vec_id").as("d_id"),
        col("embedding").as("d_vec"),
        vecNorm(col("embedding")).as("d_norm"))
      val scored = beam.join(broadcast(q), Seq("qset_id", "q_sub"))
        .join(broadcast(d), Seq("d_id"))
        .withColumn("score", round(vecDot(col("q_vec"), col("d_vec")) /
          (col("q_norm") * col("d_norm")), 9))
      val w = Window.partitionBy(col("qset_id"), col("q_sub"))
        .orderBy(col("score").desc, col("d_id").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= K)
        .groupBy("qset_id")
        .agg(round(round(countDistinct(col("d_id")).cast("double") /
          count(lit(1)), 9), 6).as("unique_frac"))
    }),

    // G9 + rerank: the reference's flagship `test_search_multivector_rerank`
    // path — adaptive multivector beam search producing candidates, then
    // the P9-dedup → J2-gather → A1-chamfer → W1-topk relational tail
    // restricted to those candidates (rows-only; recall harness in
    // IndexSpec asserts ≥0.95 Recall@10 vs the fullscan oracle).
    "g9_multivector_search" -> ((s, dir) => {
      val querySets = emb(s, dir).filter(col("vec_id") < NQ * C).select(
        (col("vec_id") / C).cast("long").as("qset_id"),
        (col("vec_id") % C).cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
      // tier switch: spark.graft.index.shards > 1 routes the flagship
      // path through the sharded tier (per-shard search + bounded merge)
      val cands = confShards(s) match {
        case 1 =>
          val h = handles(s, dir)
          BeamSearch.searchMultiDf(s, querySets, h.graphB, h.vecsB,
            h.idx.params.metric, minPq = 10, maxPq = 200, budget = 120,
            adaptive = true)
        case n =>
          ShardedIndex.searchMultiDf(s, querySets, shardedHandles(s, dir, n),
            minPq = 10, maxPq = 200, budget = 120, adaptive = true)
      }
      Rerank.chamferTopK(emb(s, dir), querySets,
        cands.select(col("qset_id"), col("d_id")), C, K)
    }),

    // G9 with VARIABLE-cardinality query sets end-to-end: ragged sets
    // from the S7 cycle mapping (cards 1..5) run through the SAME
    // adaptive multivector kernel (searchMultiDf groups whatever rows a
    // set brings — no fixed stride) and rerank with each set's OWN
    // cardinality as the chamfer denominator (chamferTopKVarc).
    // Rows-only (graph search is order-dependent); IndexSpec holds it to
    // >=0.95 Recall@10 vs the ragged full-scan oracle.
    "g9_varc" -> ((s, dir) => {
      val querySets = VarcQueries.membership(s, dir)
        .filter(col("set_id") < 2 * NQ)
        .select(col("set_id").as("qset_id"),
          col("sub_idx").cast("int").as("q_sub"),
          col("embedding").as("q_vec"))
      val h = handles(s, dir)
      val cands = BeamSearch.searchMultiDf(s, querySets, h.graphB, h.vecsB,
        h.idx.params.metric, minPq = 10, maxPq = 200, budget = 120,
        adaptive = true)
      Rerank.chamferTopKVarc(emb(s, dir), querySets,
        cands.select(col("qset_id"), col("d_id")), C, K)
    }),

    // G9_varc's ORACLE-CHECKABLE twin: the same ragged query sets
    // through the SAME kernel + varc rerank, but with every subquery's
    // beam SATURATED (l = 2n, budget = 2n per subquery slot — the
    // a11/g8/g9_sql_saturated regime, under which the beam holds every
    // reachable node). The candidate set then covers the corpus, so the
    // per-set-denominator rerank answers the EXHAUSTIVE ragged chamfer
    // ranking, which DuckDB recomputes from the same S7 CASE mapping
    // and the same LSE/round discipline the hash-green
    // a1_smooth_chamfer_varc oracle already certifies. The production
    // g9_varc keeps its budgeted adaptive beams (order-dependent by
    // design, rows-only + IndexSpec's >=0.95 recall gate).
    "g9_varc_saturated" -> ((s, dir) => {
      val querySets = VarcQueries.membership(s, dir)
        .filter(col("set_id") < 2 * NQ)
        .select(col("set_id").as("qset_id"),
          col("sub_idx").cast("int").as("q_sub"),
          col("embedding").as("q_vec"))
      val h = handles(s, dir)
      val n = h.idx.graph.n
      val cands = BeamSearch.searchMultiDf(s, querySets, h.graphB, h.vecsB,
        h.idx.params.metric, minPq = 2 * n, maxPq = 2 * n,
        budget = 2 * n * 5, adaptive = false)
      Rerank.chamferTopKVarc(emb(s, dir), querySets,
        cands.select(col("qset_id"), col("d_id")), C, K)
    }),

    // G9 over the sharded tier explicitly (2 strided shards, per-shard
    // RoarGraph, same budget per shard, one bounded rerank merge) —
    // rows-only; IndexSpec holds it to the same >=0.95 Recall@10 gate as
    // the broadcast-tier G9.
    "g9_sharded" -> ((s, dir) => {
      val querySets = emb(s, dir).filter(col("vec_id") < NQ * C).select(
        (col("vec_id") / C).cast("long").as("qset_id"),
        (col("vec_id") % C).cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
      val cands = ShardedIndex.searchMultiDf(s, querySets,
        shardedHandles(s, dir, 2),
        minPq = 10, maxPq = 200, budget = 120, adaptive = true)
      Rerank.chamferTopK(emb(s, dir), querySets,
        cands.select(col("qset_id"), col("d_id")), C, K)
    }),

    // The STREAMING-INGEST LIFECYCLE on the oracle surface — the
    // foreachBatch policy ([[graft.streaming.StreamingIngest
    // .ingestVectorBatch]]) driven through its three canonical
    // micro-batches over a bounded slice (min(n, 500) vectors — the
    // lifecycle is the subject here; build-cost scaling lives in
    // SWEEP_BUILD.tsv): an append below the compaction threshold, an
    // at-least-once REPLAY of the same batch (skipped idempotently),
    // and a second append that tips deltaFraction over compactAt and
    // folds the index. Output = the deterministic per-stage facts
    // (action taken, delta count, indexed rows) that the DuckDB oracle
    // DERIVES independently from the corpus count and the policy
    // constants — so the engine's actual shard layout arithmetic is
    // hash-checked, not just spec-asserted.
    "g8_ingest_lifecycle" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StreamingIngest
      // the base index is deterministic and REUSED (one build per JVM
      // per dir, the handle-cache pattern); each call COPIES the cached
      // directory — compaction rebuilds in place, so the cache must
      // never hand out its own path. The heavy micro-jobs run in a
      // low-partition child session (tiny data, sequential jobs —
      // empty-task overhead is pure waste), and every lifecycle
      // metadata check reads parquet FOOTERS driver-side instead of
      // running count jobs; together 16 → ~8 s at sf0.1, the rest
      // being the three honest delta/compact graph builds.
      val ls = lifecycleSession(s)
      val nAll = emb(ls, dir).count()
      val n = math.min(nAll, 500L)
      val e = emb(ls, dir).filter(col("vec_id") < n)
      val nBase = n * 4 / 5
      val b1End = nBase + (n - nBase) / 2
      val basePath = lifecycleBase(ls, dir, nBase)
      val path = Fixtures.tempDir("graft_lifecycle_")
      copyDir(basePath, path)
      var ref = ShardedIndexRef(path, 1, FixtureParams.metric)
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
      def run(stage: Long, batch: DataFrame): Unit = {
        val (r, a) = StreamingIngest.ingestVectorBatch(ls, batch, ref,
          FixtureParams, compactAt = 0.25)
        ref = r
        out += ((stage, a, ref.nDeltas.toLong,
          ShardedIndex.totalRows(ls, ref)))
      }
      val batch1 = e.filter(col("vec_id") >= nBase && col("vec_id") < b1End)
      run(1, batch1)
      run(2, batch1) // the at-least-once replay
      run(3, e.filter(col("vec_id") >= b1End))
      out.toSeq.toDF("stage", "action", "n_deltas", "total_rows")
    }),

    // The STREAMING TAKEDOWN LIFECYCLE on the oracle surface — deletion
    // arriving through the streaming face ([[graft.streaming
    // .StreamingIngest.takedownBatch]]), not the operator API: ingest
    // one delta micro-batch, apply one deletion feed (every 13th id,
    // PLUS ids beyond the indexed range that the face must ignore) to
    // the sharded index via takedownBatch, replay the same feed (the
    // at-least-once delivery — idempotent by construction, zero new
    // deletions), then answer the exhaustive ranking over the
    // SURVIVORS: the saturated per-shard beams expose every live id,
    // the tombstone mask hides the tranche, and the proven exact-kNN
    // scorer ranks the exposed set — so the DuckDB oracle's survivor
    // arithmetic hash-checks the whole mid-stream deletion path. The
    // per-stage counters (append action, accepted-deletion count,
    // zero-on-replay) are asserted in-query: a wrong count cannot
    // reach the output.
    "takedown_lifecycle" -> ((s, dir) => {
      import graft.streaming.StreamingIngest
      val ls = lifecycleSession(s)
      val nAll = emb(ls, dir).count()
      val n = math.min(nAll, 500L)
      val e = emb(ls, dir).filter(col("vec_id") < n)
      val nBase = n * 4 / 5
      val b1End = nBase + (n - nBase) / 2
      val basePath = lifecycleBase(ls, dir, nBase)
      val path = Fixtures.tempDir("graft_takedown_")
      copyDir(basePath, path)
      val ref0 = ShardedIndexRef(path, 1, FixtureParams.metric)
      // stage 1: one streaming ingest batch (below the compact trigger)
      val (ref, a1) = StreamingIngest.ingestVectorBatch(ls,
        e.filter(col("vec_id") >= nBase && col("vec_id") < b1End), ref0,
        FixtureParams)
      require(a1 == "append", s"takedown_lifecycle stage 1: $a1")
      // stage 2: the deletion feed through the streaming face — every
      // 13th id over the WHOLE slice, so ids >= b1End exercise the
      // not-indexed-yet restriction (they must not count)
      val feed = e.filter(col("vec_id") % 13 === 0).select(col("vec_id"))
      val expected = e
        .filter(col("vec_id") % 13 === 0 && col("vec_id") < b1End).count()
      val took = StreamingIngest.takedownBatch(
        shardedIndexPath = Some(path))(feed, 0L)
      require(took("sharded") == expected,
        s"takedown accepted ${took("sharded")} of expected $expected")
      // stage 3: the at-least-once replay converges to zero
      val replay = StreamingIngest.takedownBatch(
        shardedIndexPath = Some(path))(feed, 1L)
      require(replay("sharded") == 0L,
        s"replayed takedown re-deleted ${replay("sharded")} ids")
      // stage 4: survivors, exactly — saturated beams expose every live
      // id; the proven exact scorer (KnnJoin.bruteForce, round-9 then
      // round-6 at the boundary) ranks what the lifecycle exposed
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val exposed = ShardedIndex.searchSingleDf(ls, q, ref,
          l = 2 * b1End.toInt, k = b1End.toInt)
        .select(col("d_id")).distinct()
      val d = exposed.join(e, exposed("d_id") === e("vec_id"))
        .select(col("d_id"), col("embedding").as("d_vec"))
      KnnJoin.bruteForce(q, d, K, "cosine", excludeSelf = false)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // G8 over the DELTA-GROWN sharded tier: base shards + appended delta
    // shard searched with one budget, candidates merged through the
    // bounded per-query top-k (rows-only — graph search is approximate;
    // IndexSpec gates recall ≥0.9 vs the grown-corpus oracle, delta
    // self-hits, and byte-untouched base shards).
    "g8_sharded_delta" -> ((s, dir) => {
      val q = emb(s, dir).filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val hits = ShardedIndex.searchSingleDf(s, q,
        deltaShardedHandles(s, dir), l = 40, k = K)
      TopK.perGroupAgg(hits, Seq(col("q_id")), col("score"), col("d_id"),
          K, idName = "d_id")
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    }),

    // The DELTA face's EXACTNESS certificate: the same delta-grown
    // index (base shards + appendDelta's renumbered delta shard) at
    // per-shard SATURATING budget — every shard's beam exposes its
    // whole sub-corpus, so the exposed id set must be the ENTIRE
    // grown corpus (a delta row lost or mis-renumbered by appendDelta
    // goes missing here and hash-mismatches), and the proven exact
    // scorer ranks exactly what the tier exposed — the
    // takedown_lifecycle stage-4 discipline applied to the append
    // path. The production g8_sharded_delta keeps its budgeted beams
    // (rows-only + IndexSpec's recall/self-hit/byte-untouched gates).
    "g8_sharded_delta_saturated" -> ((s, dir) => {
      val e = emb(s, dir)
      val n = e.count().toInt
      val q = e.filter(col("vec_id") < NQ * C)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val exposed = ShardedIndex.searchSingleDf(s, q,
          deltaShardedHandles(s, dir), l = 2 * n, k = n)
        .select(col("d_id")).distinct()
      val d = exposed.join(e, exposed("d_id") === e("vec_id"))
        .select(col("d_id"), col("embedding").as("d_vec"))
      KnnJoin.bruteForce(q, d, K, "cosine", excludeSelf = false)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("score"), 6).as("score"))
    })
  )

  /** Low-partition child session for the ingest-lifecycle micro-jobs
    * (tiny data, many sequential jobs — empty-task overhead dominates
    * at the session default). One per parent session. */
  private def lifecycleSession(s: SparkSession): SparkSession =
    Fixtures.childSession(s, "spark.sql.shuffle.partitions" -> "8")

  /** One 1-shard lifecycle BASE index per dir per JVM (path-only cache —
    * the no-localCheckpoint invariant holds trivially). Callers must
    * COPY the directory before mutating (delta appends / compaction). */
  private def lifecycleBase(s: SparkSession, dir: String,
                            nBase: Long): String =
    Fixtures.memo("lifecycle_base", dir, nBase) {
      val path = Fixtures.tempDir("graft_lifecycle_base_")
      ShardedIndex.buildPersisted(s,
        emb(s, dir).filter(col("vec_id") < nBase), FixtureParams, 1, path)
      path
    }

  private def copyDir(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    val s0 = Paths.get(src)
    val d0 = Paths.get(dst)
    val walk = Files.walk(s0)
    try walk.forEach { p: Path =>
      val t = d0.resolve(s0.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  private def dotSqlAB(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def normSqlOf(t: String) =
    s"sqrt(list_sum(list_transform($t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private def cosineSql(a: String, b: String) =
    s"(${dotSqlAB(s"$a.embedding", s"$b.embedding")} / (${normSqlOf(a)} * ${normSqlOf(b)}))"

  /** Shared ranked-kNN CTE for j5/a5 (mirrors KnnJoin.bruteForce). */
  private val rankedCte =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < $TrainN),
       |d AS (SELECT vec_id AS d_id, embedding FROM embeddings),
       |nd AS (SELECT count(*) AS n FROM embeddings),
       |scored AS (
       |  SELECT q.q_id, d.d_id, round(${cosineSql("q", "d")}, 9) AS score
       |  FROM q CROSS JOIN d WHERE q.q_id <> d.d_id),
       |ranked AS (
       |  SELECT q_id, d_id, score,
       |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, d_id ASC) AS rank
       |  FROM scored),
       |topm AS (SELECT * FROM ranked WHERE rank <= $MTrain),
       |edges AS (
       |  SELECT q_id + nd.n AS src, d_id AS dst, 'fwd' AS kind
       |  FROM topm CROSS JOIN nd WHERE rank >= 2
       |  UNION ALL
       |  SELECT d_id AS src, q_id + nd.n AS dst, 'rev' AS kind
       |  FROM topm CROSS JOIN nd WHERE rank = 1)""".stripMargin

  def oracles: Map[String, String] = Map(
    // g8_ingest_lifecycle: the oracle re-derives the lifecycle facts
    // from the corpus count and the policy constants alone (base = 4/5
    // of the min(n,500) slice, two equal batches, compactAt = 0.25) —
    // the engine's actual parquet shard layout must land on the same
    // numbers
    "g8_ingest_lifecycle" ->
      """WITH c AS (SELECT least(count(*), 500) AS n FROM embeddings),
        |p AS (SELECT n, (n * 4) // 5 AS nbase,
        |             (n * 4) // 5 + (n - (n * 4) // 5) // 2 AS b1end
        |      FROM c),
        |f AS (SELECT n, nbase, b1end,
        |             CAST(n - nbase AS DOUBLE) / nbase >= 0.25 AS compacts
        |      FROM p)
        |SELECT CAST(1 AS BIGINT) AS stage, 'append' AS action,
        |       CAST(1 AS BIGINT) AS n_deltas, b1end AS total_rows FROM f
        |UNION ALL
        |SELECT 2, 'skip-replay', 1, b1end FROM f
        |UNION ALL
        |SELECT 3,
        |       CASE WHEN compacts THEN 'append+compact' ELSE 'append' END,
        |       CASE WHEN compacts THEN 0 ELSE 2 END, n FROM f""".stripMargin,
    // takedown_lifecycle: the oracle re-derives the survivor set from
    // the corpus count and the policy constants alone (index = base +
    // first batch = b1end rows, tranche = every 13th id) and ranks it
    // exhaustively — the engine's streaming-face deletion plumbing
    // must land on the same rows AND the same scores
    "takedown_lifecycle" ->
      s"""WITH c AS (SELECT least(count(*), 500) AS n FROM embeddings),
         |p AS (SELECT (n * 4) // 5 + (n - (n * 4) // 5) // 2 AS b1end
         |      FROM c),
         |q AS (SELECT vec_id AS q_id, embedding FROM embeddings
         |      WHERE vec_id < 8),
         |d AS (SELECT vec_id AS d_id, embedding FROM embeddings
         |      CROSS JOIN p WHERE vec_id < b1end AND vec_id % 13 <> 0),
         |scored AS (
         |  SELECT q.q_id, d.d_id, round(${cosineSql("q", "d")}, 9) AS score
         |  FROM q CROSS JOIN d),
         |ranked AS (
         |  SELECT q_id, d_id, score,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY score DESC, d_id ASC) AS rank
         |  FROM scored)
         |SELECT q_id, rank, d_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $K""".stripMargin,
    // g9_varc_saturated: the exhaustive ragged-QUERY chamfer ranking —
    // the saturated beam covers the corpus, so the routed answer equals
    // this full scan. Same S7 CASE mapping, same stable-LSE shape and
    // round discipline as the hash-green a1_smooth_chamfer_varc oracle,
    // with the roles swapped (query side ragged with per-set
    // denominator c_q via smoothChamferAgg(.., 1) ÷ c_q; data side the
    // fixed-c corpus grid).
    "g9_varc_saturated" -> {
      val ts = SetSim.Temperature * SetSim.TxtScale
      val t = SetSim.Temperature
      s"""WITH q AS (
         |  SELECT set_id AS qset_id, sub_idx AS q_sub, embedding
         |  FROM (${VarcQueries.membershipSql}) WHERE set_id < ${2 * NQ}),
         |cq AS (SELECT qset_id, CAST(count(DISTINCT q_sub) AS DOUBLE) AS c_q
         |       FROM q GROUP BY qset_id),
         |d AS (SELECT CAST(vec_id // $C AS BIGINT) AS dset_id,
         |             vec_id % $C AS d_sub, embedding FROM embeddings),
         |sims AS (
         |  SELECT q.qset_id, d.dset_id, q.q_sub, d.d_sub,
         |         ${cosineSql("q", "d")} AS sim
         |  FROM q CROSS JOIN d),
         |rl AS (
         |  SELECT qset_id, dset_id, q_sub, mx + ln(sum(exp(x - mx))) AS lse FROM (
         |    SELECT qset_id, dset_id, q_sub, sim * $ts AS x,
         |           max(sim * $ts) OVER (PARTITION BY qset_id, dset_id, q_sub) AS mx
         |    FROM sims) GROUP BY qset_id, dset_id, q_sub, mx),
         |cl AS (
         |  SELECT qset_id, dset_id, d_sub, mx + ln(sum(exp(x - mx))) AS lse FROM (
         |    SELECT qset_id, dset_id, d_sub, sim * $t AS x,
         |           max(sim * $t) OVER (PARTITION BY qset_id, dset_id, d_sub) AS mx
         |    FROM sims) GROUP BY qset_id, dset_id, d_sub, mx),
         |t1 AS (SELECT qset_id, dset_id, sum(lse) AS s1 FROM rl GROUP BY qset_id, dset_id),
         |t2 AS (SELECT qset_id, dset_id, sum(lse) AS s2 FROM cl GROUP BY qset_id, dset_id),
         |scored AS (
         |  SELECT t1.qset_id, t1.dset_id,
         |         round(((t1.s1 / (1.0 * $ts) + t2.s2 / (1.0 * $t)) / ${SetSim.Denominator}) / cq.c_q, 9) AS score
         |  FROM t1 JOIN t2 ON t1.qset_id = t2.qset_id AND t1.dset_id = t2.dset_id
         |       JOIN cq ON t1.qset_id = cq.qset_id),
         |ranked AS (
         |  SELECT qset_id, dset_id, score,
         |         row_number() OVER (PARTITION BY qset_id ORDER BY score DESC, dset_id ASC) AS rank
         |  FROM scored)
         |SELECT qset_id, rank, dset_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $K""".stripMargin
    },
    // a11_overlap_saturated: exact top-K per subquery over the full
    // corpus (the saturated beam's membership), KnnJoin ranking
    // discipline (round-9 score, d_id tie-break), then unique÷total
    // across each set's subqueries — the A11 statistic with exact,
    // engine-independent list membership.
    "a11_overlap_saturated" ->
      s"""WITH q AS (SELECT vec_id // $C AS qset_id, vec_id % $C AS q_sub,
         |             embedding FROM embeddings WHERE vec_id < ${NQ * C}),
         |d AS (SELECT vec_id AS d_id, embedding FROM embeddings),
         |scored AS (
         |  SELECT q.qset_id, q.q_sub, d.d_id,
         |         round(${cosineSql("q", "d")}, 9) AS score
         |  FROM q CROSS JOIN d),
         |ranked AS (
         |  SELECT qset_id, q_sub, d_id,
         |         row_number() OVER (PARTITION BY qset_id, q_sub
         |           ORDER BY score DESC, d_id ASC) AS rnk
         |  FROM scored)
         |SELECT qset_id,
         |       round(round(CAST(count(DISTINCT d_id) AS DOUBLE) /
         |         count(*), 9), 6) AS unique_frac
         |FROM ranked WHERE rnk <= $K GROUP BY qset_id""".stripMargin,
    // g10_shared_saturated: exact top-K per subquery over the full
    // corpus (the saturated shared beam's membership), KnnJoin ranking
    // discipline — the a11_overlap_saturated oracle with the ranked
    // lists themselves as the output instead of the overlap statistic.
    "g10_shared_saturated" ->
      s"""WITH q AS (SELECT vec_id // $C AS qset_id, vec_id % $C AS q_sub,
         |             embedding FROM embeddings WHERE vec_id < ${NQ * C}),
         |d AS (SELECT vec_id AS d_id, embedding FROM embeddings),
         |scored AS (
         |  SELECT q.qset_id, q.q_sub, d.d_id,
         |         round(${cosineSql("q", "d")}, 9) AS score
         |  FROM q CROSS JOIN d),
         |ranked AS (
         |  SELECT qset_id, q_sub, d_id, score,
         |         row_number() OVER (PARTITION BY qset_id, q_sub
         |           ORDER BY score DESC, d_id ASC) AS rank
         |  FROM scored)
         |SELECT qset_id, q_sub, rank, d_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $K""".stripMargin,
    // g8_sharded_delta_saturated: the exhaustive per-query ranking
    // over the ENTIRE grown corpus — base rows and appended delta rows
    // alike (the saturated per-shard beams must expose every one).
    "g8_sharded_delta_saturated" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
         |           WHERE vec_id < ${NQ * C}),
         |d AS (SELECT vec_id AS d_id, embedding FROM embeddings),
         |scored AS (
         |  SELECT q.q_id, d.d_id, round(${cosineSql("q", "d")}, 9) AS score
         |  FROM q CROSS JOIN d),
         |ranked AS (
         |  SELECT q_id, d_id, score,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY score DESC, d_id ASC) AS rank
         |  FROM scored)
         |SELECT q_id, rank, d_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= $K""".stripMargin,
    "j5_edges" -> s"$rankedCte\nSELECT src, dst, kind FROM edges",
    "a5_degree" ->
      s"""$rankedCte,
         |degs AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
         |SELECT round(avg(deg), 6) AS avg_degree, max(deg) AS max_degree,
         |       min(deg) AS min_degree, count(*) AS n_nodes FROM degs""".stripMargin,
    "a7_medoid" ->
      """WITH dims AS (SELECT unnest(range(1, 65)) AS pos),
        |cvals AS (
        |  SELECT pos, avg(CAST(embedding[pos] AS DOUBLE)) AS c
        |  FROM embeddings CROSS JOIN dims GROUP BY pos),
        |cent AS (SELECT list(c ORDER BY pos) AS centroid FROM cvals),
        |scored AS (
        |  SELECT vec_id,
        |         round(round(list_sum(list_transform(list_zip(embedding, centroid),
        |           x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2]))), 9), 6) AS dist
        |  FROM embeddings CROSS JOIN cent)
        |SELECT vec_id AS medoid_id, dist FROM scored
        |ORDER BY dist ASC, vec_id ASC LIMIT 1""".stripMargin
  )
}
