package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.queries.{IndexQueries, VectorQueries}

/** Kernel-level and end-to-end tests for the RoarGraph index layer:
  * beam queue, occlusion prune, exact-kNN parity, build, persistence
  * roundtrip, and the recall harness (search+rerank vs fullscan oracle). */
class IndexSpec extends AnyFunSuite {
  import TestSpark._

  test("BeamQueue keeps sorted bounded contents with expansion cursor") {
    val q = new BeamQueue(3)
    q.insert(5, 0.5f); q.insert(2, 0.2f); q.insert(9, 0.9f)
    q.insert(1, 0.1f) // evicts 0.9
    assert(q.size === 3)
    assert((0 until 3).map(q.id) === Seq(1, 2, 5))
    assert((0 until 3).map(q.dist) === Seq(0.1f, 0.2f, 0.5f))
    assert(q.hasUnexpandedInK(3))
    assert(q.id(q.closestUnexpanded()) === 1)
    assert(q.id(q.closestUnexpanded()) === 2)
    // insert a better node mid-way: cursor must move back
    q.insert(7, 0.15f)
    assert(q.id(q.closestUnexpanded()) === 7)
    // contents now 1,7,2 (5 evicted) and all three are expanded
    assert((0 until 3).map(q.id) === Seq(1, 7, 2))
    assert(!q.hasUnexpandedInK(3))
  }

  test("occlusionPrune applies alpha=1 RNG rule then fill") {
    // 1-d points: target at 0; candidates at 1, 2, 10.
    // cand@2 is occluded by kept cand@1 (d(2,1)=1 < d(2,0)=4 in l2sq);
    // cand@10 occluded by 1 (81 < 100)? d(10,1)=81 < d(10,0)=100 → occluded.
    // fill pass then restores 2 and 10 in distance order up to m.
    val data = Array(0f, 1f, 2f, 10f)
    val vecs = new VectorStore(4, 1, data)
    val m = Metrics.L2
    val cands = Seq((1, 1f), (2, 4f), (3, 100f))
    assert(GraphBuild.occlusionPrune(cands, 0, 1, vecs, m).toSeq === Seq(1))
    assert(GraphBuild.occlusionPrune(cands, 0, 2, vecs, m).toSeq === Seq(1, 2))
    assert(GraphBuild.occlusionPrune(cands, 0, 3, vecs, m).toSeq === Seq(1, 2, 3))
  }

  test("exactKnn matches the relational bruteForce ranking") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val vecs = VectorStore.fromDf(emb, "vec_id", "embedding", Metrics.Cosine)
    val vecsB = spark.sparkContext.broadcast(vecs)
    val train = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val kernel = GraphBuild.exactKnn(spark, train, 5, vecsB, "cosine",
        excludeSelf = true)
      .as[(Long, Seq[Long])].collect().toMap
    val d = emb.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val oracle = graft.operators.KnnJoin.bruteForce(train, d, 5, "cosine",
        excludeSelf = true)
      .groupBy("q_id").agg(array_sort(collect_list(struct(col("rank"), col("d_id")))).as("l"))
      .select(col("q_id"), transform(col("l"), x => x.getField("d_id")).as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(kernel.keySet === oracle.keySet)
    // float32 kernel vs double relational can disagree on near-ties; demand
    // ≥4/5 overlap per query and identical top-1
    kernel.foreach { case (q, ids) =>
      val o = oracle(q)
      assert(ids.head === o.head, s"top-1 mismatch for q=$q: $ids vs $o")
      assert(ids.toSet.intersect(o.toSet).size >= 4, s"q=$q: $ids vs $o")
    }
  }

  lazy val index: RoarIndex = {
    val emb = Tables.embeddings(spark, sfDir)
    GraphBuild.build(spark, emb, emb, IndexQueries.FixtureParams)
  }

  test("build produces a connected-ish graph with bounded degrees") {
    val g = index.graph
    assert(g.n === 500)
    val cap = 2 * IndexQueries.FixtureParams.mPjbp
    val degs = (0 until g.n).map(g.degree)
    assert(degs.max <= cap, s"degree ${degs.max} exceeds 2M=$cap")
    val zero = degs.count(_ == 0)
    assert(zero == 0, s"$zero zero-degree nodes")
    assert(g.entryPoint >= 0 && g.entryPoint < g.n)
  }

  test("graph save/load roundtrip (S10/S11)") {
    val path = "/tmp/graft_test_graph"
    CsrGraph.save(spark, index.graph, path, Map("metric" -> "cosine"))
    val loaded = CsrGraph.load(spark, path)
    assert(loaded.n === index.graph.n)
    assert(loaded.entryPoint === index.graph.entryPoint)
    assert((0 until loaded.n).forall(v =>
      loaded.neighbors(v).toSeq == index.graph.neighbors(v).toSeq))
  }

  test("G8 beam search achieves >=0.9 Recall@10 vs exact kNN") {
    import spark.implicits._
    val graphB = spark.sparkContext.broadcast(index.graph)
    val vecsB = spark.sparkContext.broadcast(index.vecs)
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val hits = BeamSearch.searchSingleDf(spark, q, graphB, vecsB, "cosine",
        l = 60, k = 10)
      .groupBy("q_id").agg(collect_set(col("d_id")).as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    val exact = GraphBuild.exactKnn(spark, q, 10, vecsB, "cosine",
        excludeSelf = false)
      .as[(Long, Seq[Long])].collect().toMap
    val recalls = exact.map { case (qid, gt) =>
      hits.get(qid).map(h => h.toSet.intersect(gt.toSet).size / 10.0).getOrElse(0.0)
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.9, s"G8 Recall@10 = $avg")
  }

  test("lsh-fed build reaches recall parity with the exact-kNN build") {
    // clustered fixture: the regime where honest (>=8-bit band) LSH
    // candidate lists carry signal — on the uniform-random embeddings
    // fixture selective banding has nothing to bucket (see the knn_lsh
    // gate note in LlmPipelineSpec); there knnSource="exact"/"ivf" apply
    import spark.implicits._
    val emb = ClusteredFixture.df(spark)
    val clusteredIdx = GraphBuild.build(spark, emb, emb,
      IndexQueries.FixtureParams)
    val approxIdx = GraphBuild.build(spark, emb, emb,
      IndexQueries.FixtureParams.copy(knnSource = "lsh"))
    def recallOf(idx: RoarIndex): Double = {
      val graphB = spark.sparkContext.broadcast(idx.graph)
      val vecsB = spark.sparkContext.broadcast(idx.vecs)
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val hits = BeamSearch.searchSingleDf(spark, q, graphB, vecsB, "cosine",
          l = 100, k = 10)
        .groupBy("q_id").agg(collect_set(col("d_id")).as("ids"))
        .as[(Long, Seq[Long])].collect().toMap
      val exact = GraphBuild.exactKnn(spark, q, 10, vecsB, "cosine",
          excludeSelf = false)
        .as[(Long, Seq[Long])].collect().toMap
      exact.map { case (qid, gt) =>
        hits.get(qid).map(_.toSet.intersect(gt.toSet).size / 10.0).getOrElse(0.0)
      }.sum / exact.size
    }
    val exactRecall = recallOf(clusteredIdx)
    val approxRecall = recallOf(approxIdx)
    assert(approxRecall >= exactRecall - 0.05,
      s"lsh-fed build recall $approxRecall vs exact-build $exactRecall")
    assert(approxRecall >= 0.85, s"lsh-fed build recall only $approxRecall")
  }

  test("G9 search + chamfer rerank achieves >=0.95 Recall@10 vs fullscan") {
    val approx = IndexQueries.queries("g9_multivector_search")(spark, sfDir)
      .select("qset_id", "dset_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val oracle = VectorQueries.queries("a1_smooth_chamfer_topk")(spark, sfDir)
      .select("qset_id", "dset_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(approx.keySet === oracle.keySet)
    val recalls = oracle.map { case (q, gt) =>
      approx(q).intersect(gt).size.toDouble / gt.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.95, s"G9 Recall@10 = $avg (per-set: $recalls)")
  }

  test("non-adaptive G9 splits the budget evenly and stays sorted") {
    val vecs = index.vecs
    val qs = Array(0, 7, 123, 400).map(vecs.vector)
    val pool = Array.fill(qs.length)(new VisitedSet(index.graph.n))
    val res = BeamSearch.searchMulti(index.graph, vecs, Metrics.Cosine, qs,
      minPq = 5, maxPq = 100, budget = 80, adaptive = false, pool)
    res.foreach { case (ids, dists, cmps, _) =>
      assert(ids.length === 20) // budget / c exactly, no reallocation
      assert(dists.toSeq === dists.sorted.toSeq)
      assert(ids.distinct.length === ids.length)
      assert(cmps > 0)
    }
  }

  test("g9_sharded (2-shard tier) achieves >=0.95 Recall@10 vs fullscan") {
    val approx = IndexQueries.queries("g9_sharded")(spark, sfDir)
      .select("qset_id", "dset_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val oracle = VectorQueries.queries("a1_smooth_chamfer_topk")(spark, sfDir)
      .select("qset_id", "dset_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(approx.keySet === oracle.keySet)
    val recalls = oracle.map { case (q, gt) =>
      approx(q).intersect(gt).size.toDouble / gt.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.95, s"sharded G9 Recall@10 = $avg (per-set: $recalls)")
  }

  test("g9_varc: ragged query sets reach >=0.95 Recall@10 vs ragged fullscan") {
    val varcSets = graft.queries.VarcQueries.membership(spark, sfDir)
      .filter(col("set_id") < 2 * VectorQueries.NQ)
      .select(col("set_id").as("qset_id"),
        col("sub_idx").cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
    // sanity: the fixture really is ragged (cards 1..5 present)
    val cards = varcSets.groupBy("qset_id").count()
      .select("count").distinct().collect().map(_.getLong(0)).sorted
    assert(cards.length > 1, s"varc fixture degenerated to fixed c: $cards")
    val approx = IndexQueries.queries("g9_varc")(spark, sfDir)
      .select("qset_id", "dset_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // oracle: same ragged rerank over ALL data sets (full scan)
    val emb = Tables.embeddings(spark, sfDir)
    val allCands = varcSets.select("qset_id").distinct()
      .crossJoin(emb.select(col("vec_id").as("d_id")))
    val oracle = graft.operators.Rerank.chamferTopKVarc(emb, varcSets,
        allCands, VectorQueries.C, VectorQueries.K)
      .select("qset_id", "dset_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(approx.keySet === oracle.keySet)
    val recalls = oracle.map { case (q, gt) =>
      approx(q).intersect(gt).size.toDouble / gt.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.95, s"g9_varc Recall@10 = $avg (per-set: $recalls)")
  }

  test("persisted sharded tier holds at most ONE shard resident end-to-end") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val path = TempDir("graft_sharded_lifecycle_")
    ShardedIndex.resetResidencyTracking()
    val ref = ShardedIndex.buildPersisted(spark, emb,
      IndexQueries.FixtureParams, nShards = 3, path)
    // every shard landed on disk (graph sidecar + vectors parquet) ...
    (0 until 3).foreach { s =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$path/shard$s/graph/meta.json")))
      assert(spark.read.parquet(s"$path/shard$s/vectors").count() > 0)
    }
    // ... the descriptor is data-free, and search loads one shard at a time
    val querySets = emb.filter(col("vec_id") < 5 * VectorQueries.C).select(
      (col("vec_id") / VectorQueries.C).cast("long").as("qset_id"),
      (col("vec_id") % VectorQueries.C).cast("int").as("q_sub"),
      col("embedding").as("q_vec"))
    val cands = ShardedIndex.searchMultiDf(spark, querySets, ref,
      minPq = 10, maxPq = 200, budget = 120, adaptive = true)
    val n = emb.count()
    val ids = cands.select("d_id").as[Long].collect()
    assert(ids.nonEmpty && ids.forall(id => id >= 0 && id < n),
      "sharded candidates must map back into the global id space")
    assert(ShardedIndex.peakResidentShards === 1,
      s"peak resident shards = ${ShardedIndex.peakResidentShards}, want 1 " +
        "(build or search kept more than one shard's broadcasts alive)")
  }

  test("resident-shard cache: peak <= conf, re-search does zero new loads") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val path = TempDir("graft_sharded_cache_")
    val conf = "spark.graft.index.residentShards"
    spark.conf.set(conf, "2")
    try {
      ShardedIndex.resetResidencyTracking()
      val ref = ShardedIndex.buildPersisted(spark, emb,
        IndexQueries.FixtureParams, nShards = 2, path)
      val querySets = emb.filter(col("vec_id") < 5 * VectorQueries.C).select(
        (col("vec_id") / VectorQueries.C).cast("long").as("qset_id"),
        (col("vec_id") % VectorQueries.C).cast("int").as("q_sub"),
        col("embedding").as("q_vec"))
      def run(): Long = ShardedIndex.searchMultiDf(spark, querySets, ref,
        minPq = 10, maxPq = 200, budget = 120, adaptive = true).count()
      val first = run()
      val loadsAfterFirst = ShardedIndex.shardLoadCount
      // both shards fit the conf: the SECOND search must be all cache hits
      val second = run()
      assert(second === first)
      assert(ShardedIndex.shardLoadCount === loadsAfterFirst,
        "re-search over resident shards reloaded from disk")
      assert(ShardedIndex.peakResidentShards <= 2,
        s"peak resident shards = ${ShardedIndex.peakResidentShards}, " +
          "want <= conf (2)")
    } finally {
      spark.conf.set(conf, "1")
      ShardedIndex.resetResidencyTracking()
    }
  }

  test("sharded delta-ingest: base untouched, grown search finds deltas, compact folds back") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val path = TempDir("graft_sharded_delta_")
    ShardedIndex.resetResidencyTracking()
    val ref0 = ShardedIndex.buildPersisted(spark, base,
      IndexQueries.FixtureParams, nShards = 2, path)

    // byte-level snapshot of the resident base shards: append must not
    // read-modify-write ANY base file
    def baseSnapshot(): Seq[(String, Long, Long)] = {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      (0 until 2).flatMap { s =>
        val root = Paths.get(s"$path/shard$s")
        Files.walk(root).iterator().asScala
          .filter(p => Files.isRegularFile(p))
          .map(p => (s"shard$s/" + root.relativize(p).toString, Files.size(p),
            Files.getLastModifiedTime(p).toMillis)).toSeq
      }.sortBy(_._1)
    }
    val before = baseSnapshot()
    val ref = ShardedIndex.appendDelta(spark, delta, ref0,
      IndexQueries.FixtureParams)
    assert(ref.nDeltas === 1)
    assert(baseSnapshot() === before, "append touched resident base shards")

    val q = emb.filter(col("vec_id") % 25 === 0) // 20 queries across base+delta
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // exhaustive ground truth over the GROWN corpus
    val vecsB = spark.sparkContext.broadcast(
      VectorStore.fromDf(emb, "vec_id", "embedding", Metrics("cosine")))
    val exact = GraphBuild.exactKnn(spark, q, 10, vecsB, "cosine",
      excludeSelf = false).as[(Long, Seq[Long])].collect().toMap

    def recallOf(r: ShardedIndexRef): Double = {
      val approx = ShardedIndex.searchSingleDf(spark, q, r, l = 60, k = 10)
        .collect().map(row => (row.getLong(0), row.getLong(1), row.getDouble(2)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(-_._3).take(10).map(_._2).toSet).toMap
      exact.map { case (qid, gt) =>
        approx.getOrElse(qid, Set.empty[Long]).intersect(gt.toSet).size / 10.0
      }.sum / exact.size
    }
    val grown = recallOf(ref)
    assert(grown >= 0.9, s"grown-index Recall@10 = $grown")

    // every delta vector finds ITSELF (by global id) in the grown index
    val deltaQ = delta.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"))
    val selfHits = ShardedIndex.searchSingleDf(spark, deltaQ, ref, l = 60, k = 10)
      .filter(col("q_id") === col("d_id")).select("q_id").as[Long].collect().toSet
    val deltaIds = delta.select("vec_id").as[Long].collect().toSet
    assert(selfHits === deltaIds, s"missing self-hits: ${deltaIds -- selfHits}")

    // compact folds deltas back into the strided layout at the same path
    assert(ShardedIndex.deltaFraction(spark, ref) === 0.25)
    val ref2 = ShardedIndex.compact(spark, ref, IndexQueries.FixtureParams)
    assert(ref2.nDeltas === 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/delta0")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/compact_staging")))
    val compacted = recallOf(ref2)
    assert(compacted >= 0.9, s"compacted-index Recall@10 = $compacted")
    // below-threshold deltas stay: maybeCompact is a no-op at frac 0
    assert(ShardedIndex.maybeCompact(spark, ref2,
      IndexQueries.FixtureParams) === ref2)
    // a REGISTRATION that outlived the compaction holds the stale
    // pre-compact ref (nDeltas=1); discovery must follow the DISK down
    // to 0 — resurrecting the deleted delta dirs would fail every
    // subsequent query on that registration
    val rediscovered = ShardedIndex.discover(spark, ref)
    assert(rediscovered.nDeltas === 0,
      s"discover resurrected deleted deltas: ${rediscovered.nDeltas}")
    assert(ShardedIndex.totalRowsCached(spark, rediscovered) === 500L)
    val staleServed = recallOf(rediscovered)
    assert(staleServed >= 0.9,
      s"stale-ref post-compact Recall@10 = $staleServed")
  }

  test("sharded deletion: tombstoned ids vanish from results; compact zeroes their payload") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val path = TempDir("graft_sharded_del_")
    ShardedIndex.resetResidencyTracking()
    val ref0 = ShardedIndex.buildPersisted(spark, base,
      IndexQueries.FixtureParams, nShards = 2, path)
    val ref = ShardedIndex.appendDelta(spark, delta, ref0,
      IndexQueries.FixtureParams)
    val victims = Seq(7L, 123L, 450L) // two base gids + one delta gid
    val q = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // exhaustive ground truth with victim headroom: survivor top-10 =
    // exact top-13 minus the victims, truncated
    val vecsB = spark.sparkContext.broadcast(
      VectorStore.fromDf(emb, "vec_id", "embedding", Metrics("cosine")))
    val exact = GraphBuild.exactKnn(spark, q, 13, vecsB, "cosine",
      excludeSelf = false).as[(Long, Seq[Long])].collect().toMap
    def top10(r: ShardedIndexRef): Map[Long, Seq[Long]] =
      ShardedIndex.searchSingleDf(spark, q, r, l = 600, k = 16)
        .collect().map(row => (row.getLong(0), row.getLong(1), row.getDouble(2)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(t => (-t._3, t._2)).take(10).map(_._2).toSeq)
        .toMap
    // saturating budget pre-delete: the tier is EXACT on this fixture
    assert(top10(ref) === exact.map { case (k2, v) => k2 -> v.take(10) },
      "fixture not exact at saturating budget — deletion oracle invalid")
    assert(ShardedIndex.deleteFromIndex(spark, path, victims) === 3L)
    assert(ShardedIndex.deleteFromIndex(spark, path, victims) === 0L) // replay
    // out-of-range ids (a bogus feed) are IGNORED: they must not
    // inflate the tombstone set, audit counts, or the purge trigger
    assert(ShardedIndex.deleteFromIndex(spark, path,
      Seq(99999L, -3L)) === 0L)
    val survivorTruth = exact.map { case (qid, gt) =>
      qid -> gt.filterNot(victims.contains).take(10)
    }
    assert(top10(ref) === survivorTruth,
      "post-delete results are not the exact survivor top-10")
    // a victim as a QUERY still gets answers — deletion hides docs,
    // never queriers
    val vq = emb.filter(col("vec_id") === 7L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    assert(ShardedIndex.searchSingleDf(spark, vq, ref, l = 60, k = 5)
      .count() > 0)
    assert(ShardedIndex.deletedFraction(spark, ref) > 0.0)
    // compact: deltas folded AND victim payloads physically zeroed;
    // the erased ids RETIRE from the per-query mask (full purge =
    // `_tombstones` dropped) into the per-shard `dead` sidecars the
    // kernels filter at emission; serving unchanged
    val ref2 = ShardedIndex.compact(spark, ref, IndexQueries.FixtureParams)
    assert(ref2.nDeltas === 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/_tombstones")),
      "fully-erased tombstones were not retired from the mask")
    assert((0 until 2).exists(s => java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/shard$s/dead/_SUCCESS"))),
      "compact wrote no dead sidecar for the erased ids")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/compact_tombstones_keep")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/compact_staging_tomb")),
      "erased-set snapshot leaked past the compact")
    val zeroed = (0 until 2).flatMap { s =>
      spark.read.parquet(s"$path/shard$s/vectors")
        .select((col("vec_id") * 2 + s).as("gid"), col("embedding"))
        .filter(col("gid").isInCollection(victims))
        .as[(Long, Seq[Float])].collect()
    }
    assert(zeroed.map(_._1).toSet === victims.toSet,
      "victim id slots missing from the compacted layout")
    assert(zeroed.forall(_._2.forall(_ == 0.0f)),
      "victim embedding payload survived the compact erase")
    assert(top10(ref2) === survivorTruth,
      "compaction changed the survivor results")
    // the purge made deletedFraction count only FUTURE deletions —
    // erased ids left `_tombstones` entirely, so the raw count is the
    // trigger and the mask stays bounded by un-erased deletions
    assert(ShardedIndex.deletedFraction(spark, ref2) === 0.0,
      "erased tombstones still count toward the purge trigger")
    // deletion keeps working post-compact
    assert(ShardedIndex.deleteFromIndex(spark, path, Seq(9L)) === 1L)
    assert(ShardedIndex.deletedFraction(spark, ref2) > 0.0)
    // ...and the deleted-fraction trigger purges it
    val ref2b = ShardedIndex.maybeCompact(spark, ref2,
      IndexQueries.FixtureParams, maxDeletedFrac = 0.0001)
    assert(ShardedIndex.deletedFraction(spark, ref2b) === 0.0,
      "maybeCompact did not purge on the deleted-fraction trigger")
    assert(top10(ref2) === exact.map { case (qid, gt) =>
      qid -> gt.filterNot((victims :+ 9L).contains).take(10)
    }, "post-compact delete did not mask")
    // crash window: a FIRST delete that died before its job committed
    // leaves an uncommitted dir (only _temporary) — reads must treat it
    // as "no tombstones", not fail; a re-run delete then commits
    val path2 = TempDir("graft_sharded_del2_")
    val ref3 = ShardedIndex.buildPersisted(spark,
      emb.filter(col("vec_id") < 100), IndexQueries.FixtureParams, 2, path2)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$path2/_tombstones/_temporary"))
    assert(ShardedIndex.searchSingleDf(spark, vq, ref3, l = 60, k = 5)
      .count() > 0, "uncommitted tombstone dir broke the search")
    assert(ShardedIndex.deleteFromIndex(spark, path2, Seq(7L)) === 1L)
    assert(ShardedIndex.searchSingleDf(spark, vq, ref3, l = 600, k = 16)
      .filter(col("d_id") === 7L).count() === 0L)
  }

  test("compact crash recovery: resume from the staged corpus, no delta loss") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val path = TempDir("graft_compact_crash_")
    val ref0 = ShardedIndex.buildPersisted(spark, base,
      IndexQueries.FixtureParams, nShards = 2, path)
    ShardedIndex.appendDelta(spark, delta, ref0, IndexQueries.FixtureParams)
    val victims = Seq(11L, 410L)
    assert(ShardedIndex.deleteFromIndex(spark, path, victims) === 2L)
    // Construct the EXACT state a compact() crash mid-rebuild leaves:
    // erased-set snapshot and staged (zeroed) union committed, delta
    // dirs already dropped (buildPersistedImpl deletes them at rebuild
    // ENTRY), one base shard partially overwritten by the rebuild. The
    // staging is the only complete copy of the corpus at this point —
    // a recovery that re-derived the union from the shard dirs would
    // lose the 50 delta rows and overwrite the staging with the damage.
    victims.toDF("gid").coalesce(1).write.mode("overwrite")
      .parquet(s"$path/compact_staging_tomb")
    emb.filter(col("vec_id") < 450).select(col("vec_id"),
        when(col("vec_id").isInCollection(victims),
          transform(col("embedding"), _ => lit(0.0f)))
          .otherwise(col("embedding")).as("embedding"))
      .write.mode("overwrite").parquet(s"$path/compact_staging")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/delta0"), true)
    emb.filter(col("vec_id") < 20) // garbage partial shard
      .select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$path/shard0/vectors")
    ShardedIndex.resetResidencyTracking()
    // recovery = re-running compact with the disk-discovered ref
    val rec = ShardedIndex.compact(spark,
      ShardedIndex.discover(spark,
        ShardedIndexRef(path, 2, IndexQueries.FixtureParams.metric)),
      IndexQueries.FixtureParams)
    assert(rec.nDeltas === 0)
    assert(ShardedIndex.totalRows(spark, rec) === 450L,
      "recovery lost corpus rows (delta rows gone or shard truncated)")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/compact_staging")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/compact_staging_tomb")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/_tombstones")),
      "recovered compact did not retire the erased ids")
    // survivors exact at saturating budget; victims invisible
    val q = emb.filter(col("vec_id") % 100 === 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val vecsB = spark.sparkContext.broadcast(VectorStore.fromDf(
      emb.filter(col("vec_id") < 450), "vec_id", "embedding",
      Metrics("cosine")))
    val exact = GraphBuild.exactKnn(spark, q, 12, vecsB, "cosine",
      excludeSelf = false).as[(Long, Seq[Long])].collect().toMap
    val got = ShardedIndex.searchSingleDf(spark, q, rec, l = 600, k = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (-t._3, t._2)).take(10).map(_._2).toSeq)
      .toMap
    vecsB.destroy()
    assert(got === exact.map { case (qid, gt) =>
      qid -> gt.filterNot(victims.contains).take(10)
    }, "recovered index is not exact over the survivors")
  }

  test("dead-filter emission == unfiltered search minus dead ids, any budget") {
    // The kernels' deadB contract: traversal is UNTOUCHED (dead nodes
    // route and occupy beam slots exactly like live ones), only result
    // EMISSION skips them — so at ANY budget the filtered output must
    // equal the unfiltered full-beam output with dead ids dropped,
    // survivors re-ranked, and the top k kept. Bitwise sims: same
    // kernel, same traversal.
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val idx = GraphBuild.build(spark, emb, emb, IndexQueries.FixtureParams)
    val gB = spark.sparkContext.broadcast(idx.graph)
    val vB = spark.sparkContext.broadcast(idx.vecs)
    val dead = new java.util.BitSet(300)
    (0 until 300 by 7).foreach(dead.set)
    val deadB = spark.sparkContext.broadcast(dead)
    val q = emb.filter(col("vec_id") % 31 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val k = 10
    for (l <- Seq(30, 600)) { // production and saturating budgets
      val filtered = BeamSearch
        .searchSingleDf(spark, q, gB, vB, "cosine", l, k, deadB)
        .select(col("q_id"), col("rank"), col("d_id"), col("sim"))
        .as[(Long, Int, Long, Double)].collect().toSet
      val manual = BeamSearch
        .searchSingleDf(spark, q, gB, vB, "cosine", l, k = l)
        .select(col("q_id"), col("rank"), col("d_id"), col("sim"))
        .as[(Long, Int, Long, Double)].collect()
        .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
          rows.sortBy(_._2).filterNot(r => dead.get(r._3.toInt)).take(k)
            .zipWithIndex.map { case (r, i) => (qid, i + 1, r._3, r._4) }
        }.toSet
      assert(filtered === manual, s"dead-filter semantics diverged at l=$l")
      assert(filtered.exists(_ != null) &&
        filtered.forall { case (_, _, d, _) => !dead.get(d.toInt) })
    }
    // multivector twin: emitted beam contents minus dead ids
    val qs = emb.filter(col("vec_id") < 8).select(
      (col("vec_id") / 4).cast("long").as("qset_id"),
      (col("vec_id") % 4).cast("int").as("q_sub"),
      col("embedding").as("q_vec"))
    val mvF = BeamSearch.searchMultiDf(spark, qs, gB, vB, "cosine",
        minPq = 10, maxPq = 200, budget = 120, adaptive = true, deadB)
      .select(col("qset_id"), col("q_sub"), col("d_id"))
      .as[(Long, Int, Long)].collect().toSet
    val mvU = BeamSearch.searchMultiDf(spark, qs, gB, vB, "cosine",
        minPq = 10, maxPq = 200, budget = 120, adaptive = true)
      .select(col("qset_id"), col("q_sub"), col("d_id"))
      .as[(Long, Int, Long)].collect()
      .filterNot(r => dead.get(r._3.toInt)).toSet
    assert(mvF === mvU, "mv dead-filter diverged from manual filtering")
    gB.destroy(); vB.destroy(); deadB.destroy()
  }

  test("deleted-fraction recall: post-compact holds the fresh-rebuild bound") {
    // The deletion certificates run at SATURATING budgets, where graph
    // navigability cannot fail — this is the production-budget gate:
    // at 30% deleted, the compacted index (zeroed routing stubs, dead
    // sidecar filtering) must recall within ε of a from-scratch
    // rebuild over the survivors, and must not droop below the
    // broadcast tier's own bar. The full curve (10/30/50%, three
    // stages, 20k rows) is SWEEP_DELETION.tsv.
    val rows = graft.tools.LifecycleSweep.deletion(spark, sfDir,
      fractions = Seq(0.3), budgets = Seq(60),
      IndexQueries.FixtureParams, nShards = 2)
    val byStage = rows.map { case (_, st, _, r, _) => st -> r }.toMap
    assert(byStage.keySet === Set("pre_compact", "post_compact",
      "fresh_rebuild"))
    val eps = 0.05
    assert(byStage("post_compact") >= byStage("fresh_rebuild") - eps,
      s"post-compact recall ${byStage("post_compact")} fell more than " +
        s"$eps under the fresh-rebuild bound ${byStage("fresh_rebuild")}")
    assert(byStage("post_compact") >= 0.9,
      s"post-compact recall ${byStage("post_compact")} under the 0.9 bar")
    assert(byStage("pre_compact") >= 0.85,
      s"pre-compact recall ${byStage("pre_compact")} under the 0.85 bar")
  }

  test("skewed deletion: hot-shard recall recovers post-compact to the fresh-rebuild bound") {
    // The skewed-takedown posture (SWEEP_DELETION_SKEW.tsv at 10×/100×):
    // with 80% of ONE shard deleted, the hot shard's pre-compact recall
    // collapses (dead stubs crowd its beams) while the GLOBAL recall
    // and deleted fraction both look healthy — the measured motivation
    // for maybeCompact's per-shard trigger. Post-compact, the hot
    // shard must recover to within ε of the fresh-rebuild bound.
    val rows = graft.tools.LifecycleSweep.deletionSkew(spark, sfDir,
      hotFractions = Seq(0.8), budgets = Seq(60),
      IndexQueries.FixtureParams, nShards = 2)
    val byStage = rows.map { case (_, _, st, _, r, rh, _) =>
      st -> (r, rh) }.toMap
    assert(byStage.keySet === Set("pre_compact", "post_compact",
      "fresh_rebuild"))
    val eps = 0.05
    assert(byStage("post_compact")._2 >= byStage("fresh_rebuild")._2 - eps,
      s"post-compact hot-shard recall ${byStage("post_compact")._2} fell " +
        s"more than $eps under fresh-rebuild ${byStage("fresh_rebuild")._2}")
    assert(byStage("post_compact")._2 >= 0.9,
      s"post-compact hot-shard recall ${byStage("post_compact")._2} < 0.9")
    // the global fraction under-reports the skew by construction
    val globalFrac = rows.head._2
    assert(globalFrac <= 0.45, s"skew fixture global fraction $globalFrac")
  }

  test("autoShards, delta discovery, and the budget policy math") {
    import graft.index.BudgetPolicy
    // shard count holds SIZE fixed (the scale-with-corpus knob)
    assert(ShardedIndex.autoShards(2000, 25000) === 1)
    assert(ShardedIndex.autoShards(25000, 25000) === 1)
    assert(ShardedIndex.autoShards(25001, 25000) === 2)
    assert(ShardedIndex.autoShards(200000, 25000) === 8)

    // discovery: deltas appear from disk; a PARTIAL delta (no ids dir —
    // crash mid-append) is invisible, and a gap truncates the sequence
    val emb = Tables.embeddings(spark, sfDir)
    val path = TempDir("graft_discover_")
    val ref0 = ShardedIndex.buildPersisted(spark,
      emb.filter(col("vec_id") < 200), IndexQueries.FixtureParams,
      nShards = 1, path)
    assert(ShardedIndex.discover(spark, ref0).nDeltas === 0)
    val ref1 = ShardedIndex.appendDelta(spark,
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 300), ref0,
      IndexQueries.FixtureParams)
    // the caller's stale ref discovers the new delta from disk
    assert(ShardedIndex.discover(spark, ref0).nDeltas === 1)
    assert(ShardedIndex.totalRowsCached(spark,
      ShardedIndex.discover(spark, ref0)) === 300L)
    // a half-written delta1 (graph+vectors, no ids) must not serve
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$path/delta1/graph"))
    assert(ShardedIndex.discover(spark, ref0).nDeltas === 1)
    assert(ShardedIndex.discover(spark, ref1).nDeltas === 1)
    // and a crash MID-ids-write (dir created by the committer at job
    // setup, no committed files yet → no _SUCCESS) must not serve either
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$path/delta1/ids/_temporary"))
    assert(ShardedIndex.discover(spark, ref0).nDeltas === 1,
      "an uncommitted ids dir must read as an incomplete delta")

    // policy math: no growth / growth / ceiling / flat switch
    assert(BudgetPolicy.scaledL(spark, 60, 100.0, 100.0) === 60)
    assert(BudgetPolicy.scaledL(spark, 60, 100.0, 50.0) === 60,
      "a shrunk corpus must keep the registered budget")
    assert(BudgetPolicy.scaledL(spark, 60, 100.0, 250.0) === 150)
    assert(BudgetPolicy.scaledL(spark, 60, 1.0, 1e9) === 60 * 64,
      "maxScale ceiling must bound the growth ratio")
    spark.conf.set("spark.graft.ann.budget.policy", "flat")
    try assert(BudgetPolicy.scaledL(spark, 60, 100.0, 250.0) === 60)
    finally spark.conf.unset("spark.graft.ann.budget.policy")
  }

  test("flagship g9 routes through the sharded tier under the conf switch") {
    val conf = "spark.graft.index.shards"
    spark.conf.set(conf, "2")
    try {
      val sharded = IndexQueries.queries("g9_multivector_search")(spark, sfDir)
        .select("qset_id", "dset_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val explicit = IndexQueries.queries("g9_sharded")(spark, sfDir)
        .select("qset_id", "dset_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      assert(sharded === explicit,
        "conf-routed flagship disagrees with the explicit sharded query")
    } finally spark.conf.set(conf, "1")
  }

  test("parallel HNSW build is deterministic (two builds bit-identical)") {
    val a = Hnsw.buildParallel(index.vecs, "cosine")
    val b = Hnsw.buildParallel(index.vecs, "cosine")
    assert(a.entryPoint === b.entryPoint && a.maxLevel === b.maxLevel)
    assert(a.levels.toSeq === b.levels.toSeq)
    for (layer <- a.layers.indices; v <- a.layers(layer).indices)
      assert(java.util.Arrays.equals(a.layers(layer)(v), b.layers(layer)(v)),
        s"adjacency differs at layer $layer node $v")
  }

  test("HNSW baseline arm (parallel build) reaches >=0.9 Recall@10 vs exact kNN") {
    import spark.implicits._
    val vecsB = spark.sparkContext.broadcast(index.vecs)
    val hnswB = spark.sparkContext.broadcast(
      Hnsw.buildParallel(index.vecs, "cosine"))
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val hits = Hnsw.searchDf(spark, q, hnswB, vecsB, k = 10, ef = 60)
      .groupBy("q_id").agg(collect_set(col("d_id")).as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    val exact = GraphBuild.exactKnn(spark, q, 10, vecsB, "cosine",
        excludeSelf = false)
      .as[(Long, Seq[Long])].collect().toMap
    val recalls = exact.map { case (qid, gt) =>
      hits.get(qid).map(_.toSet.intersect(gt.toSet).size / 10.0).getOrElse(0.0)
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.9, s"HNSW Recall@10 = $avg")
  }

  test("HNSW delta-ingest: grown index >=0.9 recall, deterministic, base untouched") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val nTotal = emb.count().toInt
    val nBase = nTotal / 2
    val baseStore = VectorStore.fromDf(emb.filter(col("vec_id") < nBase),
      "vec_id", "embedding", Metrics("cosine"))
    val allStore = VectorStore.fromDf(emb, "vec_id", "embedding",
      Metrics("cosine"))
    val base = Hnsw.buildParallel(baseStore, "cosine")
    val grown = Hnsw.append(base, allStore)
    val grown2 = Hnsw.append(base, allStore)
    // determinism: two appends from the same base are bit-identical
    assert(grown.entryPoint === grown2.entryPoint &&
      grown.maxLevel === grown2.maxLevel)
    for (layer <- grown.layers.indices; v <- grown.layers(layer).indices)
      assert(java.util.Arrays.equals(grown.layers(layer)(v),
        grown2.layers(layer)(v)), s"append diverged at layer $layer node $v")
    // base untouched: its adjacency still equals a fresh base build
    val fresh = Hnsw.buildParallel(baseStore, "cosine")
    for (layer <- fresh.layers.indices; v <- fresh.layers(layer).indices)
      assert(java.util.Arrays.equals(base.layers(layer)(v),
        fresh.layers(layer)(v)), s"append mutated base layer $layer node $v")
    // grown index serves the whole corpus (delta ids reachable)
    val vecsB = spark.sparkContext.broadcast(allStore)
    val grownB = spark.sparkContext.broadcast(grown)
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val hits = Hnsw.searchDf(spark, q, grownB, vecsB, k = 10, ef = 60)
      .groupBy("q_id").agg(collect_set(col("d_id")).as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    val exact = GraphBuild.exactKnn(spark, q, 10, vecsB, "cosine",
        excludeSelf = false)
      .as[(Long, Seq[Long])].collect().toMap
    val recalls = exact.map { case (qid, gt) =>
      hits.get(qid).map(_.toSet.intersect(gt.toSet).size / 10.0).getOrElse(0.0)
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.9, s"grown-HNSW Recall@10 = $avg")
    assert(hits.values.exists(_.exists(_ >= nBase)),
      "no delta id ever surfaced — delta rows unreachable in the grown graph")
    // a too-small combined store is rejected loudly
    intercept[IllegalArgumentException] {
      Hnsw.append(grown, baseStore)
    }
    // a combined store whose first n rows are NOT the base-build corpus
    // (here: same rows, reordered) is rejected by the stored corpus
    // fingerprint — the reused adjacency would point at wrong vectors
    val reordered = VectorStore.fromDf(
      emb.select((lit(nTotal - 1) - col("vec_id")).as("vec_id"),
        col("embedding")), "vec_id", "embedding", Metrics("cosine"))
    intercept[IllegalArgumentException] {
      Hnsw.append(base, reordered)
    }
  }

  test("budget sweep: all arms' recall does not degrade as budget grows (M5)") {
    val rows = Sweep.run(spark, sfDir, Seq(40, 160))
    // 2 budgets x {roar, hnsw, pq, randproj, ivfpq, sharded, sq8, nsg,
    // mv_sharded}
    assert(rows.length === 18)
    // the NSG-interop arm searches the SAME graph after an NSG-byte
    // roundtrip through the shared kernel: rows must EQUAL roar's
    // recall bit-for-bit (the format boundary must not change search)
    for (b <- Seq(40, 160)) {
      val roar = rows.find(r => r._1 == "roar" && r._2 == b).get
      val nsg = rows.find(r => r._1 == "nsg" && r._2 == b).get
      assert(nsg._3 === roar._3 && nsg._4 === roar._4,
        s"NSG roundtrip arm diverged from roar at budget $b: $nsg vs $roar")
    }
    for (arm <- Seq("roar", "hnsw", "pq", "randproj", "ivfpq", "sharded",
        "sq8", "nsg", "mv_sharded")) {
      val armRows = rows.filter(_._1 == arm).sortBy(_._2)
      assert(armRows.length === 2, s"missing $arm rows: $rows")
      val lo = armRows.head._3
      val hi = armRows.last._3
      assert(hi >= lo - 0.05, s"$arm recall fell with budget: $rows")
      assert(hi >= 0.9, s"$arm recall at generous budget only $hi")
      // rderr (ComputeRderr twin) is reported beside recall: finite,
      // non-negative, and small once the budget is generous
      armRows.foreach { r =>
        assert(r._4 >= 0.0 && !r._4.isNaN && !r._4.isInfinite,
          s"$arm rderr malformed: $r")
      }
      assert(armRows.last._4 <= 0.05,
        s"$arm rel-dist-err at generous budget: ${armRows.last._4}")
      // rerank_frac (reference's rerank-time fraction): a true fraction of
      // a two-stage pipeline where both stages did real work
      armRows.foreach { r =>
        assert(r._7 > 0.0 && r._7 < 1.0, s"$arm rerank_frac out of (0,1): $r")
      }
    }
  }

  test("rderr matches the hand-computed ComputeRderr on a tiny fixture") {
    import spark.implicits._
    // gt dists per rank: q0 -> (1, 2, 4); result dists: (1.1, 2, 5)
    // rderr(q0) = (0.1/1 + 0 + 1/4) / 3 = 0.35/3
    val gt = Seq((0L, 1, 1.0), (0L, 2, 2.0), (0L, 3, 4.0))
      .toDF("query_id", "rank", "gt_dist")
    val res = Seq((0L, 1, 1.1), (0L, 2, 2.0), (0L, 3, 5.0))
      .toDF("query_id", "rank", "dist")
    val got = graft.operators.Recall.rderr(res, gt).collect()
    assert(got.length === 1)
    assert(math.abs(got(0).getDouble(1) - 0.35 / 3) < 1e-12)
    // zero-distance GT: exact hit contributes 0; miss row is dropped
    val gt0 = Seq((1L, 1, 0.0), (1L, 2, 2.0)).toDF("query_id", "rank", "gt_dist")
    val hit = Seq((1L, 1, 0.0), (1L, 2, 3.0)).toDF("query_id", "rank", "dist")
    val g0 = graft.operators.Recall.rderr(hit, gt0).collect()
    assert(math.abs(g0(0).getDouble(1) - 0.25) < 1e-12)
    val miss = Seq((1L, 1, 0.5), (1L, 2, 2.0)).toDF("query_id", "rank", "dist")
    val g1 = graft.operators.Recall.rderr(miss, gt0).collect()
    assert(math.abs(g1(0).getDouble(1) - 0.0) < 1e-12)
  }

  test("adaptive budget allocation spends within budget and varies sizes") {
    val vecs = index.vecs
    val metric = Metrics.Cosine
    val qs = Array(0, 7, 123, 400).map(vecs.vector)
    val pool = Array.fill(qs.length)(new VisitedSet(index.graph.n))
    val res = BeamSearch.searchMulti(index.graph, vecs, metric, qs,
      minPq = 5, maxPq = 100, budget = 60, adaptive = true, pool)
    val sizes = res.map(_._1.length)
    assert(sizes.sum <= 60 + 6, s"sizes $sizes blow the budget") // +grow slack
    assert(sizes.forall(_ >= 5))
    res.foreach { case (ids, dists, cmps, hops) =>
      assert(ids.length === dists.length)
      assert(cmps > 0 && hops > 0)
      // best-first ordering
      assert(dists.toSeq === dists.sorted.toSeq)
    }
  }

  test("ParquetMeta.rowsCached counts committed files only and tracks appends") {
    import graft.index.ParquetMeta
    import spark.implicits._
    val dir = "target/tmp/parquet_meta_count"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    (1 to 10).toDF("x").write.mode("overwrite").parquet(dir)
    assert(ParquetMeta.rowsCached(spark, dir) === 10L)
    // a committed append supersedes the cached signature in place
    (1 to 5).toDF("x").write.mode("append").parquet(dir)
    assert(ParquetMeta.rowsCached(spark, dir) === 15L)
    // an in-flight/aborted write leaves _temporary (and dot-named) work
    // files with no footer — the count must SKIP them, not crash on the
    // missing magic or include their rows. (Planted AFTER the Spark
    // writes: a live append job owns $dir/_temporary while running.)
    def plant(rel: String): Unit = {
      val f = new java.io.File(s"$dir/$rel")
      f.getParentFile.mkdirs()
      val w = new java.io.FileOutputStream(f)
      try w.write("not a parquet file".getBytes) finally w.close()
    }
    plant("_temporary/part-99999.snappy.parquet")
    plant(".staging/part-99998.snappy.parquet")
    assert(ParquetMeta.rowsCached(spark, dir) === 15L,
      "uncommitted work files must be invisible")
    assert(ParquetMeta.rowsCached(spark, "target/tmp/no_such_dir_xyz") === 0L)
  }

  test("dead sidecar: second purge merges via swap; crash states recover") {
    // After the first purge, the `dead` sidecar is the ONLY coverage for
    // previously erased ids (retired from `_tombstones`) — a second
    // purge must install the merged set via staging+rename, never an
    // in-place overwrite whose crash window would lose prior erased ids.
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 200)
    val path = TempDir("graft_dead_swap_")
    ShardedIndex.resetResidencyTracking()
    val ref = ShardedIndex.buildPersisted(spark, emb,
      IndexQueries.FixtureParams, nShards = 2, path)
    def deadGids(): Set[Long] = (0 until 2).flatMap { s =>
      val p = java.nio.file.Paths.get(s"$path/shard$s/dead/_SUCCESS")
      if (!java.nio.file.Files.exists(p)) Seq.empty[Long]
      else spark.read.parquet(s"$path/shard$s/dead")
        .select(col("vec_id") * 2 + s).as[Long].collect().toSeq
    }.toSet
    def leftovers(): Seq[String] = (0 until 2).flatMap { s =>
      Seq("dead__compact_old", "dead__compact_staging").filter(d =>
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$path/shard$s/$d")))
    }
    // purge 1 erases {7, 12}; purge 2 erases {33} — the sidecars must
    // hold the UNION afterwards, with no swap debris
    assert(ShardedIndex.deleteFromIndex(spark, path, Seq(7L, 12L)) === 2L)
    val ref1 = ShardedIndex.compact(spark, ref, IndexQueries.FixtureParams)
    assert(deadGids() === Set(7L, 12L))
    assert(ShardedIndex.deleteFromIndex(spark, path, Seq(33L)) === 1L)
    ShardedIndex.compact(spark, ref1, IndexQueries.FixtureParams)
    assert(deadGids() === Set(7L, 12L, 33L),
      "second purge lost prior erased ids from the sidecar")
    assert(leftovers().isEmpty, s"swap debris survived: ${leftovers()}")
    // all three stay invisible with the mask fully retired
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/_tombstones")))
    val q = emb.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val served = ShardedIndex.searchSingleDf(spark, q, ref1, l = 600, k = 16)
      .select("d_id").as[Long].collect().toSet
    assert(Set(7L, 12L, 33L).forall(!served.contains(_)),
      "erased id resurfaced after the second purge")

    // crash state (a): live parked aside, committed staging (superset)
    // present — the next read must promote the STAGING, not the parked
    // old set, and clear both swap dirs
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sd = s"$path/shard0"
    val withExtra = spark.read.parquet(s"$sd/dead")
      .select(col("vec_id")).as[Long].collect().toSet + 40L // gid 80
    withExtra.toSeq.sorted.toDF("vec_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$sd/dead__compact_staging")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$sd/dead"),
      new org.apache.hadoop.fs.Path(s"$sd/dead__compact_old")))
    ShardedIndex.resetResidencyTracking() // force a cold shard load
    val served2 = ShardedIndex.searchSingleDf(spark, q, ref1, l = 600, k = 16)
      .select("d_id").as[Long].collect().toSet
    assert(!served2.contains(80L),
      "crash recovery restored the parked old set over the newer staging")
    assert(Set(7L, 12L, 33L).forall(!served2.contains(_)))
    assert(leftovers().isEmpty, s"crash recovery left debris: ${leftovers()}")
    assert(deadGids() === Set(7L, 12L, 33L, 80L))

    // crash state (b): UNCOMMITTED staging beside an intact live dir —
    // live wins, debris cleared
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$sd/dead__compact_staging/_temporary"))
    ShardedIndex.resetResidencyTracking()
    val served3 = ShardedIndex.searchSingleDf(spark, q, ref1, l = 600, k = 16)
      .select("d_id").as[Long].collect().toSet
    assert(!served3.contains(80L) && !served3.contains(7L))
    assert(leftovers().isEmpty)
  }

  test("appendDelta fails loudly on a stranded committed compact_staging") {
    // A committed compact_staging means a crashed compact(): its
    // recovery rebuild deletes every delta dir at entry, so an append
    // landing in the window would be silently discarded — the guard
    // must refuse instead.
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") < 100)
    val path = TempDir("graft_append_guard_")
    val ref = ShardedIndex.buildPersisted(spark, base,
      IndexQueries.FixtureParams, nShards = 2, path)
    base.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$path/compact_staging")
    val delta = emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    val e = intercept[IllegalArgumentException] {
      ShardedIndex.appendDelta(spark, delta, ref, IndexQueries.FixtureParams)
    }
    assert(e.getMessage.contains("compact_staging"))
    // finishing the recovery (re-running compact) unblocks the append
    val rec = ShardedIndex.compact(spark, ref, IndexQueries.FixtureParams)
    val grown = ShardedIndex.appendDelta(spark, delta, rec,
      IndexQueries.FixtureParams)
    assert(grown.nDeltas === 1)
    assert(ShardedIndex.totalRows(spark, grown) === 150L)
  }

  test("compact early return clears a stranded erased-set snapshot") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
    val path = TempDir("graft_snap_clear_")
    val ref = ShardedIndex.buildPersisted(spark, emb,
      IndexQueries.FixtureParams, nShards = 2, path)
    // the state a crash between compact's two trailing deleteDirs
    // leaves: staging gone, snapshot still committed
    Seq(3L).toDF("gid").coalesce(1).write.mode("overwrite")
      .parquet(s"$path/compact_staging_tomb")
    assert(ShardedIndex.compact(spark, ref,
      IndexQueries.FixtureParams) === ref) // nothing to fold or purge
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/compact_staging_tomb")),
      "stranded snapshot survived the early return")
  }

  test("per-shard deleted fraction exposes a skewed takedown wave") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 200)
    val path = TempDir("graft_skew_frac_")
    ShardedIndex.resetResidencyTracking()
    val ref = ShardedIndex.buildPersisted(spark, emb,
      IndexQueries.FixtureParams, nShards = 4, path)
    // strided layout: shard = gid % 4 — delete 60% of shard 1's rows
    // (30 of 50), which is only 15% of the corpus
    val victims = (0L until 200L).filter(_ % 4 == 1).take(30)
    assert(ShardedIndex.deleteFromIndex(spark, path, victims) === 30L)
    val global = ShardedIndex.deletedFraction(spark, ref)
    assert(global === 0.15, s"global fraction $global")
    val perShard = ShardedIndex.maxShardDeletedFraction(spark, ref)
    assert(perShard === 0.6, s"per-shard max $perShard")
    // the global trigger alone would sleep through this; the per-shard
    // trigger purges the poisoned shard
    val r2 = ShardedIndex.maybeCompact(spark, ref, IndexQueries.FixtureParams,
      maxDeltaFrac = 0.2, maxDeletedFrac = 0.2, maxShardDeletedFrac = 1.0)
    assert(r2 === ref, "global trigger fired below threshold")
    val r3 = ShardedIndex.maybeCompact(spark, ref, IndexQueries.FixtureParams)
    assert(ShardedIndex.deletedFraction(spark, r3) === 0.0,
      "per-shard trigger did not purge the poisoned shard")
    assert(ShardedIndex.maxShardDeletedFraction(spark, r3) === 0.0)

    // delta dirs are their own unit: deletions landing in a delta's gid
    // range count against THAT delta's rows
    val delta = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= 200 && col("vec_id") < 240)
    val grown = ShardedIndex.appendDelta(spark, delta, r3,
      IndexQueries.FixtureParams)
    assert(ShardedIndex.deleteFromIndex(spark, path,
      (200L until 220L)) === 20L)
    val fr = ShardedIndex.maxShardDeletedFraction(spark, grown)
    assert(fr === 0.5, s"delta-range fraction $fr (20 of 40 delta rows)")
  }
}
