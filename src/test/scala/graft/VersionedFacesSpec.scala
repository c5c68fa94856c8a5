package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfAnn, IvfPq, MinHashLsh, PqAnn, SemDedup, Sq8Ann}
import graft.queries.TextQueries

/** Serve-through-compaction on the four faces the round-14 generation
  * layer did NOT cover: the compressed serving tiers (IVF-PQ codes,
  * SQ8 codes+bounds) and the incremental dedup indexes (MinHash band
  * keys, SemDeDup cells). Each test drives the [[graft.index
  * .Generations]]-backed lifecycle — build → append → takedown →
  * concurrent reader THROUGH a compactVersioned → grace → maintenance
  * trigger — in the GenerationSpec pattern: a reader that resolved the
  * pre-flip manifest answers identically before, during, and after the
  * flip, and the published successor serves the same survivors with
  * the tombstones physically retired. */
class VersionedFacesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Run `read` on a worker thread 3× while `flip` runs to completion
    * on the caller's thread; fail on any reader error or divergence
    * from `before`. */
  private def serveThrough[T](before: T, read: () => T)(flip: => Unit): Unit = {
    val results = new java.util.concurrent.ConcurrentLinkedQueue[T]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reader = new Thread(() =>
      try (1 to 3).foreach(_ => results.add(read()))
      catch { case t: Throwable => errors.add(t) })
    reader.start()
    flip
    reader.join(300000)
    assert(errors.isEmpty, s"concurrent reader failed: ${errors.peek()}")
    results.forEach(r => assert(r === before,
      "concurrent reader diverged mid-compaction"))
  }

  test("IVF-PQ face: a pre-compact reader serves through a concurrent compaction") {
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val d = emb.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val centroids = IvfAnn.seededCentroids(d, 8)
    val cbs = PqAnn.seededCodebooks(d, nSub = 8, ncode = 16)
    val root = TempDir("graft_ver_ivfpq_")
    IvfPq.buildVersioned(spark, d.filter(col("d_id") < 250), root,
      centroids, cbs, seeded = true)
    IvfPq.appendVersioned(spark, d.filter(col("d_id") >= 250), root,
      centroids, cbs, seeded = true)
    val victims = Seq(5L, 260L) // one base id, one delta id
    assert(IvfPq.deleteVersioned(spark, root, victims) === 2L)

    val q = emb.filter(col("vec_id") % 30 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // nProbe = all cells, nCand ≥ corpus: the probe saturates, so the
    // reranked answer is the exact deterministic survivor ranking
    def top10(dir: String): Map[Long, Seq[Long]] =
      IvfPq.knnSeededOverIndex(spark, q, dir, d, centroids, cbs,
          k = 10, nProbe = 8, nCand = 400)
        .select("q_id", "d_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

    val pre = IvfPq.resolveVersioned(spark, root)
    assert(pre === s"$root/gen0")
    val before = top10(pre)
    assert(before.values.flatten.forall(id => !victims.contains(id)),
      "mask did not hide the victims pre-compact")
    serveThrough(before, () => top10(pre)) {
      assert(IvfPq.compactVersioned(spark, root) === s"$root/gen1")
    }
    // grace: the pre-flip snapshot still answers; the successor serves
    // the same survivors with the rows physically erased
    assert(top10(pre) === before, "grace generation broke post-flip")
    val live = IvfPq.resolveVersioned(spark, root)
    assert(live === s"$root/gen1")
    assert(top10(live) === before, "compaction changed survivor results")
    assert(spark.read.parquet(live)
      .filter(col("d_id").isin(victims.map(Long.box): _*)).count() === 0L)
    assert(IvfPq.deletedFractionVersioned(spark, root) === 0.0,
      "deletion trigger did not re-arm after the fold")
    // maintenance trigger: quiet below threshold, fires above
    assert(IvfPq.deleteVersioned(spark, root, Seq(7L)) === 1L)
    val expected = top10(live)
    assert(IvfPq.maybeCompactVersioned(spark, root) === live,
      "trigger fired below every threshold")
    assert(IvfPq.maybeCompactVersioned(spark, root,
      maxDeletedFrac = 0.001) === s"$root/gen2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/gen0")),
      "out-of-grace generation was not retired")
    val after = top10(IvfPq.resolveVersioned(spark, root))
    assert(after === expected,
      "second-generation erasure diverged from mask semantics")
    assert(after.values.flatten.forall(_ != 7L))
  }

  test("SQ8 face: a pre-compact reader serves through a concurrent compaction") {
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val d = emb.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val root = TempDir("graft_ver_sq8_")
    // bounds train on the BASE batch only; appends clamp to them
    Sq8Ann.buildVersioned(spark, d.filter(col("d_id") < 250), root)
    Sq8Ann.appendVersioned(spark, root, d.filter(col("d_id") >= 250))
    val victims = Seq(5L, 260L)
    assert(Sq8Ann.deleteVersioned(spark, root, victims) === 2L)

    val q = emb.filter(col("vec_id") % 30 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // nCand ≥ corpus: the coarse scan saturates → exact survivor top-k
    def top10(dir: String): Map[Long, Seq[Long]] = {
      val (codes, bounds) = Sq8Ann.loadIndex(spark, dir)
      Sq8Ann.searchEncoded(q, codes, d, bounds, k = 10, nCand = 400)
        .select("q_id", "d_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    }

    val pre = Sq8Ann.resolveVersioned(spark, root)
    assert(pre === s"$root/gen0")
    val before = top10(pre)
    assert(before.values.flatten.forall(id => !victims.contains(id)),
      "mask did not hide the victims pre-compact")
    serveThrough(before, () => top10(pre)) {
      assert(Sq8Ann.compactVersioned(spark, root) === s"$root/gen1")
    }
    assert(top10(pre) === before, "grace generation broke post-flip")
    val live = Sq8Ann.resolveVersioned(spark, root)
    assert(live === s"$root/gen1")
    assert(top10(live) === before, "compaction changed survivor results")
    assert(spark.read.parquet(s"$live/codes")
      .filter(col("d_id").isin(victims.map(Long.box): _*)).count() === 0L)
    assert(Sq8Ann.deletedFractionVersioned(spark, root) === 0.0,
      "deletion trigger did not re-arm after the fold")
    // the frozen bounds rode the fold verbatim (quantizer contract)
    val b0 = spark.read.parquet(s"$pre/bounds").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    val b1 = spark.read.parquet(s"$live/bounds").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(b0 === b1, "compaction re-trained the frozen bounds")
    assert(Sq8Ann.deleteVersioned(spark, root, Seq(7L)) === 1L)
    val expected = top10(live)
    assert(Sq8Ann.maybeCompactVersioned(spark, root) === live,
      "trigger fired below every threshold")
    assert(Sq8Ann.maybeCompactVersioned(spark, root,
      maxDeletedFrac = 0.001) === s"$root/gen2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/gen0")),
      "out-of-grace generation was not retired")
    assert(top10(Sq8Ann.resolveVersioned(spark, root)) === expected,
      "second-generation erasure diverged from mask semantics")
  }

  test("band-index face: incremental dedup probes serve through a concurrent compaction") {
    val docs = (1L to 60L).map(i =>
      (i, s"alpha beta gamma delta${i % 9} epsilon${i % 4} zeta eta " +
        s"theta${i % 9} iota kappa"))
      .toDF("doc_id", "text")
    val sh = TextQueries.shingleHashes(docs)
    val root = TempDir("graft_ver_band_")
    MinHashLsh.buildVersioned(
      MinHashLsh.bandKeys(sh.filter(col("doc_id") <= 40), 8, 2), root)
    MinHashLsh.appendVersioned(
      MinHashLsh.bandKeys(sh.filter(col("doc_id") > 40), 8, 2), root)
    val victims = Seq(3L, 45L)
    assert(MinHashLsh.deleteVersioned(spark, root, victims) === 2L)

    // the probe face: a NEW ingest wave's candidates against the
    // resident index (ids disjoint by the monotone contract)
    val batch = (1L to 60L).map(i => (i + 1000L,
      s"alpha beta gamma delta${i % 9} epsilon${i % 4} zeta eta " +
        s"theta${i % 9} iota kappa")).toDF("doc_id", "text")
    val batchKeys = MinHashLsh.bandKeys(
      TextQueries.shingleHashes(batch), 8, 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batchKeys.count()
    def pairs(dir: String): Set[(Long, Long, Long)] =
      MinHashLsh.incrementalPairs(
          MinHashLsh.readBandIndex(spark, dir), batchKeys)
        .as[(Long, Long, Long)].collect().toSet

    val pre = MinHashLsh.resolveVersioned(spark, root)
    assert(pre === s"$root/gen0")
    val before = pairs(pre)
    assert(before.nonEmpty)
    assert(!before.exists(p => victims.contains(p._1)),
      "a deleted resident doc still seeds candidate pairs")
    serveThrough(before, () => pairs(pre)) {
      assert(MinHashLsh.compactVersioned(spark, root) === s"$root/gen1")
    }
    assert(pairs(pre) === before, "grace generation broke post-flip")
    val live = MinHashLsh.resolveVersioned(spark, root)
    assert(live === s"$root/gen1")
    assert(pairs(live) === before, "compaction changed candidate pairs")
    assert(spark.read.parquet(live)
      .filter(col("doc_id").isin(victims.map(Long.box): _*))
      .count() === 0L)
    assert(MinHashLsh.deletedFractionVersioned(spark, root) === 0.0,
      "deletion trigger did not re-arm after the fold")
    // the gross watermark rode the fold (replay detection intact)
    assert(graft.operators.Watermark.read(spark, live, "doc_id")
      === Some(60L))
    assert(MinHashLsh.deleteVersioned(spark, root, Seq(7L)) === 1L)
    val expected = pairs(live)
    assert(MinHashLsh.maybeCompactVersioned(spark, root) === live,
      "trigger fired below every threshold")
    assert(MinHashLsh.maybeCompactVersioned(spark, root,
      maxDeletedFrac = 0.001) === s"$root/gen2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/gen0")),
      "out-of-grace generation was not retired")
    assert(pairs(MinHashLsh.resolveVersioned(spark, root)) === expected)
    batchKeys.unpersist(false)
  }

  test("commit protocols are serving-invisible: seqlog lifecycles equal their rename twins on the band and inverted faces") {
    // the committer is a [[graft.index.Generations]] property, so one
    // face proves the mechanism — but the claim the certificate makes
    // (g8_sql_versioned_seqlog, sharded face) is "every versioned face
    // serves identically through either protocol"; pin it on the two
    // cheapest additional faces: band keys (dedup) and postings (BM25)
    def withCommitter[T](mode: String)(body: => T): T = {
      val prev = spark.conf.getOption("spark.graft.gen.committer")
      spark.conf.set("spark.graft.gen.committer", mode)
      try body
      finally prev match {
        case Some(v) => spark.conf.set("spark.graft.gen.committer", v)
        case None => spark.conf.unset("spark.graft.gen.committer")
      }
    }
    def assertLog(root: String, seqlog: Boolean): Unit = {
      val stream = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      val buf = scala.collection.mutable.Buffer.empty[String]
      try {
        val names = stream.iterator()
        while (names.hasNext) buf += names.next().getFileName.toString
      } finally stream.close()
      assert(buf.exists(_.matches("MANIFEST\\.\\d{12}")) === seqlog,
        s"commit-log presence mismatch at $root: $buf")
      assert(buf.contains("MANIFEST") === !seqlog,
        s"legacy-pointer presence mismatch at $root: $buf")
    }

    // band face: build → append → takedown → fold, probed by an
    // incremental ingest wave
    val docs = (1L to 50L).map(i =>
      (i, s"alpha beta gamma delta${i % 7} epsilon${i % 3} zeta"))
      .toDF("doc_id", "text")
    val sh = TextQueries.shingleHashes(docs)
    val batchKeys = MinHashLsh.bandKeys(TextQueries.shingleHashes(
      (1L to 50L).map(i => (i + 1000L,
        s"alpha beta gamma delta${i % 7} epsilon${i % 3} zeta"))
        .toDF("doc_id", "text")), 8, 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batchKeys.count()
    def bandLifecycle(mode: String): Set[(Long, Long, Long)] =
      withCommitter(mode) {
        val root = TempDir(s"graft_proto_band_$mode")
        MinHashLsh.buildVersioned(
          MinHashLsh.bandKeys(sh.filter(col("doc_id") <= 35), 8, 2), root)
        MinHashLsh.appendVersioned(
          MinHashLsh.bandKeys(sh.filter(col("doc_id") > 35), 8, 2), root)
        assert(MinHashLsh.deleteVersioned(spark, root, Seq(3L, 40L)) === 2L)
        assert(MinHashLsh.compactVersioned(spark, root) === s"$root/gen1")
        assertLog(root, seqlog = mode == "seqlog")
        MinHashLsh.incrementalPairs(
            MinHashLsh.readBandIndex(spark,
              MinHashLsh.resolveVersioned(spark, root)), batchKeys)
          .as[(Long, Long, Long)].collect().toSet
      }
    val bandRename = bandLifecycle("rename")
    assert(bandRename.nonEmpty)
    assert(bandLifecycle("seqlog") === bandRename,
      "band-face results diverged between commit protocols")
    batchKeys.unpersist(false)

    // inverted face: the same BM25 lifecycle through both protocols
    val corpus = (1L to 40L).map(i =>
      (i, s"term${i % 7} term${i % 5} shared filler${i % 3}"))
      .toDF("doc_id", "text")
    def invLifecycle(mode: String): Seq[(Long, Double)] =
      withCommitter(mode) {
        val root = TempDir(s"graft_proto_inv_$mode")
        graft.operators.InvertedIndex.buildVersioned(spark, corpus, root)
        assert(graft.operators.InvertedIndex
          .deleteVersioned(spark, root, Seq(3L, 15L)) === 2L)
        val live = graft.operators.InvertedIndex.compactVersioned(spark, root)
        assert(live === s"$root/gen1")
        assertLog(root, seqlog = mode == "seqlog")
        graft.operators.InvertedIndex
          .bm25Query(spark, live, Seq("term1", "shared"), k = 15)
          .select(col("doc_id"), round(col("score"), 6).as("s"))
          .as[(Long, Double)].collect().toSeq.sortBy(t => (-t._2, t._1))
      }
    val invRename = invLifecycle("rename")
    assert(invRename.nonEmpty)
    assert(invLifecycle("seqlog") === invRename,
      "inverted-face BM25 diverged between commit protocols")
  }

  test("explicit committer parameter overrides the session conf on a face's build/compact") {
    // the r17-flagged pattern was a fixture toggling the SESSION-GLOBAL
    // spark.graft.gen.committer around a multi-step build; the faces
    // now take the protocol per call. Pin both directions: the param
    // selects seqlog while the conf sits at its rename default, and
    // selects rename while the conf says seqlog — the conf is only the
    // default, never an override.
    import spark.implicits._
    def names(root: String): Set[String] = {
      val d = java.nio.file.Paths.get(root)
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    val sh = TextQueries.shingleHashes((1L to 30L).map(i =>
      (i, s"alpha beta gamma delta${i % 5} eps${i % 3}"))
      .toDF("doc_id", "text"))
    // conf untouched (default rename); the param alone lands a CAS log
    val r1 = TempDir("graft_param_seqlog_")
    MinHashLsh.buildVersioned(MinHashLsh.bandKeys(sh, 8, 2), r1,
      committer = "seqlog")
    assert(MinHashLsh.compactVersioned(spark, r1, committer = "seqlog")
      === s"$r1/gen1")
    val n1 = names(r1)
    assert(n1.contains("MANIFEST.000000000001") &&
      n1.contains("MANIFEST.000000000002") && !n1.contains("MANIFEST"),
      s"explicit seqlog param did not commit through the CAS log: $n1")
    // conf says seqlog; the explicit rename param wins for this call
    val corpus = (1L to 20L).map(i => (i, s"t${i % 5} shared"))
      .toDF("doc_id", "text")
    spark.conf.set("spark.graft.gen.committer", "seqlog")
    try {
      val r2 = TempDir("graft_param_rename_")
      graft.operators.InvertedIndex.buildVersioned(spark, corpus, r2,
        committer = "rename")
      val n2 = names(r2)
      assert(n2.contains("MANIFEST") &&
        !n2.exists(_.matches("MANIFEST\\.\\d{12}")),
        s"explicit rename param did not flip the legacy pointer: $n2")
    } finally spark.conf.unset("spark.graft.gen.committer")
  }

  test("seqlog on a rename-free store: full lifecycles on the sharded and inverted faces never rename a root-level file") {
    // NonAtomicMockFs proves the GUARD trips on an unknown scheme; this
    // is the stronger claim — the whole g8_sql_versioned_seqlog shape
    // (build → append → takedown → compactVersioned → serve, plus a
    // second fold) runs to completion on a filesystem whose rename
    // THROWS for every root-level file (manifest, lock, lease). Only
    // the conditional put (exclusive create) and intra-generation
    // staging renames — which real object-store connectors do provide
    // — are available. Completion here is the proof that seqlog never
    // needs atomic rename, on any code path the lifecycle touches.
    import graft.index.ShardedIndex
    import graft.queries.IndexQueries
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.casonly.impl", classOf[CasOnlyMockFs].getName)
    // committer=seqlog travels PER CALL on every mutating face below —
    // the session conf stays at its "rename" default throughout. This
    // is the contract pin: the lease's store check derives from the
    // call's committer, so append/delete on a CAS-only store must work
    // without any session-global toggle (they used to fail at
    // requireAtomicStore unless the conf was also set, which this
    // test's earlier shape masked by setting it).
    spark.conf.set("spark.graft.gen.casSchemes", "casonly")
    try {
      // ----- sharded face: the g8 certificate shape -----
      val local = TempDir("graft_casonly_sharded_")
      val root = s"casonly://$local"
      val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
      ShardedIndex.resetResidencyTracking()
      ShardedIndex.buildVersioned(spark,
        emb.filter(col("vec_id") < 250), IndexQueries.FixtureParams,
        nShards = 2, root, committer = "seqlog")
      ShardedIndex.appendVersioned(spark,
        emb.filter(col("vec_id") >= 250), root, IndexQueries.FixtureParams,
        committer = "seqlog")
      val victims = Seq(5L, 260L)
      assert(ShardedIndex.deleteVersioned(spark, root, victims,
        committer = "seqlog") === 2L)
      val q = emb.filter(col("vec_id") % 30 === 1)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      def top10(): Map[Long, Seq[Long]] =
        ShardedIndex.searchSingleDf(spark, q,
            ShardedIndex.resolveVersioned(spark, root, "cosine"),
            l = 600, k = 16)
          .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
          .groupBy(_._1).view
          .mapValues(_.sortBy(t => (-t._3, t._2)).take(10).map(_._2).toSeq)
          .toMap
      val before = top10()
      assert(before.values.flatten.forall(d => !victims.contains(d)))
      val live = ShardedIndex.compactVersioned(spark, root,
        IndexQueries.FixtureParams, committer = "seqlog")
      assert(live.path === s"$root/gen1")
      assert(top10() === before, "the fold changed survivor results")
      // every flip landed as an immutable CAS append; no legacy pointer
      def names(): Set[String] = {
        val stream = java.nio.file.Files.list(
          java.nio.file.Paths.get(local))
        try {
          val b = scala.collection.mutable.Buffer.empty[String]
          val it = stream.iterator()
          while (it.hasNext) b += it.next().getFileName.toString
          b.toSet
        } finally stream.close()
      }
      assert(names().contains("MANIFEST.000000000002") &&
        !names().contains("MANIFEST"), s"log state: ${names()}")
      // a reader LEASE lands without rename too (direct conditional
      // put — the tmp+rename dance is the local-store variant)
      ShardedIndex.withReaderLease(spark, root, "cosine") { r =>
        assert(r.path === s"$root/gen1")
        assert(names().exists(_.startsWith("_reader.")),
          "no lease file landed on the casonly store")
      }
      // second fold (delete → compact) exercises retirement + the
      // history floor on the same rename-free store
      assert(ShardedIndex.deleteVersioned(spark, root, Seq(7L),
        committer = "seqlog") === 1L)
      val expected = top10()
      assert(ShardedIndex.maybeCompactVersioned(spark, root,
        IndexQueries.FixtureParams, maxDeletedFrac = 0.001,
        committer = "seqlog")
        .path === s"$root/gen2")
      assert(top10() === expected,
        "the second fold diverged from mask semantics")

      // ----- inverted face: BM25 through the same protocol -----
      val ilocal = TempDir("graft_casonly_inv_")
      val iroot = s"casonly://$ilocal"
      val docs = (1L to 40L).map(i =>
        (i, s"term${i % 7} term${i % 5} shared filler${i % 3}"))
        .toDF("doc_id", "text")
      graft.operators.InvertedIndex.buildVersioned(spark, docs, iroot,
        committer = "seqlog")
      assert(graft.operators.InvertedIndex
        .deleteVersioned(spark, iroot, Seq(3L, 15L),
          committer = "seqlog") === 2L)
      val ilive = graft.operators.InvertedIndex
        .compactVersioned(spark, iroot, committer = "seqlog")
      assert(ilive === s"$iroot/gen1")
      val ranked = graft.operators.InvertedIndex
        .bm25Query(spark, ilive, Seq("term1", "shared"), k = 15)
        .select(col("doc_id")).as[Long].collect().toSet
      assert(ranked.nonEmpty && !ranked.contains(3L) && !ranked.contains(15L))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"$ilocal/MANIFEST.000000000002")))
    } finally {
      spark.conf.unset("spark.graft.gen.casSchemes")
    }
  }

  test("band-index face: a rebuild with different banding gets fresh trigger math") {
    // the band-count cache keys by live GENERATION dir (immutable),
    // not by root: the same root rebuilt with a different
    // numHashes/rowsPerBand pair in the same JVM must not serve the
    // old band count to the maintenance trigger — a stale count skews
    // the deleted fraction and fires the fold too early or too late
    val docs = (1L to 20L).map(i =>
      (i, s"alpha beta gamma delta${i % 9} epsilon${i % 4} zeta eta " +
        s"theta${i % 9} iota kappa")).toDF("doc_id", "text")
    val sh = TextQueries.shingleHashes(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.count()
    val root = TempDir("graft_ver_bandkey_")
    // build 1: 8 hashes / 2 rows per band = 4 bands per doc
    MinHashLsh.buildVersioned(MinHashLsh.bandKeys(sh, 8, 2), root)
    assert(MinHashLsh.deleteVersioned(spark, root, Seq(1L, 2L)) === 2L)
    // 2 tombstoned of 20 docs: 2×4 dead rows over 80 = 0.1
    assert(math.abs(
      MinHashLsh.deletedFractionVersioned(spark, root) - 0.1) < 1e-9)
    // REBUILD the same root: 8 hashes / 4 rows per band = 2 bands
    MinHashLsh.buildVersioned(MinHashLsh.bandKeys(sh, 8, 4), root)
    assert(MinHashLsh.deleteVersioned(spark, root,
      Seq(1L, 2L, 3L, 4L)) === 4L)
    // 4 tombstoned of 20 docs: 4×2 dead rows over 40 = 0.2 — a stale
    // root-keyed band count of 4 would report 0.4 here
    assert(math.abs(
      MinHashLsh.deletedFractionVersioned(spark, root) - 0.2) < 1e-9)
    sh.unpersist(false)
  }

  test("takedown feed + maintenance tick: one deletion batch fans into all four new versioned faces") {
    import graft.streaming.StreamingIngest
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 200)
    val d = emb.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val centroids = IvfAnn.seededCentroids(d, 4)
    val cbs = PqAnn.seededCodebooks(d, nSub = 8, ncode = 16)
    def tmp(tag: String) = TempDir(s"graft_ver_feed_$tag")
    val (ivfRoot, sq8Root, bandRoot, cellRoot) =
      (tmp("ivf"), tmp("sq8"), tmp("band"), tmp("cell"))
    IvfPq.buildVersioned(spark, d, ivfRoot, centroids, cbs, seeded = true)
    Sq8Ann.buildVersioned(spark, d, sq8Root)
    val docs = (0L to 199L).map(i =>
      (i, s"alpha beta gamma${i % 7} delta epsilon${i % 3} zeta"))
      .toDF("doc_id", "text")
    MinHashLsh.buildVersioned(
      MinHashLsh.bandKeys(TextQueries.shingleHashes(docs), 8, 2), bandRoot)
    SemDedup.buildVersioned(
      emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
      centroids, cellRoot)

    val body = StreamingIngest.takedownBatch(
      ivfPqVersionedRoot = Some(ivfRoot),
      sq8VersionedRoot = Some(sq8Root),
      bandVersionedRoot = Some(bandRoot),
      cellVersionedRoot = Some(cellRoot))
    val victims = Seq(4L, 77L).toDF("doc_id")
    val expected = Map("ivfpq_versioned" -> 2L, "sq8_versioned" -> 2L,
      "band_versioned" -> 2L, "cell_versioned" -> 2L)
    assert(body(victims, 0L) === expected)
    // at-least-once replay converges to zero on every face
    assert(body(victims, 1L) === expected.view.mapValues(_ => 0L).toMap)

    // maintenance tick, below threshold: every face stays on gen0
    val live0 = StreamingIngest.maintenanceTick(spark,
      ivfPqRoot = Some(ivfRoot), sq8Root = Some(sq8Root),
      bandRoot = Some(bandRoot), cellRoot = Some(cellRoot))
    assert(live0.values.forall(_.endsWith("/gen0")), s"early fold: $live0")
    // above threshold: every face folds into gen1 with the victims
    // physically erased, readers never paused (spot-checked per face
    // in the lifecycle tests above)
    val live1 = StreamingIngest.maintenanceTick(spark,
      ivfPqRoot = Some(ivfRoot), sq8Root = Some(sq8Root),
      bandRoot = Some(bandRoot), cellRoot = Some(cellRoot),
      maxDeletedFrac = 0.001)
    assert(live1.values.forall(_.endsWith("/gen1")), s"no fold: $live1")
    assert(spark.read.parquet(live1("ivfpq"))
      .filter(col("d_id").isin(4L, 77L)).count() === 0L)
    assert(spark.read.parquet(s"${live1("sq8")}/codes")
      .filter(col("d_id").isin(4L, 77L)).count() === 0L)
    assert(spark.read.parquet(live1("band"))
      .filter(col("doc_id").isin(4L, 77L)).count() === 0L)
    assert(spark.read.parquet(live1("cell"))
      .filter(col("id").isin(4L, 77L)).count() === 0L)
  }

  test("cell-index face: incremental SemDeDup marks serve through a concurrent compaction") {
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val centroids = IvfAnn.seededCentroids(
      corpus.select(col("id").as("d_id"), col("vec").as("d_vec")), 8)
    val root = TempDir("graft_ver_cell_")
    SemDedup.buildVersioned(corpus.filter(col("id") < 250), centroids, root)
    SemDedup.appendVersioned(corpus.filter(col("id") >= 250), centroids, root)
    // victims: resident docs whose identical twins arrive in the batch
    val victims = Seq(5L, 260L)
    assert(SemDedup.deleteVersioned(spark, root, victims) === 2L)

    // batch = identical copies of residents 0..49 ∪ {260} under fresh
    // monotone ids; at tau = 1.0 a batch row marks dup IFF its twin is
    // still live in the same cell — deletion semantics are observable
    val batch = corpus.filter(col("id") < 50 || col("id") === 260)
      .select((col("id") + 1000L).as("id"), col("vec"))
    def marks(dir: String): Map[Long, Long] =
      SemDedup.incrementalMark(spark, dir, centroids, batch, tau = 1.0)
        .select("id", "is_dup").as[(Long, Long)].collect().toMap

    val pre = SemDedup.resolveVersioned(spark, root)
    assert(pre === s"$root/gen0")
    val before = marks(pre)
    assert(before(1006L) === 1L, "live twin did not mark its duplicate")
    assert(before(1005L) === 0L && before(1260L) === 0L,
      "a deleted resident still marks batch rows as duplicates")
    serveThrough(before, () => marks(pre)) {
      assert(SemDedup.compactVersioned(spark, root) === s"$root/gen1")
    }
    assert(marks(pre) === before, "grace generation broke post-flip")
    val live = SemDedup.resolveVersioned(spark, root)
    assert(live === s"$root/gen1")
    assert(marks(live) === before, "compaction changed incremental marks")
    assert(SemDedup.readCellIndex(spark, live)
      .filter(col("id").isin(victims.map(Long.box): _*)).count() === 0L)
    assert(SemDedup.deletedFractionVersioned(spark, root) === 0.0,
      "deletion trigger did not re-arm after the fold")
    // the gross watermark rode the fold (monotone-ingest check intact)
    assert(SemDedup.readWatermark(spark, live) === Some(299L))
    assert(SemDedup.deleteVersioned(spark, root, Seq(6L)) === 1L)
    assert(SemDedup.maybeCompactVersioned(spark, root) === live,
      "trigger fired below every threshold")
    assert(SemDedup.maybeCompactVersioned(spark, root,
      maxDeletedFrac = 0.001) === s"$root/gen2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/gen0")),
      "out-of-grace generation was not retired")
    val after = marks(SemDedup.resolveVersioned(spark, root))
    assert(after(1006L) === 0L, "erased twin still marks its duplicate")
  }
}
