package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.{DocIn, EventIn}

/** Structured-Streaming surface: MemoryStream-driven end-to-end runs of
  * ingest, windowed analytics, stateful dedup and running stats. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$min%02d:$sec%02d")

  test("vector ingest normalizes and blocks a stream of vectors") {
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = StreamingIngest.vectorIngest(
        input.toDF().toDF("vec_id", "embedding"), cardinality = 4, blockRows = 8)
      .writeStream.format("memory").queryName("ingested")
      .outputMode("append").start()
    try {
      input.addData((0L, Seq(3f, 4f)), (9L, Seq(0f, 2f)), (16L, Seq(1f, 0f)))
      q.processAllAvailable()
      val rows = spark.table("ingested").orderBy("vec_id").collect()
      assert(rows.length === 3)
      assert(rows(0).getSeq[Float](1) === Seq(0.6f, 0.8f)) // 3-4-5 normalized
      assert(rows(0).getLong(2) === 0L) // set_id
      assert(rows(1).getLong(3) === 1L) // block_id of vec 9 at blockRows=8
      assert(rows(2).getLong(2) === 4L) // set 16/4
    } finally q.stop()
  }

  test("watermarked windowed event stats") {
    val input = MemoryStream[EventIn](spark)
    val q = StreamingIngest.windowedEventStats(input.toDF())
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"), col("avg_value"))
      .writeStream.format("memory").queryName("winstats")
      .outputMode("complete").start()
    try {
      input.addData(
        EventIn(ts(0, 10), "click", 1.0), EventIn(ts(0, 50), "click", 3.0),
        EventIn(ts(1, 10), "click", 5.0), EventIn(ts(0, 30), "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("winstats").orderBy("ws", "event_type").collect()
      assert(rows.length === 3)
      val first = rows(0)
      assert(first.getString(1) === "click" && first.getLong(2) === 2L)
      assert(math.abs(first.getDouble(3) - 2.0) < 1e-9)
    } finally q.stop()
  }

  test("stateful streaming dedup keeps first occurrence across batches") {
    val input = MemoryStream[DocIn](spark)
    val q = StreamingIngest.streamingDedup(input.toDS())
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      input.addData(DocIn(1, "aaa"), DocIn(2, "bbb"), DocIn(3, "aaa"))
      q.processAllAvailable()
      input.addData(DocIn(4, "aaa"), DocIn(5, "ccc"))
      q.processAllAvailable()
      val kept = spark.table("deduped").collect().map(_.getLong(0)).toSet
      assert(kept.contains(5L))
      assert(kept.intersect(Set(3L, 4L)).isEmpty, s"dup leaked: $kept")
      assert(kept.count(Set(1L, 2L, 5L)) === 3)
    } finally q.stop()
  }

  test("streaming band collisions emit the batch banded join's candidates") {
    import StreamingIngest.{BandCollision, BandedDoc}
    val input = MemoryStream[BandedDoc](spark)
    val q = StreamingIngest.streamingBandCollisions(input.toDS())
      .writeStream.format("memory").queryName("collisions")
      .outputMode("append").start()
    try {
      // batch 1: docs 1 and 2 share band-0 bucket "x" -> one candidate
      input.addData(
        BandedDoc(1, 0, "x"), BandedDoc(1, 1, "p"),
        BandedDoc(2, 0, "x"), BandedDoc(2, 1, "q"))
      q.processAllAvailable()
      // batch 2: doc 3 hits band 0 "x" (claimed by 1) and band 1 "q"
      // (claimed by 2); doc 4 collides nowhere
      input.addData(
        BandedDoc(3, 0, "x"), BandedDoc(3, 1, "q"),
        BandedDoc(4, 0, "y"), BandedDoc(4, 1, "r"))
      q.processAllAvailable()
      val got = spark.table("collisions").as[BandCollision].collect()
        .map(c => (c.doc_id, c.first_doc_id, c.band)).toSet
      assert(got === Set((2L, 1L, 0), (3L, 1L, 0), (3L, 2L, 1)))
    } finally q.stop()
  }

  test("running per-type stats accumulate state across batches") {
    val input = MemoryStream[EventIn](spark)
    val q = StreamingIngest.runningTypeStats(input.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    try {
      input.addData(EventIn(ts(0), "click", 1.0), EventIn(ts(1), "click", 2.0))
      q.processAllAvailable()
      input.addData(EventIn(ts(2), "click", 4.0))
      q.processAllAvailable()
      val last = spark.table("running").collect()
        .filter(_.getString(0) == "click").maxBy(_.getLong(1))
      assert(last.getLong(1) === 3L)
      assert(math.abs(last.getDouble(2) - 7.0) < 1e-9)
    } finally q.stop()
  }

  test("stream-static decontamination flag stage matches the batch join") {
    // eval shingle sets are small and static (benchmark suites); the
    // TRAINING side is the stream — the flag stage is a stateless
    // stream-static inner join, so contaminated shingles flag in-flight
    // with no state plumbing, micro-batch boundaries invisible
    val training = (1L to 20L).flatMap(d =>
      Seq((d, s"sh${d % 5}"), (d, s"sh${(d + 1) % 5}")))
    val evalSh = Seq("sh1", "sh3").toDF("shingle")
    val batch = training.toDF("doc_id", "shingle").join(evalSh, "shingle")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(batch.nonEmpty)
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "shingle").join(evalSh, "shingle")
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      input.addData(training.take(20))
      input.addData(training.drop(20))
      q.processAllAvailable()
      val got = spark.table("decon_stream").collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming PII redaction matches the batch redaction row-for-row") {
    import graft.queries.TextQueries
    // redaction is stateless per-row — the scrubbing stage composes with
    // a streaming ingest with no watermark/state plumbing
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        concat(col("text"), lit(" ping a.b@example.com or https://x.io/q now"))
          .as("text"))
      .limit(48).cache()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0),
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    val batch = key(TextQueries.redactPii(d).collect())
    assert(batch.values.forall(_._1 >= 1)) // planted email present everywhere
    val input = MemoryStream[(Long, String)](spark)
    val q = TextQueries.redactPii(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      val rows = d.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(20).toSeq)
      input.addData(rows.drop(20).toSeq)
      q.processAllAvailable()
      assert(key(spark.table("pii_stream").collect()) === batch)
    } finally q.stop()
  }

  test("streaming text signals (quality/langid/BPE) match batch row-for-row") {
    import graft.queries.TextQueries
    // the whole quality/language-ID/subword-count block is one stateless
    // column stage — certified here so the ingest pipeline can score and
    // tag documents as they arrive, with batch-identical results
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(48).cache()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getString(5)))).toMap
    val proj = Seq("doc_id", "n_chars", "n_tokens", "stop_frac",
      "n_bpe_tokens", "pred_lang")
    val batch = key(TextQueries.textSignals(d)
      .select(proj.head, proj.tail: _*).collect())
    assert(batch.nonEmpty && batch.values.exists(_._5 != "unk"))
    val input = MemoryStream[(Long, String)](spark)
    val q = TextQueries.textSignals(input.toDF().toDF("doc_id", "text"))
      .select(proj.head, proj.tail: _*)
      .writeStream.format("memory").queryName("signals_stream")
      .outputMode("append").start()
    try {
      val rows = d.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(20).toSeq)
      input.addData(rows.drop(20).toSeq)
      q.processAllAvailable()
      assert(key(spark.table("signals_stream").collect()) === batch)
    } finally q.stop()
  }

  test("streaming random projection matches the batch projection row-for-row") {
    import graft.operators.{IvfAnn, RandomProjection}
    // directions come from the batch (offline) side; projection itself
    // is a stateless linear pass, so it runs unchanged on a stream
    val d = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      .limit(32).cache()
    val seeds = IvfAnn.seededCentroids(d, 8)
    val batch = RandomProjection.project(d, "d_id", "d_vec", seeds)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toVector)).toMap
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = RandomProjection
      .project(input.toDF().toDF("d_id", "d_vec"), "d_id", "d_vec", seeds)
      .writeStream.format("memory").queryName("proj_stream")
      .outputMode("append").start()
    try {
      val rows = d.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      input.addData(rows.take(16).toSeq)
      input.addData(rows.drop(16).toSeq)
      q.processAllAvailable()
      val got = spark.table("proj_stream").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toVector)).toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming index ingest: foreachBatch delta-appends land in the searchable index") {
    import graft.index.ShardedIndex
    import graft.queries.IndexQueries
    // the index-lifecycle half of streaming: micro-batches of new
    // vectors append self-contained delta shards (base untouched), and
    // a search after the stream drains finds every streamed vector —
    // Structured Streaming driving ShardedIndex.appendDelta end-to-end
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") < 440)
    val path = TempDir("graft_stream_delta_")
    var ref = ShardedIndex.buildPersisted(spark, base,
      IndexQueries.FixtureParams, nShards = 2, path)
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          ref = ShardedIndex.appendDelta(spark, batch, ref,
            IndexQueries.FixtureParams)
        }
      }.start()
    try {
      val newRows = emb.filter(col("vec_id") >= 440).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      input.addData(newRows.take(30).toSeq)
      q.processAllAvailable()
      input.addData(newRows.drop(30).toSeq)
      q.processAllAvailable()
      assert(ref.nDeltas === 2)
      // every streamed vector is a self-hit in the grown index
      val deltaQ = emb.filter(col("vec_id") >= 440)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val selfHits = ShardedIndex.searchSingleDf(spark, deltaQ, ref,
          l = 60, k = 10)
        .filter(col("q_id") === col("d_id"))
        .select("q_id").distinct().count()
      assert(selfHits === newRows.length.toLong,
        s"only $selfHits of ${newRows.length} streamed vectors findable")
    } finally q.stop()
  }

  test("streaming ANN ingest lifecycle: replay-skip and auto-compaction in one foreachBatch body") {
    import graft.index.ShardedIndex
    import graft.queries.IndexQueries
    // ingestVectorBatch packages the whole daily-ingest policy: append
    // each micro-batch as a delta shard, SKIP an at-least-once replay
    // idempotently (ids already below the indexed row count), and fold
    // deltas into the strided base when their fraction passes compactAt
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") < 400)
    val path = TempDir("graft_stream_lifecycle_")
    var ref = ShardedIndex.buildPersisted(spark, base,
      IndexQueries.FixtureParams, nShards = 2, path)
    val actions = scala.collection.mutable.ArrayBuffer[String]()
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (r, a) = StreamingIngest.ingestVectorBatch(spark, batch, ref,
          IndexQueries.FixtureParams, compactAt = 0.2)
        ref = r
        actions += a
        ()
      }.start()
    try {
      val newRows = emb.filter(col("vec_id") >= 400).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val (b1, b2) = newRows.partition(_._1 < 450)
      input.addData(b1.toSeq)           // 50/400 = 0.125 < 0.2: append
      q.processAllAvailable()
      input.addData(b1.toSeq)           // the REPLAY: same ids again
      q.processAllAvailable()
      input.addData(b2.toSeq)           // 100/400 = 0.25 >= 0.2: compact
      q.processAllAvailable()
      assert(actions.toSeq === Seq("append", "skip-replay", "append+compact"),
        s"lifecycle actions were $actions")
      assert(ref.nDeltas === 0, "compaction must fold every delta")
      assert(ShardedIndex.totalRows(spark, ref) === 500L)
      // the compacted index serves every streamed vector (self-hits)
      val deltaQ = emb.filter(col("vec_id") >= 400)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val selfHits = ShardedIndex.searchSingleDf(spark, deltaQ, ref,
          l = 60, k = 10)
        .filter(col("q_id") === col("d_id"))
        .select("q_id").distinct().count()
      assert(selfHits === newRows.length.toLong,
        s"only $selfHits of ${newRows.length} vectors findable post-compact")
    } finally q.stop()
  }

  test("ingest crash after delta append: redelivery against the stale ref converges, never double-appends") {
    import graft.index.ShardedIndex
    import graft.queries.IndexQueries
    // foreachBatch is at-least-once: a crash AFTER appendDelta landed
    // but BEFORE the driver recorded the new ref re-delivers the batch
    // against the PRE-append ref. The designed convergence: the delta
    // slot is a pure function of the ref (nDeltas), so the replay
    // re-validates the same dense window and OVERWRITES the same delta
    // dir — the grown index equals a crash-free twin exactly.
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") < 400)
    def freshIndex(tag: String) = ShardedIndex.buildPersisted(spark, base,
      IndexQueries.FixtureParams, nShards = 2,
      TempDir(tag))
    val crashed = freshIndex("graft_ingest_crash_")
    val twin = freshIndex("graft_ingest_twin_")
    val batch = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .select("vec_id", "embedding")
    spark.conf.set("spark.graft.test.ingestFailAfterAppend", "true")
    try {
      val e = intercept[IllegalStateException] {
        StreamingIngest.ingestVectorBatch(spark, batch, crashed,
          IndexQueries.FixtureParams)
      }
      assert(e.getMessage.contains("injected crash after delta append"))
    } finally spark.conf.unset("spark.graft.test.ingestFailAfterAppend")
    // the orphan delta landed on disk but the caller still holds the
    // pre-append ref — exactly the restart state
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${crashed.path}/delta0/vectors")))
    assert(crashed.nDeltas === 0)
    // REDELIVERY with the stale ref: not a skip (totalRows over the
    // stale ref excludes the orphan), an overwrite-append
    val (recovered, action) = StreamingIngest.ingestVectorBatch(spark,
      batch, crashed, IndexQueries.FixtureParams)
    assert(action === "append" && recovered.nDeltas === 1)
    // a SECOND delivery with the recovered ref is the clean replay-skip
    assert(StreamingIngest.ingestVectorBatch(spark, batch, recovered,
      IndexQueries.FixtureParams)._2 === "skip-replay")
    // the converged index answers identically to a crash-free twin
    val (twinRef, _) = StreamingIngest.ingestVectorBatch(spark, batch,
      twin, IndexQueries.FixtureParams)
    val q = emb.filter(col("vec_id") % 20 === 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def rows(r: graft.index.ShardedIndexRef) =
      ShardedIndex.searchSingleDf(spark, q, r, l = 600, k = 16)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .toSet
    assert(rows(recovered) === rows(twinRef),
      "the crash-replayed index diverged from the crash-free twin")
  }

  test("ingest crash mid-compact: a restarted stream self-heals the stranded staging and makes progress") {
    import graft.index.ShardedIndex
    import graft.queries.IndexQueries
    // the worse crash window: compact() dies AFTER committing its
    // staging (the point of no return — the staged corpus is the only
    // complete copy, and appendDelta refuses to land on the stranded
    // state). A restarted foreachBatch body must finish the fold
    // itself and then process the batch — no operator action, no
    // permanently wedged stream.
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") < 400)
    val path = TempDir("graft_ingest_stage_")
    val ref0 = ShardedIndex.buildPersisted(spark, base,
      IndexQueries.FixtureParams, nShards = 2, path)
    val rows = emb.filter(col("vec_id") >= 400).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = rows.partition(_._1 < 450)
    // batch 1 appends clean; batch 2 pushes deltaFraction past
    // compactAt and the triggered compact crashes after its staging
    // commit
    val (ref1, a1) = StreamingIngest.ingestVectorBatch(spark,
      b1.toSeq.toDF("vec_id", "embedding"), ref0,
      IndexQueries.FixtureParams, compactAt = 0.2)
    assert(a1 === "append")
    spark.conf.set("spark.graft.test.compactFailAfterStage", "true")
    try {
      val e = intercept[IllegalStateException] {
        StreamingIngest.ingestVectorBatch(spark,
          b2.toSeq.toDF("vec_id", "embedding"), ref1,
          IndexQueries.FixtureParams, compactAt = 0.2)
      }
      assert(e.getMessage.contains("injected crash after staging commit"))
    } finally spark.conf.unset("spark.graft.test.compactFailAfterStage")
    assert(ShardedIndex.hasStrandedCompactStaging(spark, ref1),
      "the injected crash should strand a committed staging")
    // RESTART: the stream re-delivers batch 2 against the pre-crash
    // ref; the body heals the fold, then the batch lands as usual.
    // (The healed fold already folded batch 2's delta — it was
    // appended before the compact fired — so the redelivery is the
    // replay-skip.)
    val (healed, a2) = StreamingIngest.ingestVectorBatch(spark,
      b2.toSeq.toDF("vec_id", "embedding"), ref1,
      IndexQueries.FixtureParams, compactAt = 0.2)
    assert(!ShardedIndex.hasStrandedCompactStaging(spark, healed),
      "self-heal did not finish the stranded fold")
    assert(a2 === "skip-replay", s"post-heal action was $a2")
    assert(healed.nDeltas === 0 &&
      ShardedIndex.totalRows(spark, healed) === 500L)
    // and the healed index serves every streamed vector
    val deltaQ = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val selfHits = ShardedIndex.searchSingleDf(spark, deltaQ, healed,
        l = 60, k = 10)
      .filter(col("q_id") === col("d_id"))
      .select("q_id").distinct().count()
    assert(selfHits === rows.length.toLong,
      s"only $selfHits of ${rows.length} vectors findable post-heal")
  }

  test("versioned compact crash before the flip: the old generation serves; the re-run converges and retires debris") {
    import graft.index.ShardedIndex
    import graft.queries.IndexQueries
    // the maintenanceTick face of the same story: the successor
    // generation is fully built when the crash hits, the pointer never
    // flips, so readers keep the old complete snapshot; the re-run
    // builds a fresh successor (monotone numbering never reuses the
    // debris) and its publish retires the debris dir.
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val root = TempDir("graft_ver_crash_")
    ShardedIndex.resetResidencyTracking()
    ShardedIndex.buildVersioned(spark, emb, IndexQueries.FixtureParams,
      nShards = 2, root)
    assert(ShardedIndex.deleteVersioned(spark, root, Seq(5L, 44L)) === 2L)
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
    spark.conf.set("spark.graft.test.compactFailBeforePublish", "true")
    try {
      val e = intercept[IllegalStateException] {
        StreamingIngest.maintenanceTick(spark,
          shardedRoot = Some((root, IndexQueries.FixtureParams)),
          maxDeletedFrac = 0.001)
      }
      assert(e.getMessage.contains("injected crash before publish"))
    } finally spark.conf.unset("spark.graft.test.compactFailBeforePublish")
    // the crash left debris but the manifest never flipped: gen0 serves
    // the identical survivor results
    assert(ShardedIndex.resolveVersioned(spark, root, "cosine").path
      === s"$root/gen0")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/gen1")), "no debris dir — the " +
      "injected crash should land after the successor build")
    assert(top10() === before,
      "the un-flipped root diverged after the crashed compaction")
    // the next tick converges: fresh successor (gen2), debris retired,
    // identical survivors, trigger quiet afterwards
    val tick = StreamingIngest.maintenanceTick(spark,
      shardedRoot = Some((root, IndexQueries.FixtureParams)),
      maxDeletedFrac = 0.001)
    assert(tick("sharded") === s"$root/gen2", s"tick landed at $tick")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/gen1")),
      "the crashed attempt's debris generation was not retired")
    assert(top10() === before,
      "the re-run compaction changed survivor results")
    assert(StreamingIngest.maintenanceTick(spark,
      shardedRoot = Some((root, IndexQueries.FixtureParams)),
      maxDeletedFrac = 0.001)("sharded") === s"$root/gen2",
      "the trigger did not re-arm after the recovered fold")
  }

  test("streaming ANN serving: graph search over a query stream matches batch") {
    import graft.index.{BeamSearch, GraphBuild}
    import graft.queries.IndexQueries
    // ONLINE ANN SERVING on Structured Streaming: the index is offline
    // state (broadcast graph + vectors); the G8 search itself is a
    // stateless per-row kernel, so a stream of query vectors is answered
    // with batch-identical hits — no specialized serving engine, the
    // same searchSingleDf the batch queries run
    val emb = Tables.embeddings(spark, sfDir)
    val idx = GraphBuild.build(spark, emb, emb, IndexQueries.FixtureParams)
    val gB = spark.sparkContext.broadcast(idx.graph)
    val vB = spark.sparkContext.broadcast(idx.vecs)
    val q = emb.filter(col("vec_id") < 32)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")).cache()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => ((r.getLong(0), r.getInt(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    val batch = key(BeamSearch.searchSingleDf(spark, q, gB, vB, "cosine",
      l = 40, k = 10).select("q_id", "rank", "d_id", "sim").collect())
    assert(batch.nonEmpty)
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val out = BeamSearch.searchSingleDf(spark,
        input.toDF().toDF("q_id", "q_vec"), gB, vB, "cosine", l = 40, k = 10)
      .select("q_id", "rank", "d_id", "sim")
      .writeStream.format("memory").queryName("ann_stream")
      .outputMode("append").start()
    try {
      val rows = q.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      input.addData(rows.take(16).toSeq)
      input.addData(rows.drop(16).toSeq)
      out.processAllAvailable()
      assert(key(spark.table("ann_stream").collect()) === batch)
    } finally out.stop()
  }

  test("streaming incremental dedup: foreachBatch probes + grows the band index; compaction preserves probes") {
    import graft.operators.MinHashLsh
    // the parquet-index face of streaming near-dup (vs the state-store
    // face streamingBandCollisions): each micro-batch dedups against
    // everything before it, then joins the resident side
    val dir = TempDir("graft_sdedup_")
    val idx = s"$dir/index"
    val pairsOut = s"$dir/pairs"
    val g1 = Seq("aa bb cc", "bb cc dd", "cc dd ee")
    val g2 = Seq("pp qq rr", "qq rr ss", "rr ss tt")
    val batch1 = Seq(1L, 2L).flatMap(d => g1.map(s => (d, s)))
    val batch2 = Seq(3L).flatMap(d => g1.map(s => (d, s))) ++
      Seq(4L, 5L).flatMap(d => g2.map(s => (d, s)))
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "shingle")
      .withColumn("h", md5(col("shingle")))
      .writeStream.outputMode("append")
      .foreachBatch(StreamingIngest.incrementalDedupBatch(idx, pairsOut))
      .start()
    try {
      input.addData(batch1)
      q.processAllAvailable() // bootstrap: within-batch pairs only
      input.addData(batch2)
      q.processAllAvailable() // probe: doc 3 must pair with resident 1,2
    } finally q.stop()
    val got = spark.read.parquet(pairsOut)
      .select("doc_a", "doc_b", "n_shared_bands").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = MinHashLsh.bandedPairs(
        (batch1 ++ batch2).toDF("doc_id", "shingle")
          .withColumn("h", md5(col("shingle"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.contains((1L, 3L, 4L)), s"cross-batch pair missing: $got")
    // compaction: fewer files, probe results unchanged
    def partFiles() = new java.io.File(idx).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    val before = partFiles()
    MinHashLsh.compactBandIndex(spark, idx, numFiles = 1)
    assert(partFiles() === 1, s"compaction left ${partFiles()} files")
    assert(before > 1, s"fixture too small to exercise compaction ($before)")
    val b3 = MinHashLsh.bandKeys(
      Seq(6L).flatMap(d => g2.map(s => (d, s))).toDF("doc_id", "shingle")
        .withColumn("h", md5(col("shingle"))))
    val inc = MinHashLsh.incrementalPairs(spark.read.parquet(idx), b3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === Set((4L, 6L, 4L), (5L, 6L, 4L)),
      s"post-compaction probe wrong: $inc")
    // at-least-once REPLAY: re-delivering batch 2 after its index append
    // must not throw, not grow the index, and emit the same pairs it
    // did originally (no spurious self-collisions with its own resident
    // copies)
    val idxRows = spark.read.parquet(idx).count()
    StreamingIngest.incrementalDedupBatch(idx, pairsOut)(
      batch2.toDF("doc_id", "shingle").withColumn("h", md5(col("shingle"))),
      1L)
    assert(spark.read.parquet(idx).count() === idxRows,
      "replayed batch grew the band index")
    val afterReplay = spark.read.parquet(pairsOut)
      .select("doc_a", "doc_b", "n_shared_bands").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(afterReplay === want,
      s"replay changed the distinct pair set: $afterReplay")
    assert(!afterReplay.exists(p => p._1 == p._2),
      "replay produced self-pairs")
  }

  test("streaming incremental semdedup: micro-batch marks equal the batch operator") {
    import graft.operators.{IvfAnn, SemDedup}
    import graft.queries.AnnQueries
    val dir = TempDir("graft_semdedup_stream_")
    val idx = s"$dir/cells"
    val marksOut = s"$dir/marks"
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = AnnQueries.plantNearDupsExact(base).cache()
    val cents = IvfAnn.seededCentroids(
      corpus.select(col("id").as("d_id"), col("vec").as("d_vec")), 8)
    val tau = 0.9
    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    val (w1, w2) = rows.partition(_._1 < 1000000L) // monotone waves
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = input.toDF().toDF("id", "vec")
      .writeStream.outputMode("append")
      .foreachBatch(
        StreamingIngest.incrementalSemDedupBatch(idx, marksOut, cents, tau))
      .start()
    try {
      input.addData(w1.toSeq)
      q.processAllAvailable() // bootstrap: within-batch marking only
      input.addData(w2.toSeq)
      q.processAllAvailable() // probe: planted copies hit resident bases
    } finally q.stop()
    val got = spark.read.parquet(marksOut)
      .select("id", "cell", "is_dup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = SemDedup.mark(corpus, cents, tau).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === want, "streamed marks diverged from the batch operator")
    assert(spark.read.parquet(marksOut)
        .filter(col("batch_id") === 1 && col("is_dup") === 1).count() > 0,
      "no cross-batch duplicate recovered")
    // at-least-once REPLAY: re-delivering wave 2 after its index append
    // (the crash-between-append-and-checkpoint case) must not throw,
    // not grow the index, and reproduce the original marks
    val idxRows = spark.read.parquet(idx).count()
    StreamingIngest.incrementalSemDedupBatch(idx, marksOut, cents, tau)(
      w2.toSeq.toDF("id", "vec"), 1L)
    assert(spark.read.parquet(idx).count() === idxRows,
      "replayed batch grew the cell index")
    val replayed = spark.read.parquet(marksOut)
      .select("id", "cell", "is_dup").distinct().collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(replayed === want, "replayed marks diverged")
  }

  test("cell-index deletion: tombstoned residents stop marking; compaction erases them physically") {
    import graft.operators.{IvfAnn, SemDedup}
    import graft.queries.AnnQueries
    val dir = TempDir("graft_semdedup_del_")
    val idxA = s"$dir/cellsA"
    val idxB = s"$dir/cellsB"
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = AnnQueries.plantNearDupsExact(base).cache()
    val cents = IvfAnn.seededCentroids(
      corpus.select(col("id").as("d_id"), col("vec").as("d_vec")), 8)
    val tau = 0.9
    val w1 = corpus.filter(col("id") < 1000000L)   // resident bases
    val w2 = corpus.filter(col("id") >= 1000000L)  // planted copies
    SemDedup.writeCellIndex(w1, cents, idxA)
    def marksOf(path: String): Map[Long, (Long, Long)] =
      SemDedup.incrementalMark(spark, path, cents, w2, tau)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    val unmasked = marksOf(idxA)
    // victims: bases whose planted copy the resident probe marked dup —
    // deleting them MUST flip (or re-attribute) those marks
    val victims = unmasked.collect { case (id, (_, 1L)) => id - 1000000L }
      .toSeq.sorted.take(3)
    assert(victims.nonEmpty, "fixture probe produced no resident dups")
    assert(SemDedup.deleteFromCellIndex(spark, idxA, victims)
      === victims.size.toLong)
    // replayed takedown: converged, nothing new
    assert(SemDedup.deleteFromCellIndex(spark, idxA, victims) === 0L)
    // ground truth: an index the victims were NEVER written to
    SemDedup.writeCellIndex(
      w1.filter(!col("id").isInCollection(victims)), cents, idxB)
    val masked = marksOf(idxA)
    assert(masked === marksOf(idxB),
      "tombstone mask diverged from the never-indexed truth")
    assert(masked !== unmasked,
      "victims never influenced a mark — deletion untested")
    SemDedup.compactCellIndex(spark, idxA)
    // physical erase: no victim embedding rows, no tombstone sidecar
    assert(spark.read.parquet(idxA)
      .filter(col("id").isInCollection(victims)).count() === 0L)
    val tombP = new org.apache.hadoop.fs.Path(s"$idxA/_tombstones")
    assert(!tombP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(tombP))
    assert(marksOf(idxA) === masked, "compaction changed the probe")
  }

  test("streaming takedown face: one deletion feed masks every index; replays converge to zero") {
    import graft.index.ShardedIndex
    import graft.operators.{InvertedIndex, MinHashLsh}
    import graft.queries.{IndexQueries, TextQueries}
    val dir = TempDir("graft_takedown_stream_")
    val inv = s"$dir/inv"
    val band = s"$dir/band"
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 120)
      .select("doc_id", "text")
    InvertedIndex.append(spark, docs, inv)
    MinHashLsh.writeBandIndex(
      MinHashLsh.bandKeys(TextQueries.shingleHashes(docs), 8, 2), band)
    // generation-versioned faces join the same feed: the tombstone
    // lands in the manifest-resolved LIVE generation per batch
    val shardedRoot = s"$dir/sharded_v"
    val invRoot = s"$dir/inv_v"
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 120)
    ShardedIndex.buildVersioned(spark, emb, IndexQueries.FixtureParams,
      nShards = 2, shardedRoot)
    InvertedIndex.buildVersioned(spark, docs, invRoot)
    val victims = docs.filter(col("doc_id") % 7 === 0)
      .select("doc_id").as[Long].collect().toSeq
    assert(victims.nonEmpty)
    val body = StreamingIngest.takedownBatch(
      invertedIndexPath = Some(inv), bandIndexPath = Some(band),
      shardedVersionedRoot = Some(shardedRoot),
      invertedVersionedRoot = Some(invRoot))
    val reports = scala.collection.mutable.Buffer.empty[Map[String, Long]]
    val input = MemoryStream[Long](spark)
    val q = input.toDF().writeStream.outputMode("append")
      .foreachBatch((ids: org.apache.spark.sql.DataFrame, bid: Long) =>
        { reports += body(ids, bid); () })
      .start()
    try {
      input.addData(victims)
      q.processAllAvailable()
    } finally q.stop()
    assert(reports.last === Map(
      "inverted" -> victims.size.toLong, "band" -> victims.size.toLong,
      "sharded_versioned" -> victims.size.toLong,
      "inverted_versioned" -> victims.size.toLong))
    // masks are live on every face with no further plumbing
    assert(InvertedIndex.bm25Query(spark, inv,
        Seq("the", "data", "model"), k = 200)
      .filter(col("doc_id").isInCollection(victims)).count() === 0L)
    assert(MinHashLsh.readBandIndex(spark, band)
      .filter(col("doc_id").isInCollection(victims)).count() === 0L)
    val vq = emb.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"))
    assert(ShardedIndex.searchSingleDf(spark, vq,
        ShardedIndex.resolveVersioned(spark, shardedRoot, "cosine"),
        l = 600, k = 16)
      .filter(col("d_id").isInCollection(victims)).count() === 0L)
    assert(InvertedIndex.bm25QueryVersioned(spark, invRoot,
        Seq("the", "data", "model"), k = 200)
      .filter(col("doc_id").isInCollection(victims)).count() === 0L)
    // ... and survive a serve-through compaction of the live generation
    ShardedIndex.compactVersioned(spark, shardedRoot,
      IndexQueries.FixtureParams)
    assert(ShardedIndex.searchSingleDf(spark, vq,
        ShardedIndex.resolveVersioned(spark, shardedRoot, "cosine"),
        l = 600, k = 16)
      .filter(col("d_id").isInCollection(victims)).count() === 0L)
    // the at-least-once replay: same feed again, zero new deletions
    // everywhere (the compacted sharded face re-tombstones erased ids
    // by documented design — replay-zero is scoped to the compaction
    // interval — so it is exercised before the purge above via
    // reports.last, and here on the un-compacted faces)
    import spark.implicits._
    val replay = body(victims.toDF("value"), 1L)
    assert(replay("inverted") === 0L && replay("band") === 0L &&
      replay("inverted_versioned") === 0L)
  }

  test("takedown replay contract: a crash mid-fan leaves faces diverged; replay converges every face") {
    import graft.operators.{InvertedIndex, MinHashLsh}
    import graft.queries.TextQueries
    // the fan-out is NOT transactional across faces — each face has
    // its own lease and manifest. The designed recovery is replay:
    // per-face deletes are idempotent, so foreachBatch's at-least-once
    // redelivery converges. This test drives that contract end to end:
    // crash after face 2 of 4, observe the divergence, replay, assert
    // all four faces agree on the survivor set.
    val dir = TempDir("graft_takedown_crash_")
    val inv = s"$dir/inv"; val band = s"$dir/band"
    val invRoot = s"$dir/inv_v"; val bandRoot = s"$dir/band_v"
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 80)
      .select("doc_id", "text")
    InvertedIndex.append(spark, docs, inv)
    val keys = MinHashLsh.bandKeys(TextQueries.shingleHashes(docs), 8, 2)
    MinHashLsh.writeBandIndex(keys, band)
    InvertedIndex.buildVersioned(spark, docs, invRoot)
    MinHashLsh.buildVersioned(keys, bandRoot)
    val victims = docs.filter(col("doc_id") % 9 === 0)
      .select("doc_id").as[Long].collect().toSeq
    assert(victims.nonEmpty)
    val body = StreamingIngest.takedownBatch(
      invertedIndexPath = Some(inv), bandIndexPath = Some(band),
      invertedVersionedRoot = Some(invRoot),
      bandVersionedRoot = Some(bandRoot))
    // the batch dies after face 2 of 4 (fan order: inverted, band,
    // inverted_versioned, band_versioned)
    spark.conf.set("spark.graft.test.takedownFailAfter", "2")
    try {
      val e = intercept[IllegalStateException] {
        body(victims.toDF("doc_id"), 0L)
      }
      assert(e.getMessage.contains("after 2 faces"))
    } finally spark.conf.unset("spark.graft.test.takedownFailAfter")
    // mid-fan divergence: the first two faces are masked, the two
    // versioned faces still serve the victims
    def bandRows(p: String): Long = MinHashLsh.readBandIndex(spark, p)
      .filter(col("doc_id").isInCollection(victims)).count()
    def bm25Hits(q: => org.apache.spark.sql.DataFrame): Long =
      q.filter(col("doc_id").isInCollection(victims)).count()
    assert(bandRows(band) === 0L)
    assert(bandRows(MinHashLsh.resolveVersioned(spark, bandRoot)) > 0L,
      "the crash after face 2 should not have reached the band face")
    // REPLAY (foreachBatch's at-least-once redelivery of the same
    // batch): already-applied faces report zero new deletions, the
    // missed faces apply now — convergence, not double-deletion
    val replay = body(victims.toDF("doc_id"), 0L)
    assert(replay === Map(
      "inverted" -> 0L, "band" -> 0L,
      "inverted_versioned" -> victims.size.toLong,
      "band_versioned" -> victims.size.toLong))
    // all four faces now agree on the survivor set
    assert(bandRows(band) === 0L)
    assert(bandRows(MinHashLsh.resolveVersioned(spark, bandRoot)) === 0L)
    assert(bm25Hits(InvertedIndex.bm25Query(spark, inv,
      Seq("the", "data", "model"), k = 200)) === 0L)
    assert(bm25Hits(InvertedIndex.bm25QueryVersioned(spark, invRoot,
      Seq("the", "data", "model"), k = 200)) === 0L)
    // a third delivery is a no-op everywhere
    assert(body(victims.toDF("doc_id"), 1L).values.forall(_ === 0L))
  }

  test("streaming token chunking matches the batch chunking row-for-row") {
    import graft.queries.TextQueries
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(40).cache()
    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    val batch = key(TextQueries.chunkTokens(d).collect())
    val input = MemoryStream[(Long, String)](spark)
    val q = TextQueries.chunkTokens(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      val rows = d.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(20).toSeq)
      input.addData(rows.drop(20).toSeq)
      q.processAllAvailable()
      assert(key(spark.table("chunk_stream").collect()) === batch)
    } finally q.stop()
  }

  test("streaming SQ8 encode matches the batch encode row-for-row") {
    import graft.operators.Sq8Ann
    // bounds come from the batch (offline) side; encode is stateless so
    // the byte-code ingest face composes with streaming unchanged
    val d = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      .limit(32).cache()
    val bounds = Sq8Ann.trainBounds(d)
    val batch = Sq8Ann.encode(d, bounds).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toVector)).toMap
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = Sq8Ann.encode(input.toDF().toDF("d_id", "d_vec"), bounds)
      .writeStream.format("memory").queryName("sq8_stream")
      .outputMode("append").start()
    try {
      val rows = d.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      input.addData(rows.take(16).toSeq)
      input.addData(rows.drop(16).toSeq)
      q.processAllAvailable()
      val got = spark.table("sq8_stream").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toVector)).toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming PQ encode matches the batch encode row-for-row") {
    import graft.operators.PqAnn
    // codebooks come from the batch (offline) side; the stream is the
    // ingest side — encode is stateless, so it composes with streaming
    // with no watermark/state plumbing
    val d = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      .limit(32).cache()
    val cbs = PqAnn.seededCodebooks(d, nSub = 8, ncode = 16)
    val batch = PqAnn.encode(d, cbs).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toVector)).toMap
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = PqAnn.encode(input.toDF().toDF("d_id", "d_vec"), cbs)
      .writeStream.format("memory").queryName("pq_stream")
      .outputMode("append").start()
    try {
      val rows = d.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      input.addData(rows.take(16).toSeq)
      input.addData(rows.drop(16).toSeq)
      q.processAllAvailable()
      val got = spark.table("pq_stream").collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toVector)).toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming inverted-index ingest: BM25 from the index equals inline batch BM25") {
    import graft.operators.InvertedIndex
    import graft.queries.TextQueries
    val dir = TempDir("graft_invidx_stream_")
    val idx = s"$dir/index"
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val half = d.agg(max(col("doc_id"))).first().getLong(0) / 2
    val b1 = d.filter(col("doc_id") <= half)
      .as[(Long, String)].collect().toSeq
    val b2 = d.filter(col("doc_id") > half)
      .as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch(StreamingIngest.incrementalBm25Batch(idx))
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // at-least-once redelivery of the last batch: skipped idempotently
    val statsBefore = InvertedIndex.readStats(spark, idx)
    StreamingIngest.incrementalBm25Batch(idx)(
      b2.toDF("doc_id", "text"), 99L)
    assert(InvertedIndex.readStats(spark, idx) === statsBefore,
      "replayed batch changed the index stats")
    val terms = Seq("the", "data", "model", "learning", "neural")
    val fromIndex = InvertedIndex.bm25Query(spark, idx, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline = TextQueries.bm25(d, terms.toDF("term"), k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fromIndex === inline,
      "index-served BM25 diverged from the inline computation")
  }

  test("combined streaming face: serving stays exact while ingest and takedown land between micro-batches") {
    import scala.jdk.CollectionConverters._
    import graft.index.{GraphBuild, Metrics, ShardedIndex, ShardedIndexRef,
      VectorStore}
    import graft.queries.IndexQueries
    // Each streaming face is certified alone; this drives all three AT
    // ONCE on one persisted index: an online SERVING stream answers
    // query micro-batches from the path-discovered ref (no
    // re-registration, disk is the truth) while a delta-append and a
    // takedown batch land through their own streams between the
    // serving micro-batches — hit-for-hit parity with the exact
    // survivor ranking at every step, replay converging to zero.
    val emb = Tables.embeddings(spark, sfDir)
    val path = TempDir("graft_stream_combined_")
    var ref = ShardedIndex.buildPersisted(spark,
      emb.filter(col("vec_id") < 400), IndexQueries.FixtureParams,
      nShards = 2, path)

    // serving stream: saturating budget so parity is exact equality
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]
    val qInput = MemoryStream[(Long, Seq[Float])](spark)
    val serve = qInput.toDF().toDF("q_id", "q_vec")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val live = ShardedIndex.discover(spark,
            ShardedIndexRef(path, 2, "cosine"))
          ShardedIndex.searchSingleDf(spark,
              batch.localCheckpoint(true), live, l = 600, k = 16)
            .collect().foreach(r =>
              results.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
        }
      }.start()
    // ingest stream: delta-appends, never compacts mid-test
    val ingestInput = MemoryStream[(Long, Seq[Float])](spark)
    val ingest = ingestInput.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ref = StreamingIngest.ingestVectorBatch(spark, batch, ref,
          IndexQueries.FixtureParams, compactAt = 2.0)._1
        ()
      }.start()
    // takedown stream: the deletion feed, reports audited
    val reports = scala.collection.mutable.Buffer.empty[Map[String, Long]]
    val takedownBody = StreamingIngest.takedownBatch(
      shardedIndexPath = Some(path))
    val tdInput = MemoryStream[Long](spark)
    val takedown = tdInput.toDF().writeStream.outputMode("append")
      .foreachBatch((ids: org.apache.spark.sql.DataFrame, bid: Long) =>
        { reports += takedownBody(ids, bid); () })
      .start()

    val qRows = emb.filter(col("vec_id") % 50 === 3 && col("vec_id") < 400)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val deltaRows = emb
      .filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val victims = Seq(7L, 103L, 420L) // two base gids, one delta gid
    def serveBatch(rows: Seq[(Long, Seq[Float])]): Map[Long, Seq[Long]] = {
      results.clear()
      qInput.addData(rows)
      serve.processAllAvailable()
      results.asScala.toSeq.groupBy(_._1).view
        .mapValues(_.sortBy(t => (-t._3, t._2)).take(10).map(_._2).toSeq)
        .toMap
    }
    def truth(docs: org.apache.spark.sql.DataFrame,
              queries: Seq[(Long, Seq[Float])],
              exclude: Set[Long]): Map[Long, Seq[Long]] = {
      import spark.implicits._
      val qDf = queries.toDF("q_id", "q_vec")
      val vecsB = spark.sparkContext.broadcast(VectorStore.fromDf(
        docs, "vec_id", "embedding", Metrics("cosine")))
      val m = GraphBuild.exactKnn(spark, qDf, 13, vecsB, "cosine",
        excludeSelf = false).as[(Long, Seq[Long])].collect().toMap
      vecsB.destroy()
      m.map { case (q, gt) => q -> gt.filterNot(exclude).take(10) }
    }
    try {
      // stage 1: serve against the freshly built base
      assert(serveBatch(qRows) ===
        truth(emb.filter(col("vec_id") < 400), qRows, Set.empty),
        "stage 1 (base) serving diverged from the exact ranking")
      // stage 2: a delta lands between serving micro-batches; the next
      // serving batch (same path, no re-registration) must see it —
      // including a freshly ingested vector used AS a query
      ingestInput.addData(deltaRows)
      ingest.processAllAvailable()
      assert(ref.nDeltas === 1)
      val q2 = qRows :+ deltaRows.find(_._1 == 420L).get
      assert(serveBatch(q2) ===
        truth(emb.filter(col("vec_id") < 450), q2, Set.empty),
        "stage 2 (post-ingest) serving diverged from the exact ranking")
      // stage 3: a takedown batch lands; the next serving batch masks
      // the victims (a victim used as a QUERY still gets answers)
      tdInput.addData(victims)
      takedown.processAllAvailable()
      assert(reports.last === Map("sharded" -> victims.size.toLong))
      assert(serveBatch(q2) ===
        truth(emb.filter(col("vec_id") < 450), q2, victims.toSet),
        "stage 3 (post-takedown) serving diverged from survivor ranking")
      // stage 4: the at-least-once replay converges to zero and
      // serving is unchanged
      tdInput.addData(victims)
      takedown.processAllAvailable()
      assert(reports.last === Map("sharded" -> 0L))
      assert(serveBatch(q2) ===
        truth(emb.filter(col("vec_id") < 450), q2, victims.toSet),
        "stage 4 (replayed takedown) changed the served results")
    } finally { serve.stop(); ingest.stop(); takedown.stop() }
  }
}
