package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.InvertedIndex

/** Inverted-index contracts the streaming equality test doesn't pin:
  * bucket partition pruning at the serving scan, the monotone-id
  * append contract, and stats accounting for zero-token docs. */
class InvertedIndexSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshIndex(): String = {
    val idx = TempDir("graft_invidx_spec_")
    InvertedIndex.append(spark,
      Seq((1L, "aa bb cc"), (2L, "bb cc dd"), (3L, ""))
        .toDF("doc_id", "text"), idx)
    idx
  }

  test("serving scan prunes to the query terms' buckets") {
    val idx = freshIndex()
    val df = InvertedIndex.bm25Query(spark, idx, Seq("bb"), k = 5)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse(fail("no file scan with PartitionFilters in plan"))
    assert(!scan.contains("PartitionFilters: []"),
      s"postings scan reads every bucket:\n$scan")
  }

  test("zero-token docs count toward corpus stats but write no postings") {
    val idx = freshIndex()
    val Some((wm, nDocs, sumDl)) = InvertedIndex.readStats(spark, idx)
    assert(wm === 3L && nDocs === 3L && sumDl === 6L)
    assert(spark.read.parquet(s"$idx/postings")
      .filter(col("doc_id") === 3L).count() === 0L)
  }

  test("watermark-inside-batch appends the uncovered suffix; replay is skipped") {
    val idx = freshIndex() // wm=3, n=3, sum_dl=6
    // a batch straddling the watermark (the shape a crash between the
    // postings write and the sidecar promote — or a zero-token-tail
    // stats rebuild — leaves behind on replay): covered ids are
    // skipped (first write wins), the uncovered suffix appends, and
    // the ingest CONVERGES instead of wedging on an all-or-nothing
    // contract check
    InvertedIndex.append(spark,
      Seq((2L, "xx yy"), (9L, "yy zz")).toDF("doc_id", "text"), idx)
    assert(InvertedIndex.readStats(spark, idx) === Some((9L, 4L, 8L)))
    // doc 2's already-indexed content stands; its replayed variant was
    // not re-indexed
    assert(InvertedIndex.bm25Query(spark, idx, Seq("xx"), k = 5)
      .count() === 0L)
    assert(InvertedIndex.bm25Query(spark, idx, Seq("zz"), k = 5)
      .count() === 1L)
    // exact replay of an indexed range: skipped, stats unchanged
    val before = InvertedIndex.readStats(spark, idx)
    InvertedIndex.append(spark,
      Seq((1L, "aa bb cc"), (2L, "bb cc dd"), (3L, ""))
        .toDF("doc_id", "text"), idx)
    assert(InvertedIndex.readStats(spark, idx) === before)
  }

  /** Strip the doclens sidecar so the index takes the LEGACY (postings
    * -only) recovery paths the pre-doclens format forced. */
  private def dropDoclens(idx: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$idx/doclens")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("doclens-backed rebuild is EXACT, zero-token docs included") {
    val idx = freshIndex() // true stats (3, 3, 6); doc 3 is zero-token
    java.nio.file.Files.delete(java.nio.file.Paths.get(idx, "_stats"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(idx, "._stats.crc"))
    // the doc-length sidecar sees doc 3's dl=0 row, so the rebuild is
    // no longer the stale-low postings recovery — it is exact
    assert(InvertedIndex.readStats(spark, idx) === Some((3L, 3L, 6L)))
  }

  test("zero-token-tail rebuild converges on replay instead of wedging") {
    val idx = freshIndex() // true stats (3, 3, 6); doc 3 is zero-token
    // legacy index shape: no doclens — the rebuild falls back to the
    // postings and is stale-LOW (doc 3 invisible) — wm 2 inside the
    // original batch range
    dropDoclens(idx)
    java.nio.file.Files.delete(java.nio.file.Paths.get(idx, "_stats"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(idx, "._stats.crc"))
    assert(InvertedIndex.readStats(spark, idx) === Some((2L, 2L, 6L)))
    // the at-least-once replay of the ORIGINAL batch must converge the
    // stats back to truth (append the wm<id suffix: just zero-token
    // doc 3), not throw
    InvertedIndex.append(spark,
      Seq((1L, "aa bb cc"), (2L, "bb cc dd"), (3L, ""))
        .toDF("doc_id", "text"), idx)
    assert(InvertedIndex.readStats(spark, idx) === Some((3L, 3L, 6L)))
    // no duplicate postings rows were appended for docs 1-2
    assert(spark.read.parquet(s"$idx/postings")
      .groupBy("doc_id", "term").count().filter(col("count") > 1)
      .count() === 0L)
  }

  test("missing or corrupt _stats sidecar is rebuilt from the postings") {
    val idx = freshIndex()
    dropDoclens(idx) // legacy index shape: postings-only recovery
    val statsPath = java.nio.file.Paths.get(idx, "_stats")
    // corrupt in place (the crash-mid-write shape the temp+rename swap
    // makes rare but a torn disk can still produce)
    java.nio.file.Files.write(statsPath, "garbage,not".getBytes("UTF-8"))
    // rebuild from postings: docs 1,2 have postings (dl=3 each); the
    // zero-token doc 3 is invisible to postings, so the rebuilt stats
    // are the documented stale-LOW recovery (wm 2 < true 3) — safe,
    // because a stale-low watermark only re-admits an idempotent replay
    assert(InvertedIndex.readStats(spark, idx) === Some((2L, 2L, 6L)))
    // the rebuild re-wrote the sidecar: next read is sidecar-served
    assert(new String(java.nio.file.Files.readAllBytes(statsPath), "UTF-8")
      === "2,2,6")
    // serving still works off the recovered stats
    assert(InvertedIndex.bm25Query(spark, idx, Seq("bb"), k = 5)
      .count() === 2L)
    // a deleted sidecar recovers the same way
    java.nio.file.Files.delete(statsPath)
    assert(InvertedIndex.readStats(spark, idx) === Some((2L, 2L, 6L)))
    // and the index keeps accepting appends after recovery
    InvertedIndex.append(spark,
      Seq((4L, "dd ee")).toDF("doc_id", "text"), idx)
    assert(InvertedIndex.readStats(spark, idx) === Some((4L, 3L, 8L)))
  }

  test("compactPostings: one sorted file per bucket, replay dups folded, serving unchanged") {
    val idx = freshIndex()
    // replay append: watermark covers it, skipped — force raw dup rows
    // instead by appending a later batch twice around a wiped sidecar
    InvertedIndex.append(spark,
      Seq((4L, "bb ee"), (5L, "ee ff")).toDF("doc_id", "text"), idx)
    // simulate the stale-watermark crash: sidecar says 3, rows for 4-5
    // are already on disk, so the replayed batch re-appends them.
    // (Drop Hadoop's .crc sidecar too — a direct java.nio write would
    // otherwise fail checksum on read and route into stats RECOVERY,
    // which reads the true watermark from the postings.)
    val statsPath = java.nio.file.Paths.get(idx, "_stats")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(idx, "._stats.crc"))
    java.nio.file.Files.write(statsPath, "3,3,6".getBytes("UTF-8"))
    InvertedIndex.append(spark,
      Seq((4L, "bb ee"), (5L, "ee ff")).toDF("doc_id", "text"), idx)
    // byte-identical dup rows present; read-time fold hides them
    val before = InvertedIndex.bm25Query(spark, idx, Seq("bb", "ee"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    assert(spark.read.parquet(s"$idx/postings")
      .groupBy("doc_id", "term").count().filter(col("count") > 1)
      .count() > 0, "test setup failed to produce replay duplicates")
    InvertedIndex.compactPostings(spark, idx)
    // physical shape: exactly one parquet file per bucket dir
    val bucketDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(idx, "postings")).iterator()
    bucketDirs.forEachRemaining { p =>
      if (java.nio.file.Files.isDirectory(p)) {
        val files = java.nio.file.Files.list(p).iterator()
        var one: java.nio.file.Path = null
        var n = 0
        files.forEachRemaining { f =>
          if (f.toString.endsWith(".parquet")) { n += 1; one = f }
        }
        assert(n === 1, s"bucket ${p.getFileName} has $n files")
        // and the file IS (term, doc_id)-sorted — the dynamic-partition
        // writer would silently destroy a sort that does not lead with
        // the partition column, so assert the physical row order
        val rows = spark.read.parquet(one.toString)
          .select("term", "doc_id").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(rows === rows.sorted,
          s"bucket ${p.getFileName} rows not (term, doc_id)-sorted: $rows")
      }
    }
    // logical shape: dups gone, serving identical, stats untouched
    assert(spark.read.parquet(s"$idx/postings")
      .groupBy("doc_id", "term").count().filter(col("count") > 1)
      .count() === 0L)
    val after = InvertedIndex.bm25Query(spark, idx, Seq("bb", "ee"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    assert(after.toSeq === before.toSeq, "compaction changed serving")
    assert(InvertedIndex.readStats(spark, idx) === Some((5L, 5L, 10L)))
    // crash recovery: a stranded old dir with no live postings restores
    val f = new org.apache.hadoop.fs.Path(s"$idx/postings")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.rename(new org.apache.hadoop.fs.Path(s"$idx/postings"),
      new org.apache.hadoop.fs.Path(s"$idx/postings__compact_old")))
    InvertedIndex.recoverCompact(spark, idx)
    assert(InvertedIndex.bm25Query(spark, idx, Seq("bb"), k = 10)
      .count() === 3L) // bb lives in docs 1, 2, 4
  }

  test("querying an absent index fails loudly") {
    val e = intercept[RuntimeException] {
      InvertedIndex.bm25Query(spark, "/tmp/graft_no_such_index",
        Seq("aa"), k = 5)
    }
    assert(e.getMessage.contains("no inverted index"))
  }

  /** Deletion oracle: the index after deleteDocs must serve EXACTLY
    * what an inline recompute over the surviving docs serves — same
    * constants, same scores, same ranks. */
  private def inlineBm25(docs: Seq[(Long, String)], terms: Seq[String],
                         k: Int = 10): Seq[(Long, Long, Double)] = {
    import graft.queries.TextQueries
    TextQueries.bm25(docs.toDF("doc_id", "text"),
        terms.toDF("term"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(_._2)
  }

  private def served(idx: String, terms: Seq[String], k: Int = 10)
      : Seq[(Long, Long, Double)] =
    InvertedIndex.bm25Query(spark, idx, terms, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(_._2)

  private val DelDocs = Seq(
    (1L, "aa bb cc"), (2L, "bb cc dd"), (3L, ""),
    (4L, "aa aa ee"), (5L, "cc dd ee ff"))

  test("deleteDocs hides docs immediately and serves the exact surviving-corpus scores") {
    val idx = freshIndex() // docs 1-3
    InvertedIndex.append(spark,
      Seq((4L, "aa aa ee"), (5L, "cc dd ee ff")).toDF("doc_id", "text"), idx)
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(2L, 4L)) === 2L)
    // BM25 recomputed inline over ONLY the survivors — constants
    // (n_docs, avgdl) shifted by the deletion — must match the served
    // result exactly, pre-compaction (the anti-join + subtraction path)
    val expect = inlineBm25(DelDocs.filterNot(d => Set(2L, 4L)(d._1)),
      Seq("aa", "cc", "ee"))
    assert(served(idx, Seq("aa", "cc", "ee")) === expect)
    // gross stats untouched (deletion never rewrites _stats)
    assert(InvertedIndex.readStats(spark, idx) === Some((5L, 5L, 13L)))
  }

  test("deleteDocs is idempotent: replays, overlaps, and unknown ids append nothing") {
    val idx = freshIndex()
    InvertedIndex.append(spark,
      Seq((4L, "aa aa ee"), (5L, "cc dd ee ff")).toDF("doc_id", "text"), idx)
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(2L)) === 1L)
    val once = served(idx, Seq("aa", "cc", "ee"))
    // exact replay: no new tombstones, serving unchanged
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(2L)) === 0L)
    // overlap: only the new id lands
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(2L, 4L)) === 1L)
    // never-ingested ids (beyond the watermark, holes): no-ops
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(99L, -7L)) === 0L)
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(2L, 99L)) === 0L)
    // the id-relation overload agrees with the literal-list fast path
    assert(InvertedIndex.deleteDocs(spark, idx,
      Seq(2L, 4L, 99L).toDF("doc_id")) === 0L)
    assert(served(idx, Seq("aa", "cc", "ee")) ===
      inlineBm25(DelDocs.filterNot(d => Set(2L, 4L)(d._1)),
        Seq("aa", "cc", "ee")))
    assert(once.nonEmpty)
  }

  test("deleting a zero-token doc adjusts n_docs (and nothing else)") {
    val idx = freshIndex() // doc 3 is zero-token: dl=0, no postings
    val before = served(idx, Seq("bb"))
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(3L)) === 1L)
    // n_docs 3→2 shifts idf/avgdl, so scores must equal the 2-doc
    // inline recompute — NOT the pre-delete serving
    val expect = inlineBm25(DelDocs.take(2), Seq("bb"))
    assert(served(idx, Seq("bb")) === expect)
    assert(served(idx, Seq("bb")) !== before)
  }

  test("compaction erases deleted content physically; serving is unchanged") {
    val idx = freshIndex()
    InvertedIndex.append(spark,
      Seq((4L, "aa aa ee"), (5L, "cc dd ee ff")).toDF("doc_id", "text"), idx)
    InvertedIndex.deleteDocs(spark, idx, Seq(2L, 3L))
    val before = served(idx, Seq("aa", "cc", "ee"))
    InvertedIndex.compactPostings(spark, idx)
    // GDPR posture: the dead docs' content rows are GONE from disk —
    // postings and doclens both — not merely filtered at read
    assert(spark.read.parquet(s"$idx/postings")
      .filter(col("doc_id").isin(2L, 3L)).count() === 0L)
    assert(spark.read.parquet(s"$idx/doclens")
      .filter(col("doc_id").isin(2L, 3L)).count() === 0L)
    // tombstones persist (id+length only) and keep the constants exact
    assert(spark.read.parquet(s"$idx/tombstones").count() === 2L)
    assert(served(idx, Seq("aa", "cc", "ee")) === before)
    // post-compaction deletes still work (doclens rewritten, live)
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(5L)) === 1L)
    assert(served(idx, Seq("aa", "cc", "ee")) ===
      inlineBm25(Seq(DelDocs.head, DelDocs(3)), Seq("aa", "cc", "ee")))
  }

  test("stats rebuild after delete+compact recovers the GROSS corpus (tombstone union)") {
    val idx = freshIndex()
    InvertedIndex.append(spark,
      Seq((4L, "aa aa ee"), (5L, "cc dd ee ff")).toDF("doc_id", "text"), idx)
    InvertedIndex.deleteDocs(spark, idx, Seq(4L, 5L))
    InvertedIndex.compactPostings(spark, idx) // doclens rows for 4,5 erased
    java.nio.file.Files.delete(java.nio.file.Paths.get(idx, "_stats"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(idx, "._stats.crc"))
    // gross stats (wm 5, 5 docs, sum_dl 13) must come back even though
    // the deleted docs now live ONLY in the tombstones — a doclens-only
    // rebuild would undercount and the serving subtraction would then
    // double-delete
    assert(InvertedIndex.readStats(spark, idx) === Some((5L, 5L, 13L)))
    assert(served(idx, Seq("aa", "cc")) ===
      inlineBm25(DelDocs.take(3), Seq("aa", "cc")))
  }

  test("uncommitted tombstone/doclens dirs (crashed first write) read as absent") {
    val idx = freshIndex()
    // a FIRST deleteDocs that died before its job committed leaves a
    // tombstones dir holding only _temporary — serving must treat it
    // as "no deletions", not throw schema inference errors
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(idx, "tombstones", "_temporary"))
    assert(InvertedIndex.bm25Query(spark, idx, Seq("bb"), k = 5)
      .count() === 2L)
    // and a re-run delete commits over the debris
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(2L)) === 1L)
    assert(served(idx, Seq("bb")) === inlineBm25(
      Seq(DelDocs.head, DelDocs(2)), Seq("bb")))
    // same for a crashed doclens BACKFILL: uncommitted dir is re-run
    val idx2 = freshIndex()
    dropDoclens(idx2)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(idx2, "doclens", "_temporary"))
    assert(InvertedIndex.deleteDocs(spark, idx2, Seq(1L)) === 1L)
    assert(served(idx2, Seq("bb", "cc")) ===
      inlineBm25(DelDocs.slice(1, 3), Seq("bb", "cc")))
  }

  test("legacy index (no doclens) gets a postings backfill on first delete") {
    val idx = freshIndex()
    dropDoclens(idx)
    // doc 1 has postings, so the backfilled doclens can resolve it
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(1L)) === 1L)
    // the legacy caveat, honestly: zero-token doc 3 never wrote
    // postings, so a backfilled doclens cannot see it — deleting it is
    // a no-op (stats keep counting it), the documented stale bound
    assert(InvertedIndex.deleteDocs(spark, idx, Seq(3L)) === 0L)
    assert(served(idx, Seq("bb", "cc")) ===
      inlineBm25(DelDocs.slice(1, 3), Seq("bb", "cc")))
  }
}
