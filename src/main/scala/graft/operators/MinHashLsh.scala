package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.Generations

/** MinHash-LSH candidate-pair generation, extracted from the
  * `dedup_minhash_pairs` query so the hot-band skew behavior is testable
  * on synthetic fixtures. Semantics are EXACTLY the oracle-checked
  * query's (split-hash md5 signatures, lexicographic min, banded md5
  * keys, self-equi-join on (band, key)) — do not change the arithmetic
  * without re-certifying the DuckDB hash compare.
  *
  * Skew posture: the shuffle key is the band hash, so the one pathology
  * is a HOT BUCKET — thousands of near-identical docs sharing a band
  * signature land on one reducer, which then emits O(bucket²) pairs.
  * Salting cannot fix a self-join (a salted copy would miss same-key
  * pairs across salt groups); the correct lever is AQE's skew-join split
  * (`spark.sql.adaptive.skewJoin.*`), which splits the oversized join
  * partition and replicates the matching side — LlmPipelineSpec asserts
  * the split actually engages on a hot-band fixture. Past that, bucket
  * caps (drop buckets over a size bound, documented recall loss) are the
  * production escape hatch.
  */
object MinHashLsh {

  /** LSH band keys from shingle hashes `sh` (doc_id, h = md5 hex of the
    * shingle): per-doc split-hash MinHash signature, banded into
    * `numHashes / rowsPerBand` md5 band keys. Output: (doc_id, band,
    * key) — `numBands` rows per doc. The min is duplicate-insensitive,
    * so a raw (non-distinct) shingle feed yields identical keys with no
    * distinct shuffle. */
  def bandKeys(sh: DataFrame, numHashes: Int = 8,
               rowsPerBand: Int = 2): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    // each split-hash slice reads 4 hex chars of the 32-char md5 —
    // beyond 8 hashes the substring runs off the end and every doc's
    // tail signatures degenerate to min("") = "", making the affected
    // bands one global all-pairs bucket (O(N²) join on one reducer)
    require(numHashes * 4 <= 32,
      s"numHashes=$numHashes exceeds the md5 split-hash budget (max 8); " +
        "use a second hash column for wider signatures")
    val numBands = numHashes / rowsPerBand
    val sigs = (1 to numHashes).map(r =>
      min(substring(col("h"), (r - 1) * 4 + 1, 4)).as(s"sig$r"))
    val signed = sh.groupBy("doc_id").agg(sigs.head, sigs.tail: _*)
    val bandCols = (0 until numBands).map { b =>
      val parts = (1 to rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat(parts: _*)).as("key")).as(s"b$b")
    }
    signed.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        explode(array((0 until numBands).map(b => col(s"b$b")): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate pairs from shingle hashes `sh` (doc_id, h = md5 hex of the
    * shingle). Output: (doc_a, doc_b, n_shared_bands), doc_a < doc_b. */
  def bandedPairs(sh: DataFrame, numHashes: Int = 8,
                  rowsPerBand: Int = 2): DataFrame = {
    val banded = bandKeys(sh, numHashes, rowsPerBand)
    pairsOf(banded)
  }

  /** The ONE copy of the certified pair arithmetic (its n_shared_bands
    * is oracle-checked): band-key equi-self-join, doc_a < doc_b, count
    * of shared bands. [[bandedPairs]] and [[cappedPairs]] both consume
    * it — the capped path differs only in WHICH keys survive. */
  private def pairsOf(keys: DataFrame): DataFrame =
    keys.as("x").join(keys.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))

  /** Per-bucket population of the banded key space: (band, key,
    * n_docs). Map-side-combinable groupBy on the same (band, key) the
    * pair join hashes on, so Catalyst reuses one exchange for the size
    * pass and the join. */
  def bucketSizes(keys: DataFrame): DataFrame =
    keys.groupBy("band", "key").agg(count(lit(1)).cast("long").as("n_docs"))

  /** The degenerate-template report: buckets whose population exceeds
    * `maxBucket`. At corpus scale a hot band key is almost always
    * boilerplate (license headers, scraped navigation chrome, empty
    * docs) — thousands of near-identical documents collapsing onto one
    * band signature, which the self-join would turn into O(bucket²)
    * pairs on a single reducer. This report is the audit artifact a
    * pipeline keeps when it caps: which templates were suppressed and
    * how many documents each absorbed. */
  def hotBuckets(keys: DataFrame, maxBucket: Long): DataFrame =
    bucketSizes(keys).filter(col("n_docs") > maxBucket)

  /** [[bandedPairs]] with the production skew escape hatch: buckets
    * over `maxBucket` docs emit NO pairs (route them to [[hotBuckets]]
    * for template-level handling instead — an exact-dedup pass over the
    * hot bucket's members is O(bucket), not O(bucket²)). AQE's
    * skew-join split keeps a moderately hot bucket from stalling a
    * reducer, but it cannot shrink the quadratic OUTPUT; the cap is the
    * only lever that does. Recall loss is confined to the reported
    * buckets, so it is auditable rather than silent. */
  def cappedPairs(sh: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2,
                  maxBucket: Long = 1000): DataFrame = {
    val keys = bandKeys(sh, numHashes, rowsPerBand)
    val surviving = keys.join(
      bucketSizes(keys).filter(col("n_docs") <= maxBucket)
        .select("band", "key"),
      Seq("band", "key"))
    pairsOf(surviving)
  }

  /** Persist a corpus's band keys as the resident DEDUP INDEX — the
    * artifact an incremental (daily-ingest) pipeline keeps so new
    * batches dedup against 100 TB of resident docs without ever
    * recomputing or reshuffling resident text. Band-key rows are
    * (doc_id, band, key): ~`numBands` × 48 bytes per doc, ~0.1% of a
    * multi-KB document corpus. */
  def writeBandIndex(keys: DataFrame, path: String): Unit = {
    // the watermark max PIGGYBACKS on the write action (CollectMetrics
    // via Observation): one action computes the keys, writes them, and
    // observes max(doc_id) on the way past — no persist, no second
    // aggregation pass over the shingle→signature pipeline
    val obs = org.apache.spark.sql.Observation()
    keys.select(col("doc_id"), col("band"), col("key"))
      .observe(obs, max(col("doc_id")).as("max_id"))
      .write.mode("overwrite").parquet(path)
    obs.get.get("max_id").collect { case m: Long => m }
      .foreach(Watermark.write(keys.sparkSession, path, _))
  }

  /** The canonical index loader: resident band keys minus the
    * tombstoned docs. Every probe path reads through this, so a
    * takedown is invisible to candidate generation the moment
    * [[deleteFromBandIndex]] returns — the deleted doc can no longer
    * seed pairs — while the physical rows wait for the next
    * [[compactBandIndex]] to be erased. The tombstone side is tiny
    * (ids only), so AQE broadcasts the anti-join; with no tombstones
    * the plan is the bare scan. */
  def readBandIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    Tombstones.mask(spark, s"$path/$TombstoneDir", "doc_id",
      spark.read.parquet(path))

  /** `_`-prefixed so the parquet reader of the index dir ignores it —
    * the [[Watermark]] sidecar convention. */
  private val TombstoneDir = "_tombstones"

  /** Delete docs from the resident dedup index (takedown / GDPR
    * erasure): a pure append of id rows to the `_tombstones` sidecar
    * dir — nothing else changes, so a crashed or replayed delete just
    * re-runs to convergence (already-tombstoned ids are skipped; a
    * duplicate row from a crash mid-append is folded by the readers'
    * distinct). Unlike the inverted index there are no corpus
    * constants to maintain — pair generation is membership-shaped —
    * so tombstones need no dl payload and die with the next
    * compaction's physical erase. Ids never indexed are harmless
    * no-ops. Returns the count of newly tombstoned ids. */
  def deleteFromBandIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, idsDf: DataFrame): Long =
    Tombstones.appendNew(spark, s"$path/$TombstoneDir", "doc_id",
      idsDf.select(col("doc_id")))

  /** [[deleteFromBandIndex]] for a literal takedown list. */
  def deleteFromBandIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, ids: Seq[Long]): Long =
    Tombstones.ofIds(spark, ids, "doc_id")(deleteFromBandIndex(spark, path, _))

  /** Append a batch's band keys to the resident index (delta-only write;
    * resident files untouched — same lifecycle posture as
    * [[graft.index.ShardedIndex.appendDelta]]), then advance the max-id
    * [[Watermark]] sidecar — the replay detector
    * [[graft.streaming.StreamingIngest.incrementalDedupBatch]] reads. */
  def appendBandIndex(keys: DataFrame, path: String): Unit = {
    val obs = org.apache.spark.sql.Observation()
    keys.select(col("doc_id"), col("band"), col("key"))
      .observe(obs, max(col("doc_id")).as("max_id"))
      .write.mode("append").parquet(path)
    obs.get.get("max_id").collect { case m: Long => m }
      .foreach(Watermark.advance(keys.sparkSession, path, "doc_id", _))
  }

  /** Fold an append-accumulated band index into a fresh compacted
    * layout. Daily [[appendBandIndex]] calls each leave their own small
    * file set; after months of ingest the index is thousands of tiny
    * files, and the probe scan pays per-file open cost instead of
    * streaming large row groups. Compaction range-partitions the union
    * by `key` and sorts within partitions, so (a) scan parallelism is
    * `numFiles` even-sized splits, (b) parquet dictionary/RLE pages
    * compress the sorted key runs, (c) row-group min/max stats on `key`
    * become selective. Also drops exact-duplicate rows (the only way
    * one arises is an at-least-once replayed append — [[bandKeys]]
    * emits one row per (doc, band)), so compaction is the repair step
    * for replay double-appends.
    *
    * Tombstoned docs ([[deleteFromBandIndex]]) are ERASED PHYSICALLY
    * here: the staging read goes through [[readBandIndex]], so the
    * promoted layout has no dead rows — and the `_tombstones` sidecar
    * is intentionally DROPPED with the old dir (it rides the
    * path→old rename): once the rows are gone the tombstones have
    * nothing left to mask, and the watermark stays gross (max id ever
    * ingested), so replay detection is unaffected. A crash between
    * the renames restores old — tombstones included — so no state
    * loses its mask early.
    *
    * Concurrency contract: compaction requires QUIESCENCE — no
    * concurrent probe or ingest ([[Generations.swap]]). A compact that
    * crashed between its renames is recovered at the start of the next
    * one ([[Generations.recoverSwap]]). */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, numFiles: Int = 0): Unit = {
    Generations.recoverSwap(spark, path)
    Generations.swap(spark, path)(foldInto(spark, path, _, numFiles))
  }

  /** The band fold both compactions share: `src`'s live key rows,
    * replay duplicates dropped and tombstoned docs erased,
    * key-range-partitioned into `numFiles` sorted files at `dst` (0 =
    * default parallelism), the gross watermark carried over. */
  private def foldInto(spark: org.apache.spark.sql.SparkSession,
                       src: String, dst: String, numFiles: Int): Unit = {
    val n = if (numFiles > 0) numFiles
            else spark.sparkContext.defaultParallelism
    val wm = Watermark.read(spark, src, "doc_id")
    readBandIndex(spark, src)
      .dropDuplicates("doc_id", "band", "key")
      .repartitionByRange(n, col("key"), col("band"))
      .sortWithinPartitions("key", "band")
      .write.mode("overwrite").parquet(dst)
    wm.foreach(Watermark.write(spark, dst, _))
  }

  // The generation-versioned face: each generation is an ordinary
  // band-key index (see [[Generations]]' versioned shell). Probes read
  // [[readVersioned]].
  private val Versioned = new Generations.Face("band-index", "band")

  /** Persist the first corpus's band keys as generation 0 under `root`
    * and publish. Returns the live generation dir. */
  def buildVersioned(keys: DataFrame, root: String,
                     committer: String = ""): String =
    Versioned.build(keys.sparkSession, root, committer) { dir =>
      writeBandIndex(keys, dir)
      dir
    }

  /** The live generation dir — the `path` readers hand to
    * [[readBandIndex]] (or writers poll for the watermark). Immutable
    * once published. */
  def resolveVersioned(spark: org.apache.spark.sql.SparkSession,
                       root: String): String =
    Versioned.resolve(spark, root)

  /** [[readBandIndex]] against the live generation — the probe face. */
  def readVersioned(spark: org.apache.spark.sql.SparkSession,
                    root: String): DataFrame =
    readBandIndex(spark, resolveVersioned(spark, root))

  /** [[appendBandIndex]] against the live generation. */
  def appendVersioned(keys: DataFrame, root: String,
                      committer: String = ""): Unit =
    Versioned.update(keys.sparkSession, root, "append", committer)(
      appendBandIndex(keys, _))

  /** [[deleteFromBandIndex]] against the live generation. */
  def deleteVersioned(spark: org.apache.spark.sql.SparkSession,
                      root: String, idsDf: DataFrame,
                      committer: String = ""): Long =
    Versioned.update(spark, root, "delete", committer)(
      deleteFromBandIndex(spark, _, idsDf))

  /** [[deleteVersioned]] for a literal takedown list. Explicit overload
    * pair (not a default argument): Scala allows default arguments on
    * only ONE overloaded alternative, and the DataFrame variant holds
    * it. */
  def deleteVersioned(spark: org.apache.spark.sql.SparkSession,
                      root: String, ids: Seq[Long]): Long =
    deleteVersioned(spark, root, ids, "")

  def deleteVersioned(spark: org.apache.spark.sql.SparkSession,
                      root: String, ids: Seq[Long],
                      committer: String): Long =
    Tombstones.ofIds(spark, ids, "doc_id")(
      deleteVersioned(spark, root, _, committer))

  /** Band count per doc, cached per live GENERATION dir — immutable
    * once published, so the cache can never go stale (a root deleted
    * and rebuilt with different banding parameters in the same JVM
    * gets a fresh generation dir and therefore a fresh entry; keying
    * by root would serve the old count to the maintenance trigger).
    * [[bandKeys]]' banding parameters are part of the index contract
    * (every append must use the build-time pair, or its keys would
    * never collide with resident ones), so the count is a constant of
    * the generation — one column-pruned max per JVM per generation,
    * not one per maintenance poll. Same keying discipline as
    * [[graft.index.ParquetMeta.rowsCached]]. */
  private val bandsCache =
    new scala.collection.concurrent.TrieMap[String, Int]

  /** Tombstoned-doc fraction of the live generation. [[bandKeys]]
    * emits a uniform `numBands` rows per doc, so the tombstoned DOC
    * fraction equals the dead ROW fraction: tombstones × bands over
    * footer-counted rows. Re-arms after a fold — the successor starts
    * tombstone-free. */
  def deletedFractionVersioned(spark: org.apache.spark.sql.SparkSession,
                               root: String): Double = {
    val live = resolveVersioned(spark, root)
    val rows = graft.index.ParquetMeta.rowsCached(spark, live)
    if (rows == 0) return 0.0
    Tombstones.idsOf(spark, s"$live/_tombstones", "doc_id") match {
      case None => 0.0
      case Some(t) =>
        val nBands = bandsCache.getOrElseUpdate(live, {
          // evict superseded generations of the same root on insert:
          // a long-lived maintenance JVM polls across many folds, and
          // entries for retired dirs would otherwise accumulate for
          // the life of the process (scoped to exact gen-dir siblings
          // — a distinct root nested under this one is untouched)
          graft.index.ParquetMeta.evictSupersededGens(bandsCache, live)
          spark.read.parquet(live)
            .agg(max(col("band"))).head().getInt(0) + 1
        })
        t.count().toDouble * nBands / rows
    }
  }

  /** The maintenance-loop trigger: fold into a new generation iff the
    * tombstoned fraction crosses `maxDeletedFrac` OR appends have
    * accumulated more than `maxFiles` key files. Returns the live dir
    * either way. */
  def maybeCompactVersioned(spark: org.apache.spark.sql.SparkSession,
                            root: String, maxDeletedFrac: Double = 0.2,
                            maxFiles: Int = 64,
                            committer: String = ""): String = {
    val live = resolveVersioned(spark, root)
    if (deletedFractionVersioned(spark, root) > maxDeletedFrac ||
        Generations.dataFiles(spark, live)._1 > maxFiles)
      compactVersioned(spark, root, committer = committer)
    else live
  }

  /** Serve-through-compaction fold: the [[compactBandIndex]] layout
    * (replay duplicates dropped, tombstoned docs ERASED physically,
    * key-range-partitioned sorted files) written into a NEW
    * generation, the gross watermark carried verbatim; publish; retire
    * out-of-grace generations. Live generation strictly read-only. */
  def compactVersioned(spark: org.apache.spark.sql.SparkSession,
                       root: String, numFiles: Int = 0,
                       committer: String = ""): String =
    Versioned.fold(spark, root, committer) { (live, dir) =>
      foldInto(spark, live, dir, numFiles)
      dir
    }

  /** Incremental near-dup candidates: all banded pairs of resident ∪
    * batch that TOUCH the batch — exactly the new rows [[bandedPairs]]
    * over the union would add. Caller contract: `residentKeys` and
    * `newKeys` carry disjoint doc_id sets (enforced cheaply on the
    * batch side by the ingest gate).
    *
    * Scale shape: the batch's keys BROADCAST (a daily batch is bounded);
    * the resident index is scanned once, joined hash-local with zero
    * shuffle of resident rows, and only matching pairs reach the final
    * pair-count shuffle. Resident text is never touched — the index is
    * the only resident artifact read. batch×batch pairs come from the
    * ordinary self-join on the (tiny) batch keys. */
  def incrementalPairs(residentKeys: DataFrame,
                       newKeys: DataFrame): DataFrame = {
    val cond = col("x.band") === col("y.band") && col("x.key") === col("y.key")
    val crossPairs = residentKeys.as("x")
      .join(broadcast(newKeys.as("y")), cond)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        col("x.band").as("band"))
    val withinPairs = newKeys.as("x").join(newKeys.as("y"), cond)
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.band").as("band"))
    // DISTINCT bands per pair, not join rows: bandKeys emits one row per
    // (doc, band) so the two are equal on a clean index, but an
    // at-least-once REPLAYED append (stale watermark) leaves exact-dup
    // resident rows until compaction — a raw count would inflate band
    // counts through that window, a distinct count cannot. The distinct
    // collapses inside the same partial agg (band is a small int).
    crossPairs.unionAll(withinPairs)
      .groupBy("doc_a", "doc_b")
      .agg(countDistinct(col("band")).as("n_shared_bands"))
  }
}
