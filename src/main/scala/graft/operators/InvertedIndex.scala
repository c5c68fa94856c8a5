package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.Generations

/** Persisted, incrementally-appendable INVERTED INDEX with BM25
  * serving — the lexical mirror of the incremental band/cell/vector
  * indexes: a retrieval corpus is ingested batch by batch, each batch
  * appends its postings once, and queries answer from the index
  * without ever re-tokenizing the corpus.
  *
  * Layout under `path`:
  *  - `postings/` — parquet `(doc_id, dl, term, tf)` partitioned by
  *    `bucket = crc32(term) % 64`: a query for B distinct terms prunes
  *    to ≤B partitions at the SCAN (partition pruning + term predicate
  *    pushdown), so serving cost scales with the matched postings, not
  *    the corpus. At 100 TB the postings relation is the standard
  *    sharded inverted file; nothing here is resident.
  *  - `doclens/` — flat parquet `(doc_id, dl)`, one file per append
  *    batch: the corpus doc-length table (16 B/doc; at 100 TB this is
  *    corpus metadata, ~0.01% of the postings). It serves two jobs
  *    the postings cannot: O(delete-batch) dl lookups for
  *    [[deleteDocs]] (ids are MONOTONE, so each batch file covers a
  *    contiguous id range and parquet row-group min/max stats prune
  *    the id probe to the touched files — the postings are
  *    term-partitioned, so the same lookup there is a full scan), and
  *    an EXACT `_stats` rebuild (zero-token docs write no postings
  *    rows but do write a dl=0 doclens row).
  *  - `tombstones/` — flat parquet `(doc_id, dl)`,
  *    append-only: the DELETED doc set (takedowns, license
  *    revocations, GDPR erasure). Deletion is a pure tombstone append
  *    — no other file changes — so there is NO cross-file invariant to
  *    crash-break: serving derives live constants by subtracting the
  *    (distinct) tombstone set from the gross `_stats`, and hides
  *    tombstoned docs with an anti-join. [[compactPostings]] erases
  *    the dead docs' CONTENT physically (postings + doclens rows
  *    dropped); the tombstones themselves persist — 16 B/doc of
  *    id+length, no content — because the gross `_stats` is never
  *    rewritten. Update semantics compose from the two primitives:
  *    delete the old doc id, append the revision under a fresh
  *    monotone id.
  *  - `_stats` — one tiny text file `watermark,n_docs,sum_dl`:
  *    the GROSS (ingested, pre-deletion) corpus-level BM25 constants
  *    (maintained additively per batch — at scale this pair is corpus
  *    metadata, never recomputed) plus the max-doc-id watermark that
  *    makes at-least-once replays idempotent (same posture as
  *    [[Watermark]]). Deletions never touch it; live constants are
  *    gross minus tombstones, exact in every crash state.
  *
  * Crash window (same stale-low posture as [[Watermark]]): `_stats`
  * writes AFTER the postings append (temp-write + swap, so the live
  * sidecar is never truncated mid-write; a sidecar lost in the swap
  * window is rebuilt from the postings on the next read), so a crash
  * in between leaves the watermark low and a replayed batch re-appends
  * byte-identical posting rows. [[bm25Query]] folds exact duplicates with
  * `max(tf)` per (doc_id, dl, term) — a doc lives in exactly one
  * batch, so duplicates are always identical rows and the fold is
  * lossless; stats were never double-added because the stats write
  * and the append commit together in the non-crash path and the
  * replay re-append is detected on the next healthy batch.
  *
  * Scoring delegates to the SAME `bm25Rank` tail the inline
  * hash-green `text_bm25_query` uses
  * ([[graft.queries.TextQueries.bm25Rank]]) — the index path cannot
  * drift from the oracle-checked formula.
  */
object InvertedIndex {

  val NumBuckets = 64

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (watermark, GROSS n_docs, GROSS sum_dl) or None for an absent/
    * empty index. A missing or corrupt sidecar (crash inside
    * [[writeStats]]'s swap window, or a legacy index) is RECOVERED by
    * one aggregation over distinct `(doc_id, dl)` rows of
    * doclens ∪ tombstones when doclens exists (EXACT gross stats —
    * doclens carries zero-token docs, and the tombstone union restores
    * docs a compaction already erased from doclens; the distinct folds
    * the pre-compaction overlap), else of postings ∪ tombstones (the
    * legacy path — zero-token LIVE docs are invisible to postings, so
    * this rebuild is the documented stale-LOW recovery). The rebuilt
    * sidecar is re-written so the recovery scan runs once, not per
    * read. */
  def readStats(spark: SparkSession, path: String)
      : Option[(Long, Long, Long)] = {
    val p = new Path(path, "_stats")
    val f = fs(spark, path)
    val parsed: Option[(Long, Long, Long)] =
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try {
          val parts = scala.io.Source.fromInputStream(in).mkString.trim
            .split(",")
          Some((parts(0).toLong, parts(1).toLong, parts(2).toLong))
        } catch { case scala.util.control.NonFatal(_) => None }
        finally in.close()
      }
    parsed.orElse {
      val base =
        if (f.exists(new Path(s"$path/doclens/_SUCCESS")))
          Some(spark.read.parquet(s"$path/doclens")
            .select(col("doc_id"), col("dl")))
        else if (f.exists(new Path(s"$path/postings")))
          Some(spark.read.parquet(s"$path/postings")
            .select(col("doc_id"), col("dl")))
        else None
      base.flatMap { b =>
        val gross = tombstonesOf(spark, path)
          .map(t => b.union(t.select(col("doc_id"), col("dl"))))
          .getOrElse(b).distinct()
        val docs = gross
          .agg(max(col("doc_id")), count(lit(1)), sum(col("dl"))).head()
        if (docs.isNullAt(0)) None
        else {
          val rebuilt = (docs.getLong(0), docs.getLong(1), docs.getLong(2))
          writeStats(spark, path, rebuilt._1, rebuilt._2, rebuilt._3)
          Some(rebuilt)
        }
      }
    }
  }

  /** Temp-write + swap (the compactBandIndex posture): a crash never
    * truncates the LIVE sidecar — either the old `_stats` survives, or
    * the delete/rename window left none and [[readStats]] rebuilds from
    * the postings. */
  private def writeStats(spark: SparkSession, path: String,
                         wm: Long, nDocs: Long, sumDl: Long): Unit =
    Watermark.promoteSidecar(fs(spark, path),
      new Path(path, "_stats.tmp"), new Path(path, "_stats"))(
      _.write(s"$wm,$nDocs,$sumDl".getBytes("UTF-8")))

  /** Append one batch of `(doc_id, text)` rows. Doc ids must be
    * MONOTONE across batches (the ingest contract every incremental
    * index here shares); a batch whose ids the watermark already
    * covers is a REPLAY and is skipped idempotently; a watermark
    * landing INSIDE the batch range (a crash between the postings
    * write and the sidecar promote, or a stats rebuild that
    * undercounted trailing zero-token docs — invisible to postings)
    * appends only the uncovered SUFFIX, converging idempotently
    * instead of wedging the ingest. Each batch costs ONE tokenize pass
    * (persisted projection serves the stats aggregate and the postings
    * write) — the corpus is never re-read. */
  def append(spark: SparkSession, docsDf: DataFrame, path: String): Unit = {
    // recover a half-done compact BEFORE writing: appending into the
    // crash window (old dir stranded, live dir missing) would recreate
    // a live dir holding only this batch, and the NEXT recovery would
    // misread both-present as crash-after-promote and delete the
    // stranded old — the full historical table
    recoverCompact(spark, path)
    import graft.queries.TextQueries
    // REPLAY FAST-PATH: the replay decision needs only the batch's id
    // RANGE, and ids are a bare parquet column — probing min/max BEFORE
    // the tokenizer means an at-least-once re-delivered batch costs one
    // column-pruned scan (the text column is never read) instead of a
    // full tokenize pass, and a partially-covered batch tokenizes only
    // the uncovered suffix instead of tokenizing everything and then
    // re-aggregating the filtered remainder.
    val idr = docsDf.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (idr.isNullAt(0)) return // empty batch: nothing to append
    val (minId, maxId) = (idr.getLong(0), idr.getLong(1))
    val prior = readStats(spark, path)
    if (prior.exists(_._1 >= maxId)) return // replay: already indexed
    val pruned = prior.map(_._1) match {
      // partial coverage: append only the ids the watermark missed
      case Some(wm) if wm >= minId => docsDf.filter(col("doc_id") > wm)
      case _ => docsDf
    }
    val toks = TextQueries.tokenizedOf(pruned)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the pruned batch is non-empty by the id-range checks above, so
      // both writes always run; the postings write is what fills the
      // persisted tokenized projection (ONE tokenize pass per batch)
      TextQueries.postingsOfTokenized(toks)
        .withColumn("bucket",
          pmod(crc32(col("term")), lit(NumBuckets.toLong)))
        .write.mode("append").partitionBy("bucket")
        .parquet(s"$path/postings")
      // the doc-length sidecar rides the same batch (and the same
      // replay convergence: a crash before the sidecar promote
      // re-appends both, and reads fold the duplicates). coalesce(1)
      // — ONE flat file per batch of 16-byte rows: ids are monotone,
      // so the file's row-group min/max on doc_id makes later id
      // probes prune to the touched batches, cheaper than (and
      // without) a 64-dir partitionBy commit per append. The batch
      // stats the `_stats` sidecar needs PIGGYBACK on this write
      // (CollectMetrics via Observation, the writeBandIndex posture) —
      // no separate aggregation job over the tokenized batch.
      val obs = org.apache.spark.sql.Observation()
      toks.select(col("doc_id"), col("dl"))
        .observe(obs, count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("s"))
        .coalesce(1)
        .write.mode("append").parquet(s"$path/doclens")
      val m = obs.get
      val (bCnt, bSum) = (m("n").asInstanceOf[Long], m("s").asInstanceOf[Long])
      val (n0, s0) = prior.map(p => (p._2, p._3)).getOrElse((0L, 0L))
      writeStats(spark, path, maxId, n0 + bCnt, s0 + bSum)
    } finally toks.unpersist(false)
  }

  /** Distinct `(doc_id, dl)` tombstone set, or None when nothing was
    * ever deleted. The distinct folds crash-replayed duplicate rows;
    * rows are `(id, length)` only — no content — so keeping them for
    * the index lifetime costs 16 B per deleted doc and preserves the
    * no-cross-file-invariant crash posture (gross `_stats` minus this
    * set is exact in EVERY intermediate state). */
  private def tombstonesOf(spark: SparkSession, path: String)
      : Option[DataFrame] =
    Tombstones.rowsOf(spark, s"$path/tombstones")
      .map(_.select(col("doc_id"), col("dl")))

  /** Backfill `doclens/` for a legacy index from the postings (distinct
    * `(doc_id, dl)` — replay dups fold). Zero-token docs write no
    * postings, so a backfilled table misses them: deleting such a doc
    * is then a no-op (stats keep counting it) — the same documented
    * stale bound as the legacy `_stats` rebuild. Indexes appended by
    * this version never hit this path. */
  private def ensureDoclens(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    // marker check: a crashed backfill leaves an uncommitted dir that
    // must be re-run (the overwrite cleans it), not trusted
    if (f.exists(new Path(s"$path/doclens/_SUCCESS")) ||
        !f.exists(new Path(s"$path/postings"))) return
    spark.read.parquet(s"$path/postings")
      .select(col("doc_id"), col("dl")).distinct()
      .coalesce(1).write.mode("overwrite").parquet(s"$path/doclens")
  }

  /** Delete documents from the index (takedown / license revocation /
    * GDPR erasure): a pure append of `(doc_id, dl)` tombstone rows for
    * the ids that are LIVE (ingested, not already tombstoned) —
    * nothing else changes, so the operation is idempotent by
    * construction (a replayed or overlapping delete finds its ids
    * already tombstoned and appends nothing; a crash mid-append
    * re-runs to convergence, and reads fold any partial-write
    * duplicates). Serving hides the docs immediately
    * ([[bm25Query]] anti-join + exact constant subtraction);
    * [[compactPostings]] erases their content physically. Ids never
    * ingested are ignored. Returns the count of newly deleted docs.
    *
    * Scale: the dl lookup pushes the id set into the doclens scan,
    * where monotone-append row-group stats prune it to the touched
    * batch files — a B-doc takedown reads O(B-covering batches) of
    * 16-byte rows, never the postings. Id lists past
    * [[InPruneMaxIds]] route through the [[DataFrame]] overload
    * (a semi-join instead of an IN filter). */
  def deleteDocs(spark: SparkSession, path: String, ids: Seq[Long]): Long =
    if (ids.isEmpty) 0L
    else if (ids.size > InPruneMaxIds) {
      import spark.implicits._
      deleteDocs(spark, path, ids.distinct.toDF("doc_id"))
    }
    else deleteCore(spark, path,
      df => df.filter(col("doc_id").isInCollection(ids.distinct)))

  /** [[deleteDocs]] for an id RELATION (`doc_id` column) — the shape a
    * takedown feed or a dedup-keep-list join produces; no partition
    * pruning (the id set is data, not literals), one semi-join against
    * the doclens table instead. */
  def deleteDocs(spark: SparkSession, path: String,
                 idsDf: DataFrame): Long =
    deleteCore(spark, path, df => df.join(
      idsDf.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi"))

  /** Max literal-IN size for the pruned [[deleteDocs]] fast path. */
  val InPruneMaxIds = 1000

  private def deleteCore(spark: SparkSession, path: String,
                         restrict: DataFrame => DataFrame): Long = {
    recoverCompact(spark, path)
    ensureDoclens(spark, path)
    val f = fs(spark, path)
    if (!f.exists(new Path(s"$path/doclens/_SUCCESS")))
      return 0L // empty index
    // live (ingested) rows only — a never-ingested id must not land a
    // tombstone (it would skew the subtracted constants); the shared
    // core handles the already-tombstoned anti-join and the write
    val live = restrict(spark.read.parquet(s"$path/doclens"))
      .select(col("doc_id"), col("dl"))
    Tombstones.appendNew(spark, s"$path/tombstones", "doc_id", live)
  }

  /** The postings FOLD both compaction faces share: drop dead docs'
    * rows, fold replay-duplicated rows, and return rows clustered and
    * sorted for the partitionBy("bucket") writer. bucket must LEAD the
    * sort: the dynamic-partition writer requires ordering by the
    * partition column and would insert its own Sort(bucket) over a
    * (term, doc_id)-only ordering, destroying the term clustering this
    * fold exists to produce; with the prefix satisfied the writer keeps
    * our order. */
  private[graft] def foldedPostings(postings: DataFrame,
                                    tombIds: Option[DataFrame]): DataFrame = {
    val live = tombIds
      .map(t => postings.join(t, Seq("doc_id"), "left_anti"))
      .getOrElse(postings)
    // ONE exchange, not two: repartitioning on the partition-dir key
    // FIRST both distributes the fold's groupBy — HashPartitioning on a
    // subset of the grouping keys satisfies the aggregate's clustered
    // distribution — and is already the layout the partitionBy("bucket")
    // writer needs. The previous groupBy-then-repartition shape shuffled
    // the full postings relation twice (hash on the 4-column key, then
    // again on bucket); at the 100 TB posture that second exchange
    // re-moves the whole inverted file once per compaction for nothing.
    //
    // SCALE-ADAPTIVE parallelism: keyed on bucket alone, the whole
    // inverted-file fold (aggregate, sort, write) caps at NumBuckets
    // tasks — fine for a small index (and it keeps the one-file-per-
    // bucket layout the maxPostingsFiles trigger counts), a 64-task
    // ceiling at corpus scale. Past ~NumBuckets x foldTargetBytes of
    // input, each bucket splits into `sub = hash(term) % subShards`
    // slices: still ONE exchange (sub joins the grouping key; term
    // determines sub, so the grouping is unchanged), aggregate/sort/
    // write run NumBuckets x subShards wide, and each bucket dir gets
    // subShards sorted files (~foldTargetBytes each — the output sizing
    // guide §6 asks for). Input size comes from the scan's plan
    // statistics (file bytes) — no extra job.
    val spark = postings.sparkSession
    val targetBytes = spark.conf.getOption(
      "spark.graft.index.foldTargetBytes").map(_.toLong).getOrElse(1L << 30)
    val inputBytes = postings.queryExecution.optimizedPlan.stats.sizeInBytes
    val subShards = (inputBytes / (NumBuckets.toLong * targetBytes))
      .min(BigInt(4096)).max(BigInt(1)).toInt
    if (subShards == 1)
      live
        .repartition(col("bucket"))
        .groupBy(col("bucket"), col("term"), col("doc_id"), col("dl"))
        .agg(max(col("tf")).as("tf"))
        .select(col("doc_id"), col("dl"), col("term"), col("tf"),
          col("bucket"))
        .sortWithinPartitions("bucket", "term", "doc_id")
    else
      live
        .withColumn("sub",
          pmod(xxhash64(col("term")), lit(subShards.toLong)))
        .repartition(NumBuckets * subShards, col("bucket"), col("sub"))
        .groupBy(col("bucket"), col("sub"), col("term"), col("doc_id"),
          col("dl"))
        .agg(max(col("tf")).as("tf"))
        .select(col("doc_id"), col("dl"), col("term"), col("tf"),
          col("bucket"))
        .sortWithinPartitions("bucket", "term", "doc_id")
  }

  /** Plan-evidence probe (graft.tools.ExplainDump): the fold DataFrame
    * of an existing index, un-executed — the committed
    * invidx_fold plan evidence under plans/ is captured from this, so
    * it can never drift from the code. */
  private[graft] def foldPlanProbe(spark: SparkSession,
                                   path: String): DataFrame =
    foldedPostings(spark.read.parquet(s"$path/postings"),
      tombstonesOf(spark, path).map(_.select(col("doc_id"))))

  /** Fold append-accumulated small files — and any replay-duplicated
    * rows (stale-watermark re-appends) — back into ONE sorted file per
    * bucket, keeping the bucket-partitioned layout so queries stay
    * partition-pruned. After compaction the read-time `max(tf)` fold
    * in [[bm25Query]] is a no-op and small-file pressure is gone; at
    * 100 TB this is the standard background postings merge. Each
    * bucket's rows hash to one task (`repartition(bucket)`), so
    * `partitionBy` writes a single sorted file per bucket dir.
    *
    * Tombstoned docs are ERASED PHYSICALLY here (their postings and
    * doclens rows are dropped — the GDPR "content gone on the next
    * merge" posture); the tombstone rows themselves fold to one
    * single distinct sorted file and persist, because the gross
    * `_stats` is never rewritten and live constants subtract them
    * forever (16 B of id+length per deleted doc, no content).
    *
    * One [[Generations.swap]] per dir; [[recoverCompact]] (called here
    * and cheap from any startup path) restores a stranded old dir or
    * drops a stale one. Each of the three dirs swaps INDEPENDENTLY —
    * serving derives constants by subtraction, so every mixed
    * pre/post-swap state reads exactly (the doclens ∪ tombstones
    * distinct union in [[readStats]] is what keeps the rebuild
    * gross-exact on either side of the doclens swap). Requires
    * QUIESCENCE — no concurrent query or append during the swap. The
    * `_stats` sidecar is untouched: compaction changes no doc's
    * membership, so the gross constants and watermark remain exact. */
  def compactPostings(spark: SparkSession, path: String): Unit = {
    recoverCompact(spark, path)
    foldDirs(spark, path, inPlace = true)(sub =>
      Generations.swap(spark, s"$path/$sub"))
  }

  /** The fold both compaction faces share: each of `src`'s three dirs
    * that needs it is rewritten through `into(sub)(write)`, where
    * `write` fills the directory it is handed — the sub's staging dir
    * in place, the successor generation's sub dir when versioned.
    * Postings fold per [[foldedPostings]]; doclens drop dead rows into
    * row-sized sorted files (the in-place fold skips a clean, still
    * few-file doclens — a rewrite would be a pure no-op job; a new
    * generation always needs its own); tombstones fold to one distinct
    * sorted file. The in-place fold swaps tombstones last, so the
    * postings and doclens folds erase exactly the set `tombIds` lists. */
  private def foldDirs(spark: SparkSession, src: String, inPlace: Boolean)(
      into: String => (String => Unit) => Unit): Unit = {
    val f = fs(spark, src)
    val tombIds = tombstonesOf(spark, src).map(_.select(col("doc_id")))
    if (f.exists(new Path(s"$src/postings")))
      into("postings") { dst =>
        foldedPostings(spark.read.parquet(s"$src/postings"), tombIds)
          .write.partitionBy("bucket").mode("overwrite").parquet(dst)
      }
    val doclens = s"$src/doclens"
    if (f.exists(new Path(doclens, "_SUCCESS")) && (!inPlace ||
        tombIds.isDefined || Generations.dataFiles(spark, doclens)._1 > 16))
      into("doclens") { dst =>
        // output file count sized by ROWS (~8M 16-byte rows per file),
        // not spark.sql.shuffle.partitions: a default-width fold would
        // write >16 files and permanently re-trigger the files-guard
        // above on every later compact, and a coalesce(1) would
        // serialize the whole corpus doc-length table through ONE task
        // at the 100 TB posture. The row count comes from the GROSS
        // `_stats` sidecar (one tiny file read) — an upper bound on the
        // folded table (deletions only shrink it), so the fold never
        // pays a count job + a persisted double pass just to size its
        // own output files.
        // getOrElse: readStats already rebuilds a missing sidecar from
        // doclens/postings, so None means a truly empty index — but if
        // that invariant ever breaks (a legacy layout readStats cannot
        // rebuild), sizing from the doclens dir's file bytes (~16 B/row)
        // keeps the fold from collapsing to ONE partition.
        val grossDocs = readStats(spark, src).map(_._2).getOrElse(
          math.max(1L, f.getContentSummary(new Path(doclens)).getLength / 16L))
        val parts = math.max(1L,
          (grossDocs + (8L << 20) - 1) / (8L << 20)).toInt
        val folded = spark.read.parquet(doclens)
          .select(col("doc_id"), col("dl")).distinct()
        val live = tombIds
          .map(t => folded.join(t, Seq("doc_id"), "left_anti"))
          .getOrElse(folded)
        // parts == 1 (≤8M docs): coalesce(1) produces the identical
        // single sorted file WITHOUT repartitionByRange's sampling pass
        // (the range partitioner runs one extra job just to pick bounds
        // it won't use for one partition)
        (if (parts == 1) live.coalesce(1)
         else live.repartitionByRange(parts, col("doc_id"))) // range-prunable
          .sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(dst)
      }
    if (f.exists(new Path(s"$src/tombstones/_SUCCESS")))
      into("tombstones") { dst =>
        spark.read.parquet(s"$src/tombstones")
          .select(col("doc_id"), col("dl")).distinct()
          .coalesce(1).sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(dst)
      }
  }

  /** Recover a [[compactPostings]] that crashed between the renames of
    * any of its three dirs ([[Generations.recoverSwap]] per dir). Runs
    * on every query/delete/append entry, so two CONCURRENT readers can
    * both observe the stranded state and race the restoring rename —
    * the loser tolerates the lost race. */
  def recoverCompact(spark: SparkSession, path: String): Unit =
    Seq("postings", "doclens", "tombstones").foreach(sub =>
      Generations.recoverSwap(spark, s"$path/$sub"))

  /** BM25 top-k for `terms` served FROM the index: the postings scan
    * prunes to the terms' buckets (partition pruning) and pushes the
    * term filter; corpus constants come from `_stats` minus the
    * tombstone set (EXACT live constants in every crash state — the
    * tombstone dir is the single source of deletion truth); tombstoned
    * docs whose postings a compaction has not yet erased are hidden by
    * an anti-join (AQE broadcasts the small tombstone side); scoring
    * is the shared hash-green `bm25Rank` tail. */
  def bm25Query(spark: SparkSession, path: String, terms: Seq[String],
                k: Int = 20): DataFrame = {
    import graft.queries.TextQueries
    // a compact crash between the tombstones swap's renames would
    // otherwise read as "no tombstones" and silently UNMASK every
    // deleted doc until some delete or compact happened to recover it
    recoverCompact(spark, path)
    val (_, nGross, sumGross) = readStats(spark, path).getOrElse(
      sys.error(s"no inverted index at $path"))
    val crc = new java.util.zip.CRC32
    val buckets = terms.map { t =>
      crc.reset(); crc.update(t.getBytes("UTF-8"))
      (crc.getValue % NumBuckets).toString
    }.distinct
    val tf0 = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isInCollection(buckets) &&
        col("term").isInCollection(terms))
      // fold byte-identical rows from a stale-watermark replay
      // re-append (see the crash-window note above)
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(max(col("tf")).as("tf"))
    // live constants = gross minus the tombstone aggregate, composed as
    // a 1-row DataFrame INSIDE the serving plan (it broadcasts into the
    // scoring crossJoin) rather than collected driver-side first: the
    // subtraction is the same exact long arithmetic either way, and
    // folding it in removes one synchronous driver action per query
    val (stats, tf) = tombstonesOf(spark, path) match {
      case None => (spark.range(1).select(
        lit(nGross).cast("double").as("n_docs"),
        lit(sumGross).cast("double").as("sum_dl")), tf0)
      case Some(tomb) =>
        val st = tomb.agg(count(lit(1)).as("dead_n"),
            coalesce(sum(col("dl")), lit(0L)).as("dead_dl"))
          .select((lit(nGross) - col("dead_n")).cast("double").as("n_docs"),
            (lit(sumGross) - col("dead_dl")).cast("double").as("sum_dl"))
        (st, tf0.join(tomb.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    }
    TextQueries.bm25Rank(tf, stats, k)
  }

  // The generation-versioned face: each generation is an ordinary
  // inverted index (see [[Generations]]' versioned shell).
  private val Versioned = new Generations.Face("inverted-index", "inv")

  /** Ingest the first batch as generation 0 under `root` and publish
    * the manifest. Returns the live generation dir. */
  def buildVersioned(spark: SparkSession, docsDf: DataFrame,
                     root: String, committer: String = ""): String =
    Versioned.build(spark, root, committer) { dir =>
      append(spark, docsDf, dir)
      dir
    }

  /** The live generation dir — the path readers hand to [[bm25Query]].
    * A published generation is immutable, so a query against this path
    * completes correctly while [[compactVersioned]] publishes a
    * successor. */
  def resolveVersioned(spark: SparkSession, root: String): String =
    Versioned.resolve(spark, root)

  /** [[append]] / [[deleteDocs]] / [[bm25Query]] against the live
    * generation. */
  def appendVersioned(spark: SparkSession, docsDf: DataFrame,
                      root: String, committer: String = ""): Unit =
    Versioned.update(spark, root, "append", committer)(
      append(spark, docsDf, _))

  // explicit overload pair (not a default argument): Scala allows
  // default arguments on only ONE overloaded alternative, and the
  // DataFrame variant holds it
  def deleteVersioned(spark: SparkSession, root: String,
                      ids: Seq[Long]): Long =
    deleteVersioned(spark, root, ids, "")

  def deleteVersioned(spark: SparkSession, root: String,
                      ids: Seq[Long], committer: String): Long =
    Versioned.update(spark, root, "delete", committer)(
      deleteDocs(spark, _, ids))

  /** [[deleteVersioned]] for an id RELATION (`doc_id` column) — the
    * takedown-feed shape. */
  def deleteVersioned(spark: SparkSession, root: String,
                      idsDf: DataFrame, committer: String = ""): Long =
    Versioned.update(spark, root, "delete", committer)(
      deleteDocs(spark, _, idsDf))

  def bm25QueryVersioned(spark: SparkSession, root: String,
                         terms: Seq[String], k: Int = 20): DataFrame =
    bm25Query(spark, resolveVersioned(spark, root), terms, k)

  /** UN-ERASED deleted-doc fraction of the LIVE generation — the
    * versioned maintenance trigger's input. The numerator counts only
    * tombstones whose doclens rows still EXIST (a semi-join against
    * the doclens table): [[compactVersioned]] carries the
    * tombstone set forward (the gross `_stats` is never rewritten, so
    * live constants subtract them forever) while dropping the dead
    * docs' doclens rows, so a raw `tombstones.count / nGross` would be
    * IDENTICAL before and after the fold — once over threshold, every
    * maintenance poll would rewrite the whole index forever. The
    * semi-join count is exactly "what a compaction would still
    * erase": 0 right after a fold, so the trigger re-arms. Cost: one
    * small join of the 16 B/doc sidecar tables. */
  def deletedFractionVersioned(spark: SparkSession, root: String): Double = {
    val liveDir = resolveVersioned(spark, root)
    readStats(spark, liveDir) match {
      case None => 0.0
      case Some((_, nGross, _)) if nGross > 0 =>
        tombstonesOf(spark, liveDir) match {
          case None => 0.0
          case Some(t) =>
            val f = fs(spark, liveDir)
            val unErased =
              if (!f.exists(new Path(s"$liveDir/doclens/_SUCCESS")))
                t.count() // legacy index: nothing erased yet
              else t.join(spark.read.parquet(s"$liveDir/doclens")
                    .select(col("doc_id")),
                  Seq("doc_id"), "left_semi").count()
            unErased.toDouble / nGross
        }
      case _ => 0.0
    }
  }

  /** [[ShardedIndex.maybeCompactVersioned]]'s lexical twin: fold into
    * a new generation iff the live generation's deleted-doc fraction
    * crosses `maxDeletedFrac` OR its postings have accumulated more
    * than `maxPostingsFiles` append files (the small-file pressure the
    * in-place compaction sizes by too) — readers never paused. Returns
    * the live generation dir either way. */
  def maybeCompactVersioned(spark: SparkSession, root: String,
                            maxDeletedFrac: Double = 0.2,
                            maxPostingsFiles: Int = 4 * NumBuckets,
                            committer: String = ""): String = {
    val liveDir = resolveVersioned(spark, root)
    if (deletedFractionVersioned(spark, root) > maxDeletedFrac ||
        Generations.dataFiles(spark, s"$liveDir/postings")._1 >
          maxPostingsFiles)
      compactVersioned(spark, root, committer)
    else liveDir
  }

  /** Serve-through-compaction fold: write the compacted postings
    * (dead content erased, replay duplicates folded, one sorted file
    * per bucket), folded doclens, distinct tombstones, and the
    * unchanged gross `_stats` into a NEW generation; publish; retire
    * out-of-grace generations. The live generation is strictly
    * read-only input. Query results are identical before and after
    * (compaction only erases content the tombstone anti-join already
    * hides). */
  def compactVersioned(spark: SparkSession, root: String,
                       committer: String = ""): String =
    Versioned.fold(spark, root, committer) { (live, dir) =>
      foldDirs(spark, live, inPlace = false)(sub => _(s"$dir/$sub"))
      readStats(spark, live).foreach { case (wm, n, s) =>
        writeStats(spark, dir, wm, n, s)
      }
      dir
    }
}
