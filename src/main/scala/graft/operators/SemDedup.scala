package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.Generations

/** Semantic deduplication (SemDeDup — Abbas et al., "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication",
  * 2023): cluster the embedding space, then mark near-duplicates ONLY
  * within each cluster — the published recipe that turns embedding
  * near-dup detection from O(N²) into O(Σ cell²) with cells ~N/nlist.
  *
  * Duplicate rule (deterministic greedy-by-id, the partition-invariant
  * stand-in for the paper's "keep one point per ε-neighborhood"): a row
  * is marked duplicate iff SOME lower-id row in the SAME cell has
  * quantized cosine ≥ τ. The minimum id of every cell-local similarity
  * chain always survives; cross-cell near-dups are missed by design —
  * that is SemDeDup's documented recall trade, and the LSH threshold
  * path ([[LshAnn.thresholdPairs]]) covers the cell-boundary-free
  * variant.
  *
  * Spark shape: assignment is one broadcast-centroid `mapPartitions`
  * pass (no shuffle); the pair scan is a cell-keyed equi-join — shuffle
  * on the cell key, never an all-pairs cross join; the dup set is a
  * bounded id-only projection. Everything downstream of the seeded
  * centroid pick is deterministic double arithmetic (the
  * [[IvfAnn.knnSeeded]] recipe), so the whole pipeline hash-checks in
  * DuckDB — the rare dedup operator whose PRODUCTION path is the
  * oracle-checked path.
  *
  * Reference anchor: the reference dedups exact vector sets only
  * (`/root/reference/tests/test_deduplicate_vec_sets.cpp`); SemDeDup is
  * the published embedding-space generalization an LLM-corpus pipeline
  * runs at 100 TB.
  */
object SemDedup {

  /** Quantized cosine between two vector columns — the shared ≥ τ
    * comparison (9-decimal HALF_UP, the oracle-parity recipe). */
  private def cos9(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.functions.VectorFunctions._
    round(vecDot(a, b) / (vecNorm(a) * vecNorm(b)), 9)
  }

  /** Broadcast-centroid assignment pass: (id, vec, cell), no shuffle. */
  private def assigned(corpus: DataFrame,
                       centroids: Array[Array[Float]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val ssB = spark.sparkContext.broadcast(IvfAnn.seedNorms(centroids))
    corpus.select(col("id"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val ss = ssB.value
        it.map { case (id, v) =>
          (id, v, IvfAnn.seededTopCells(v, ss, 1)(0))
        }
      }.toDF("id", "vec", "cell")
  }

  /** Mark duplicates over `corpus` (columns `id`, `vec`) against the
    * given centroids. Output: (id, cell, is_dup 0/1) — one row per
    * corpus row.
    *
    * RESIDENCY CONTRACT: the returned plan reads an eager
    * localCheckpoint of the assignment pass, whose (id, vec, cell)
    * blocks stay pinned on the executors until the caller evicts them —
    * there is no handle to unpersist a checkpoint through the returned
    * DataFrame. A harness that calls mark() repeatedly must clear
    * leaked blocks between calls (the Bench/ScaleSmoke loops do, via
    * `Bench.dropLeakedBlocks`, and only AFTER fully consuming the
    * result: eviction truncates lineage, so a still-lazy result would
    * lose its input). Cluster-mode note: localCheckpoint blocks are
    * executor-local and unrecomputable — a lost executor fails the
    * query; a long-lived deployment that needs fault tolerance for
    * this intermediate should write it to durable storage instead. */
  def mark(corpus: DataFrame, centroids: Array[Array[Float]],
           tau: Double): DataFrame = {
    // materialized ONCE: the assignment pass (N·nlist cosines — the
    // pipeline's dominant scan at corpus scale) feeds BOTH sides of the
    // cell-local pair join AND the final per-row join-back; left lazy,
    // the typed mapPartitions kernel re-runs per consumer (it is opaque
    // to exchange reuse). localCheckpoint, not persist — a CacheManager
    // entry would rewrite other queries' matching subtrees.
    val asg = assigned(corpus, centroids).localCheckpoint(true)
    val a = asg.select(col("cell"), col("id").as("a_id"),
      col("vec").as("a_vec"))
    val b = asg.select(col("cell"), col("id").as("b_id"),
      col("vec").as("b_vec"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(cos9(col("a_vec"), col("b_vec")) >= tau)
      .select(col("b_id").as("id")).distinct()
    asg.select(col("id"), col("cell"))
      .join(dropped.withColumn("_dup", lit(1L)), Seq("id"), "left_outer")
      .select(col("id"), col("cell").cast("long").as("cell"),
        coalesce(col("_dup"), lit(0L)).as("is_dup"))
  }

  /** Max-id [[Watermark]] sidecar over the cell index, keyed on `id`.
    * [[incrementalMark]]'s monotone-ingest check reads THIS, not a
    * full-index `max(id)` scan. A stale watermark (crash between data
    * append and sidecar write) only means a replayed append re-appends
    * duplicate (id, vec, cell) rows, which change no mark (the dup rule
    * is an EXISTS over same-cell lower ids) and which
    * [[compactCellIndex]] folds away. */
  private[graft] def readWatermark(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Option[Long] =
    Watermark.read(spark, path, "id")

  private def writeWatermark(spark: org.apache.spark.sql.SparkSession,
                             path: String, maxId: Long): Unit =
    Watermark.write(spark, path, maxId)

  /** Persist the cell-partitioned resident layout (`path/cell=<c>/…`) —
    * the incremental face's offline half. A batch probe later reads
    * ONLY the partitions its rows assign to (Spark partition pruning),
    * the [[MinHashLsh.writeBandIndex]] posture on the embedding side.
    * Stamps the max-id watermark sidecar — the max PIGGYBACKS on the
    * write action (Observation/CollectMetrics), so one pass serves both
    * instead of persist + a second aggregation action. */
  def writeCellIndex(corpus: DataFrame, centroids: Array[Array[Float]],
                     path: String): Unit = {
    val obs = org.apache.spark.sql.Observation()
    assigned(corpus, centroids)
      .observe(obs, max(col("id")).as("max_id"))
      .write.partitionBy("cell").mode("overwrite").parquet(path)
    obs.get.get("max_id").collect { case m: Long => m }
      .foreach(writeWatermark(corpus.sparkSession, path, _))
  }

  /** Append a batch to the resident layout (delta files only; resident
    * files untouched — the frozen-quantizer append posture), then
    * advance the watermark sidecar. The batch max is observed on the
    * append action itself — the index is never scanned. */
  def appendCellIndex(batch: DataFrame, centroids: Array[Array[Float]],
                      path: String): Unit = {
    val spark = batch.sparkSession
    val obs = org.apache.spark.sql.Observation()
    assigned(batch, centroids)
      .observe(obs, max(col("id")).as("max_id"))
      .write.partitionBy("cell").mode("append").parquet(path)
    obs.get.get("max_id").collect { case m: Long => m }.foreach { bm =>
      val wm = readWatermark(spark, path).getOrElse(Long.MinValue)
      writeWatermark(spark, path, math.max(wm, bm))
    }
  }

  /** `_`-prefixed so partition discovery over the cell layout ignores
    * it — the [[Watermark]] sidecar convention. */
  private val TombstoneDir = "_tombstones"

  /** The canonical cell-index loader: resident (id, vec, cell) rows
    * minus the tombstoned ids. Probes read through this, so a deleted
    * doc stops marking batch rows as duplicates the moment
    * [[deleteFromCellIndex]] returns; the physical embedding rows wait
    * for [[compactCellIndex]] to be erased. No tombstones → the bare
    * (partition-prunable) scan. */
  def readCellIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    Tombstones.mask(spark, s"$path/$TombstoneDir", "id",
      spark.read.parquet(path))

  /** Delete docs from the resident cell index (takedown / GDPR
    * erasure): a pure append of id rows to the `_tombstones` sidecar —
    * the [[MinHashLsh.deleteFromBandIndex]] posture on the embedding
    * side. Idempotent by construction (already-tombstoned ids are
    * skipped; crash-replay duplicates fold at read); the dup rule is
    * an EXISTS over same-cell ids, so membership is the only state and
    * tombstones need no payload. Returns the newly tombstoned count. */
  def deleteFromCellIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, idsDf: DataFrame): Long =
    Tombstones.appendNew(spark, s"$path/$TombstoneDir", "id",
      idsDf.select(col("id")))

  /** [[deleteFromCellIndex]] for a literal takedown list. */
  def deleteFromCellIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, ids: Seq[Long]): Long =
    Tombstones.ofIds(spark, ids, "id")(deleteFromCellIndex(spark, path, _))

  /** Fold append-accumulated small files back into one file per cell
    * (each cell's rows hash to one task, so `partitionBy` writes a
    * single file per cell directory), keeping the cell-partitioned
    * layout — probes stay partition-pruned. Also drops duplicate `id`
    * rows (identical by construction — the only way one arises is an
    * at-least-once replayed append), so compaction is the repair step
    * for replay double-appends. Tombstoned ids ([[deleteFromCellIndex]])
    * are ERASED PHYSICALLY (the staging read goes through
    * [[readCellIndex]]); the `_tombstones` sidecar rides the path→old
    * rename and is dropped with it — once the embedding rows are gone
    * there is nothing left to mask, and the watermark stays gross, so
    * replay detection is unaffected.
    *
    * Concurrency contract: compaction requires QUIESCENCE — no
    * concurrent probe or ingest ([[Generations.swap]]). Crash recovery
    * runs at the START of the next compact ([[recoverCompact]]). */
  def compactCellIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): Unit = {
    recoverCompact(spark, path)
    Generations.swap(spark, path)(foldInto(spark, path, _))
  }

  /** The cell fold both compactions share: `src`'s live rows, replay
    * duplicates dropped and tombstoned ids erased, one sorted file per
    * cell at `dst`, the gross watermark carried over. */
  private def foldInto(spark: org.apache.spark.sql.SparkSession,
                       src: String, dst: String): Unit = {
    val wm = readWatermark(spark, src)
    readCellIndex(spark, src)
      .dropDuplicates("id")
      .repartition(col("cell"))
      .sortWithinPartitions("id")
      .write.partitionBy("cell").mode("overwrite").parquet(dst)
    wm.foreach(writeWatermark(spark, dst, _))
  }

  /** Recover from a compact that crashed between its two renames
    * ([[Generations.recoverSwap]]): a stranded `__compact_old` with
    * nothing live at `path` is restored, one beside a live path is
    * dropped. No-op when there is nothing to recover. */
  def recoverCompact(spark: org.apache.spark.sql.SparkSession,
                     path: String): Unit =
    Generations.recoverSwap(spark, path)

  /** INCREMENTAL marking: mark only the batch's rows against the
    * resident index + the batch itself, reading just the cell
    * partitions the batch assigns to. Contract (validated): ids are
    * MONOTONE across ingests (every resident id < every batch id — the
    * append-only corpus contract [[graft.index.ShardedIndex
    * .appendDelta]] also enforces); under it "resident same-cell
    * neighbor ∨ lower-id batch neighbor" is EXACTLY the batch slice of
    * [[mark]] over the union, so wave-by-wave ingest reproduces the
    * batch operator row-for-row (spec-gated). Call [[appendCellIndex]]
    * with the same batch afterwards to grow the index.
    *
    * The contract check reads the watermark SIDECAR, not the index
    * (one tiny file per batch, not an O(index) listing). It is also
    * REPLAY-SAFE: `foreachBatch` drivers are at-least-once, so a crash
    * between the index append and the checkpoint commit re-delivers a
    * batch whose ids are ALREADY resident. Watermark ≥ the whole batch
    * is recognized as exactly that replay — the probe excludes the
    * batch's own resident copies (`id < batch min`) and produces the
    * SAME marks as the original delivery (idempotent output). A
    * watermark that lands INSIDE the batch's id range is a genuinely
    * non-monotone ingest and still fails loudly. */
  def incrementalMark(spark: org.apache.spark.sql.SparkSession,
                      path: String, centroids: Array[Array[Float]],
                      batch: DataFrame, tau: Double): DataFrame = {
    val asg = assigned(batch, centroids)
    val cells = asg.select("cell").distinct().collect().map(_.getInt(0))
    if (cells.isEmpty)
      return asg.select(col("id"), col("cell").cast("long").as("cell"),
        lit(0L).as("is_dup")).limit(0)
    val mm = asg.agg(min(col("id")), max(col("id"))).first()
    val (minBatch, maxBatch) = (mm.getLong(0), mm.getLong(1))
    val wm = readWatermark(spark, path).getOrElse(Long.MinValue)
    require(wm < minBatch || wm >= maxBatch,
      s"incrementalMark needs monotone ids across ingests: resident " +
        s"watermark $wm lands inside the batch id range " +
        s"[$minBatch, $maxBatch] — not a replay, not an append")
    // wm >= maxBatch is an exact at-least-once replay: the batch's own
    // rows are already resident; excluding them (id < minBatch)
    // reproduces the original delivery's marks byte-for-byte.
    // readCellIndex, not a bare scan: a taken-down resident doc must
    // not mark new batch rows as its duplicates
    val resident = readCellIndex(spark, path)
      .filter(col("cell").isin(cells.map(Int.box).toSeq: _*))
      .filter(col("id") < minBatch)
      .select(col("cell").cast("int").as("cell"), col("id").as("a_id"),
        col("vec").as("a_vec"))
    val vsResident = asg.join(resident, Seq("cell"))
      .filter(cos9(col("a_vec"), col("vec")) >= tau)
      .select(col("id"))
    val aB = asg.select(col("cell"), col("id").as("a_id"),
      col("vec").as("a_vec"))
    val inBatch = asg.join(aB, Seq("cell"))
      .filter(col("a_id") < col("id"))
      .filter(cos9(col("a_vec"), col("vec")) >= tau)
      .select(col("id"))
    val dropped = vsResident.unionAll(inBatch).distinct()
    asg.select(col("id"), col("cell"))
      .join(dropped.withColumn("_dup", lit(1L)), Seq("id"), "left_outer")
      .select(col("id"), col("cell").cast("long").as("cell"),
        coalesce(col("_dup"), lit(0L)).as("is_dup"))
  }

  // The generation-versioned face: each generation is an ordinary
  // cell index (see [[Generations]]' versioned shell). Probes go
  // through [[incrementalMarkVersioned]] / [[readVersioned]].
  private val Versioned = new Generations.Face("cell-index", "cell")

  /** Persist the first corpus as generation 0 under `root` and
    * publish. Returns the live generation dir. */
  def buildVersioned(corpus: DataFrame, centroids: Array[Array[Float]],
                     root: String, committer: String = ""): String =
    Versioned.build(corpus.sparkSession, root, committer) { dir =>
      writeCellIndex(corpus, centroids, dir)
      dir
    }

  /** The live generation dir. Immutable once published. */
  def resolveVersioned(spark: org.apache.spark.sql.SparkSession,
                       root: String): String =
    Versioned.resolve(spark, root)

  /** [[readCellIndex]] against the live generation — the probe face. */
  def readVersioned(spark: org.apache.spark.sql.SparkSession,
                    root: String): DataFrame =
    readCellIndex(spark, resolveVersioned(spark, root))

  /** [[incrementalMark]] against the live generation: the mark itself
    * is a pure READ of the resolved snapshot (safe through a
    * concurrent fold); pair it with [[appendVersioned]] on the same
    * batch to grow the index, as with the in-place face. */
  def incrementalMarkVersioned(spark: org.apache.spark.sql.SparkSession,
                               root: String,
                               centroids: Array[Array[Float]],
                               batch: DataFrame, tau: Double): DataFrame =
    incrementalMark(spark, resolveVersioned(spark, root), centroids,
      batch, tau)

  /** [[appendCellIndex]] against the live generation. */
  def appendVersioned(batch: DataFrame, centroids: Array[Array[Float]],
                      root: String, committer: String = ""): Unit =
    Versioned.update(batch.sparkSession, root, "append", committer)(
      appendCellIndex(batch, centroids, _))

  /** [[deleteFromCellIndex]] against the live generation. */
  def deleteVersioned(spark: org.apache.spark.sql.SparkSession,
                      root: String, idsDf: DataFrame,
                      committer: String = ""): Long =
    Versioned.update(spark, root, "delete", committer)(
      deleteFromCellIndex(spark, _, idsDf))

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
    Tombstones.ofIds(spark, ids, "id")(
      deleteVersioned(spark, root, _, committer))

  /** Tombstoned fraction of the live generation (one row per doc, so
    * footer counts are the exact denominator). Re-arms after a fold —
    * the successor starts tombstone-free. */
  def deletedFractionVersioned(spark: org.apache.spark.sql.SparkSession,
                               root: String): Double = {
    val live = resolveVersioned(spark, root)
    val rows = graft.index.ParquetMeta.rowsCached(spark, live)
    if (rows == 0) 0.0
    else Tombstones.idsOf(spark, s"$live/$TombstoneDir", "id")
      .map(_.count().toDouble / rows).getOrElse(0.0)
  }

  /** The maintenance-loop trigger: fold into a new generation iff the
    * tombstoned fraction crosses `maxDeletedFrac` OR appends have
    * accumulated more than `maxFilesPerCell` data files per cell
    * partition. Returns the live dir either way. */
  def maybeCompactVersioned(spark: org.apache.spark.sql.SparkSession,
                            root: String, maxDeletedFrac: Double = 0.2,
                            maxFilesPerCell: Double = 4.0,
                            committer: String = ""): String = {
    val live = resolveVersioned(spark, root)
    lazy val (files, cells) = Generations.dataFiles(spark, live)
    if (deletedFractionVersioned(spark, root) > maxDeletedFrac ||
        files > maxFilesPerCell * math.max(cells, 1))
      compactVersioned(spark, root, committer)
    else live
  }

  /** Serve-through-compaction fold: the [[compactCellIndex]] layout
    * (replay duplicates dropped, tombstoned docs ERASED physically,
    * one sorted file per cell) written into a NEW generation, the
    * gross watermark carried verbatim; publish; retire out-of-grace
    * generations. Live generation strictly read-only. */
  def compactVersioned(spark: org.apache.spark.sql.SparkSession,
                       root: String, committer: String = ""): String =
    Versioned.fold(spark, root, committer) { (live, dir) =>
      foldInto(spark, live, dir)
      dir
    }

  /** [[mark]] with corpus-seeded centroids (md5-ranked rows — the
    * [[IvfAnn.seededCentroids]] pick), end-to-end deterministic. */
  def markSeeded(corpus: DataFrame, nlist: Int, tau: Double): DataFrame = {
    val d = corpus.select(col("id").as("d_id"), col("vec").as("d_vec"))
    mark(corpus, IvfAnn.seededCentroids(d, nlist), tau)
  }

  /** nlist ≈ √N — the classic IVF balance point between the
    * assignment pass (N·nlist cosines) and the cell-local pair scan
    * (Σ cell² ≈ N²/nlist): both terms land at N^1.5, sub-quadratic
    * without any tuning. ceil(sqrt) is IEEE-exact for any count that
    * fits a double, so the DuckDB oracle computes the identical value
    * from the same corpus. */
  def autoNlist(n: Long): Int =
    math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** [[markSeeded]] at the [[autoNlist]] default — the production
    * parameterization: one count, then the deterministic pipeline.
    * The corpus is persisted first: the count plus the pipeline's own
    * scans (seeded-centroid pick, assignment, cell-local pairs) would
    * otherwise re-execute the upstream derivation (tokenize → embed →
    * …) once per scan. The caller's post-query cleanup releases the
    * blocks (`Bench.dropLeakedBlocks` unpersists all persistent RDDs).
    * Callers with a known corpus size (or a tuned cell budget) use
    * [[markSeeded]] directly. */
  def markSeededAuto(corpus: DataFrame, tau: Double): DataFrame = {
    val cached = corpus.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    markSeeded(cached, autoNlist(cached.count()), tau)
  }
}
