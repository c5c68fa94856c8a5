package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.Generations

/** IVF-PQ — the composed 100 TB ANN index: [[IvfAnn]]'s coarse quantizer
  * prunes WHICH files a probe reads (one parquet partition directory per
  * cell), [[PqAnn]]'s codes shrink WHAT each read row costs (nSub small
  * ints instead of dim floats). A probe therefore scans
  * ~(nProbe/nlist) × (nSub/dim×4) of the corpus bytes — at the defaults
  * here that is 10/16 × 1/32 ≈ 2% — and full-precision vectors are
  * touched only for the ≤ queries×nCand rerank tail against the base
  * table.
  *
  * This is the layout production vector stores (FAISS `IVFPQ`, SCaNN,
  * Milvus) deploy for billion-vector corpora; both halves are the
  * already-certified operators, composed: cell assignment =
  * [[IvfAnn.assign]], codes = [[PqAnn.encode]], probe pruning = literal
  * partition filter (asserted down to `PartitionFilters` in tests), ADC
  * scan = [[PqAnn.adcCandidates]] with per-query probe masks, rerank =
  * [[PqAnn.rerankExact]].
  */
object IvfPq {

  /** Total indexed rows across every cell partition — parquet-footer
    * counts off the recursive file listing
    * ([[graft.index.ParquetMeta.rowsCached]]), no data read and no
    * Spark job. This is what lets a REGISTERED tier observe
    * post-registration [[appendIndex]] growth: the serving-time row
    * count against the registration-time snapshot is the budget
    * policy's scale ratio. */
  def indexRows(spark: SparkSession, path: String): Long =
    graft.index.ParquetMeta.rowsCached(spark, path)

  /** Write the IVF-PQ index at `path`: (d_id, codes) partitioned by
    * `cell` — CODES ONLY, no vectors. The base table keeps the
    * full-precision vectors for the rerank tail; the index directory a
    * probe scans is ~dim×4/nSub times smaller than the corpus. */
  def writeIndex(spark: SparkSession, data: DataFrame, path: String,
                 centroids: Array[Array[Float]],
                 codebooks: PqAnn.Codebooks): Unit =
    writeRows(spark, data, path, centroids, codebooks, "overwrite")

  /** Incremental index maintenance — the daily-ingest half of the
    * layout at 100 TB: assign + encode ONLY the delta batch against the
    * FIXED build-time quantizers and append its files into the cell
    * partition directories. Existing files are never touched, no
    * rebuild, no read of the resident index; a search afterwards is
    * indistinguishable from one over a single-shot build of the union
    * (asserted row-for-row in LlmPipelineSpec). The quantizers MUST be
    * the ones the index was built with — they define the layout
    * contract (which cell directory a row lives in, what its codes
    * mean); re-deriving them from the grown corpus would silently remap
    * the resident rows. */
  def appendIndex(spark: SparkSession, delta: DataFrame, path: String,
                  centroids: Array[Array[Float]],
                  codebooks: PqAnn.Codebooks): Unit =
    writeRows(spark, delta, path, centroids, codebooks, "append")

  /** `_`-prefixed so the partitioned read of the index dir ignores it —
    * the [[Watermark]] sidecar convention. */
  private val TombstoneDir = "_tombstones"

  /** The canonical encoded-index loader: (d_id, codes, cell) minus the
    * tombstoned ids. Every probe reads through this, so a takedown is
    * masked before the ADC scan (the dead codes are never candidates)
    * the moment [[deleteFromIndex]] returns; [[compactIndex]] erases
    * the rows physically. The anti-join rides ABOVE the caller's cell
    * filter — Catalyst pushes the partition filter through it, so
    * probe pruning is unchanged. */
  def readIndex(spark: SparkSession, path: String): DataFrame = {
    // recover a compact that crashed between its renames BEFORE
    // reading: a stranded __compact_old with no live dir must be
    // restored here, not first noticed by the next compact — by then
    // an append may have recreated the live dir and the recovery
    // would misread the state as crash-after-promote and delete the
    // full historical index
    Generations.recoverSwap(spark, path)
    Tombstones.mask(spark, s"$path/$TombstoneDir", "d_id",
      spark.read.parquet(path))
  }

  /** Delete docs from the encoded index (takedown / GDPR erasure): a
    * pure append of d_id rows to the `_tombstones` sidecar — the
    * [[graft.index.ShardedIndex.deleteFromIndex]] posture for the
    * codes tier, but with PHYSICAL DROP at compaction (no dense-id
    * contract here: the rerank joins the base table by id, so holes
    * are free). Idempotent by construction; never-indexed ids are
    * harmless. Returns the newly tombstoned count. */
  def deleteFromIndex(spark: SparkSession, path: String,
                      idsDf: DataFrame): Long = {
    Generations.recoverSwap(spark, path)
    Tombstones.appendNew(spark, s"$path/$TombstoneDir", "d_id",
      idsDf.select(col("d_id")))
  }

  /** [[deleteFromIndex]] for a literal takedown list. */
  def deleteFromIndex(spark: SparkSession, path: String,
                      ids: Seq[Long]): Long =
    Tombstones.ofIds(spark, ids, "d_id")(deleteFromIndex(spark, path, _))

  /** Fold append-accumulated small files back into one sorted file per
    * cell — the background codes merge [[appendIndex]] earns after
    * months of daily deltas (same posture as
    * [[SemDedup.compactCellIndex]]; replay-duplicated rows fold via
    * dropDuplicates) — and ERASE tombstoned rows physically (the
    * staging read goes through [[readIndex]]). The `_tombstones`
    * sidecar rides the path→old rename and dies with it: the codes
    * tier has no corpus constants, so once the rows are gone the
    * tombstones have nothing left to mask. Requires QUIESCENCE; a
    * crash between the renames is recovered by
    * [[Generations.recoverSwap]] at the next entry. */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    Generations.recoverSwap(spark, path)
    Generations.swap(spark, path)(foldInto(spark, path, _))
  }

  /** The codes fold both compactions share: `src`'s live rows, replay
    * duplicates dropped and tombstoned rows erased, one sorted file per
    * cell at `dst`. */
  private def foldInto(spark: SparkSession, src: String, dst: String): Unit =
    readIndex(spark, src)
      .dropDuplicates("d_id")
      .repartition(col("cell"))
      .sortWithinPartitions("d_id")
      .write.partitionBy("cell").mode("overwrite").parquet(dst)

  /** assign + encode fused into ONE corpus pass: encoding off the
    * assigned rows directly — a join to re-attach the cell column would
    * scan and centroid-assign the corpus twice plus pay a corpus-wide
    * shuffle, in an offline build/ingest job. */
  private def writeRows(spark: SparkSession, data: DataFrame, path: String,
                        centroids: Array[Array[Float]],
                        codebooks: PqAnn.Codebooks, mode: String): Unit = {
    // an append into the crash window of a half-done compact would
    // recreate the live dir and make the NEXT compact's recovery
    // delete the stranded old (= the whole pre-crash index); restore
    // first, so the append lands on the restored history
    Generations.recoverSwap(spark, path)
    import spark.implicits._
    val cbB = spark.sparkContext.broadcast(codebooks)
    IvfAnn.assign(spark, data, "d_id", "d_vec", centroids)
      .select(col("d_id"), col("d_vec"), col("cell"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val cbs = cbB.value
        it.map { case (id, v, c) => (id, PqAnn.encodeOne(v, cbs), c) }
      }.toDF("d_id", "codes", "cell")
      .write.mode(mode).partitionBy("cell").parquet(path)
  }

  /** Approximate top-k over a [[writeIndex]] directory: per-query probe
    * cells resolved against the broadcast centroids, the union pushed
    * into the scan as a LITERAL partition filter (unprobed cells' files
    * are never read), ADC candidates restricted to each query's own
    * probe set, exact rerank against the full-precision `data`. */
  def knnOverIndex(spark: SparkSession, queries: DataFrame, path: String,
                   data: DataFrame, centroids: Array[Array[Float]],
                   codebooks: PqAnn.Codebooks, k: Int, nProbe: Int = 10,
                   nCand: Int = 120,
                   excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    require(nCand >= k, s"nCand $nCand < k $k")
    // bounded collect (see QueryBatchGuard): the direct API must fail
    // loudly on an unbounded query batch, not OOM the driver
    val qRows = QueryBatchGuard.collectBounded(queries)
    val probes: Map[Long, Array[Int]] = qRows.map { case (id, v) =>
      id -> IvfAnn.nearestCells(v, centroids, nProbe)
    }.toMap
    val probedCells = probes.values.flatten.toSet.toIndexedSeq.sorted
    val encoded = readIndex(spark, path)
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
    PqAnn.searchEncoded(queries, encoded, data, codebooks, k, nCand,
      excludeSelf, Some(probes))
  }

  /** Oracle-parity index write — [[writeIndex]] with BOTH quantizers
    * training-free: cell assignment by the round9 double cosine against
    * md5-ranked seed centers ([[IvfAnn.knnSeeded]]'s rule, NOT the
    * float-metric [[IvfAnn.assign]]), codes from
    * [[PqAnn.seededCodebooks]]. Every cell and every code in the written
    * index is reproducible in DuckDB SQL, so the COMPOSED layout —
    * partition-pruned probe, ADC scan, exact rerank — hash-checks end to
    * end. Same fused one-pass shape as [[writeIndex]]. */
  def writeIndexSeeded(spark: SparkSession, data: DataFrame, path: String,
                       centroids: Array[Array[Float]],
                       codebooks: PqAnn.Codebooks): Unit =
    writeRowsSeeded(spark, data, path, centroids, codebooks, "overwrite")

  /** [[appendIndex]] for a [[writeIndexSeeded]] layout — same fixed-
    * quantizer contract, seeded (round9 double) cell assignment. */
  def appendIndexSeeded(spark: SparkSession, delta: DataFrame, path: String,
                        centroids: Array[Array[Float]],
                        codebooks: PqAnn.Codebooks): Unit =
    writeRowsSeeded(spark, delta, path, centroids, codebooks, "append")

  private def writeRowsSeeded(spark: SparkSession, data: DataFrame,
                              path: String, centroids: Array[Array[Float]],
                              codebooks: PqAnn.Codebooks,
                              mode: String): Unit = {
    Generations.recoverSwap(spark, path) // see writeRows
    import spark.implicits._
    val sB = spark.sparkContext.broadcast(IvfAnn.seedNorms(centroids))
    val cbB = spark.sparkContext.broadcast(codebooks)
    data.select(col("d_id"), col("d_vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val ss = sB.value
        val cbs = cbB.value
        it.map { case (id, v) =>
          (id, PqAnn.encodeOne(v, cbs), IvfAnn.seededTopCells(v, ss, 1)(0))
        }
      }.toDF("d_id", "codes", "cell")
      .write.mode(mode).partitionBy("cell").parquet(path)
  }

  /** [[knnOverIndex]] against a [[writeIndexSeeded]] directory: probes
    * resolved with the same round9 double argmax the index cells were
    * assigned with, pushed as a literal partition filter; ADC + rerank
    * via the proven seeded-PQ tail. The entire call is deterministic
    * double arithmetic — the DuckDB-hash-checkable IVF-PQ. */
  def knnSeededOverIndex(spark: SparkSession, queries: DataFrame,
                         path: String, data: DataFrame,
                         centroids: Array[Array[Float]],
                         codebooks: PqAnn.Codebooks, k: Int,
                         nProbe: Int = 10, nCand: Int = 80,
                         excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    require(nCand >= k, s"nCand $nCand < k $k")
    val seeds = IvfAnn.seedNorms(centroids)
    // bounded collect (see QueryBatchGuard), like knnOverIndex
    val qRows = QueryBatchGuard.collectBounded(queries)
    val probes: Map[Long, Array[Int]] = qRows.map { case (id, v) =>
      id -> IvfAnn.seededTopCells(v, seeds, nProbe)
    }.toMap
    val probedCells = probes.values.flatten.toSet.toIndexedSeq.sorted
    val encoded = readIndex(spark, path)
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
    PqAnn.searchEncoded(queries, encoded, data, codebooks, k, nCand,
      excludeSelf, Some(probes))
  }

  /** Candidate `d_id`s for ONE query vector by probe + ADC over a
    * [[writeIndex]] directory — the SQL auto-routing tier's candidate
    * generator ([[graft.plans.AnnTopKRule]]): partition-pruned read of
    * the probed cells, global ADC top-`nCand`, NO rerank. Exact scoring
    * is the caller's job — a routed query must reproduce its OWN
    * expression's values (graft_vec_dot / graft_vec_l2sq), not the kNN
    * tail's rounded cosine. */
  def candidateIds(spark: SparkSession, qv: Array[Float], path: String,
                   centroids: Array[Array[Float]],
                   codebooks: PqAnn.Codebooks, nProbe: Int,
                   nCand: Int): DataFrame = {
    import spark.implicits._
    val probes = IvfAnn.nearestCells(qv, centroids, nProbe)
    val encoded = readIndex(spark, path)
      .filter(col("cell").isin(probes.map(Int.box): _*))
    val q = Seq((0L, qv)).toDF("q_id", "q_vec")
    val partial = PqAnn.adcCandidates(q, encoded, codebooks, nCand,
      excludeSelf = false, probes = Some(Map(0L -> probes)))
    TopK.perGroupAgg(partial, Seq(col("q_id")), col("nadc"), col("d_id"),
      nCand, idName = "d_id", scoreName = "nadc")
      .select(col("d_id"))
  }

  /** Run `search` over bounded id-range QUERY blocks and union — the
    * [[PqAnn.searchEncodedBlocked]] multi-pass shape for batches too
    * large to collect at once: each block collects ≤ blockSize queries
    * (driver memory O(blockSize × dim), independent of batch size) and
    * resolves its own probes, so a block of co-clustered queries reads
    * only ITS cells. Blocks are disjoint query sets, so the union IS
    * the unblocked answer (block-vs-single parity asserted in
    * LlmPipelineSpec). */
  private def blockedUnion(queries: DataFrame, blockSize: Int)
                          (search: DataFrame => DataFrame): DataFrame = {
    require(blockSize > 0)
    import queries.sparkSession.implicits._
    // One pass for the set of NON-EMPTY block indices: fanning out over
    // the raw (max-min)/blockSize id range would launch an eager collect
    // + parquet read per block even for blocks with no queries — a
    // sparse id space (ids {0, 10^9}) would mean thousands of empty
    // jobs. Driver memory here is O(batch/blockSize), not O(id range).
    val blockIds = queries.select(col("q_id")).as[Long]
      .map(id => Math.floorDiv(id, blockSize.toLong))
      .distinct().collect().sorted
    if (blockIds.isEmpty)
      return search(queries) // empty batch: keep the (empty) output schema
    blockIds.map { b =>
      val blockLo = b * blockSize
      search(queries
        .filter(col("q_id") >= blockLo && col("q_id") < blockLo + blockSize))
    }.reduce(_ unionAll _)
  }

  /** [[knnOverIndex]] in bounded query blocks (trained quantizers). */
  def knnOverIndexBlocked(spark: SparkSession, queries: DataFrame,
                          path: String, data: DataFrame,
                          centroids: Array[Array[Float]],
                          codebooks: PqAnn.Codebooks, k: Int,
                          nProbe: Int = 10, nCand: Int = 120,
                          excludeSelf: Boolean = false,
                          blockSize: Int = 1 << 16): DataFrame =
    blockedUnion(queries, blockSize)(slice =>
      knnOverIndex(spark, slice, path, data, centroids, codebooks,
        k, nProbe, nCand, excludeSelf))

  /** [[knnSeededOverIndex]] in bounded query blocks. */
  def knnSeededOverIndexBlocked(spark: SparkSession, queries: DataFrame,
                                path: String, data: DataFrame,
                                centroids: Array[Array[Float]],
                                codebooks: PqAnn.Codebooks, k: Int,
                                nProbe: Int = 10, nCand: Int = 80,
                                excludeSelf: Boolean = false,
                                blockSize: Int = 1 << 16): DataFrame =
    blockedUnion(queries, blockSize)(slice =>
      knnSeededOverIndex(spark, slice, path, data, centroids, codebooks,
        k, nProbe, nCand, excludeSelf))

  // The generation-versioned face: each generation is an ordinary
  // [[writeIndex]] layout (see [[Generations]]' versioned shell).
  private val Versioned = new Generations.Face("IVF-PQ", "ivfpq")

  /** Encode the first corpus as generation 0 under `root` (trained or
    * seeded layout per `seeded`) and publish. Returns the live dir. */
  def buildVersioned(spark: SparkSession, data: DataFrame, root: String,
                     centroids: Array[Array[Float]],
                     codebooks: PqAnn.Codebooks,
                     seeded: Boolean = false,
                     committer: String = ""): String =
    Versioned.build(spark, root, committer) { dir =>
      if (seeded) writeIndexSeeded(spark, data, dir, centroids, codebooks)
      else writeIndex(spark, data, dir, centroids, codebooks)
      dir
    }

  /** The live generation dir — the `path` readers hand to
    * [[knnOverIndex]] / [[candidateIds]]. Published generations are
    * immutable, so a query against this dir completes correctly while
    * [[compactVersioned]] publishes a successor. */
  def resolveVersioned(spark: SparkSession, root: String): String =
    Versioned.resolve(spark, root)

  /** [[appendIndex]] against the live generation (delta files only;
    * the frozen-quantizer contract unchanged). */
  def appendVersioned(spark: SparkSession, delta: DataFrame, root: String,
                      centroids: Array[Array[Float]],
                      codebooks: PqAnn.Codebooks,
                      seeded: Boolean = false,
                      committer: String = ""): Unit =
    Versioned.update(spark, root, "append", committer) { live =>
      if (seeded) appendIndexSeeded(spark, delta, live, centroids, codebooks)
      else appendIndex(spark, delta, live, centroids, codebooks)
    }

  /** [[deleteFromIndex]] against the live generation. */
  def deleteVersioned(spark: SparkSession, root: String,
                      idsDf: DataFrame, committer: String = ""): Long =
    Versioned.update(spark, root, "delete", committer)(
      deleteFromIndex(spark, _, idsDf))

  /** [[deleteVersioned]] for a literal takedown list. Explicit overload
    * pair (not a default argument): Scala allows default arguments on
    * only ONE overloaded alternative, and the DataFrame variant holds
    * it. */
  def deleteVersioned(spark: SparkSession, root: String,
                      ids: Seq[Long]): Long =
    deleteVersioned(spark, root, ids, "")

  def deleteVersioned(spark: SparkSession, root: String,
                      ids: Seq[Long], committer: String): Long =
    Tombstones.ofIds(spark, ids, "d_id")(
      deleteVersioned(spark, root, _, committer))

  /** Tombstoned fraction of the live generation's physical rows — the
    * versioned maintenance trigger's deletion input. Cheap: footer
    * counts for the denominator, one tiny distinct scan for the
    * numerator. Re-arms after a fold: the successor generation erases
    * the dead rows physically and starts with NO tombstones (the
    * codes tier has no corpus constants to keep subtracting). */
  def deletedFractionVersioned(spark: SparkSession, root: String): Double = {
    val live = resolveVersioned(spark, root)
    val gross = indexRows(spark, live)
    if (gross == 0) 0.0
    else Tombstones.idsOf(spark, s"$live/$TombstoneDir", "d_id")
      .map(_.count().toDouble / gross).getOrElse(0.0)
  }

  /** The maintenance-loop trigger: fold into a new generation iff the
    * live generation's tombstoned fraction crosses `maxDeletedFrac` OR
    * its appends have accumulated more than `maxFilesPerCell` data
    * files per cell — readers never paused. Returns the live dir
    * either way. */
  def maybeCompactVersioned(spark: SparkSession, root: String,
                            maxDeletedFrac: Double = 0.2,
                            maxFilesPerCell: Double = 4.0,
                            committer: String = ""): String = {
    val live = resolveVersioned(spark, root)
    lazy val (files, cells) = Generations.dataFiles(spark, live)
    if (deletedFractionVersioned(spark, root) > maxDeletedFrac ||
        files > maxFilesPerCell * math.max(cells, 1))
      compactVersioned(spark, root, committer)
    else live
  }

  /** Serve-through-compaction fold: the [[compactIndex]] layout
    * (replay duplicates dropped, tombstoned rows ERASED physically,
    * one sorted file per cell) written into a NEW generation; publish;
    * retire out-of-grace generations. The successor starts
    * tombstone-free (nothing left to mask once the rows are gone), so
    * the deletion trigger re-arms. */
  def compactVersioned(spark: SparkSession, root: String,
                       committer: String = ""): String =
    Versioned.fold(spark, root, committer) { (live, dir) =>
      foldInto(spark, live, dir)
      dir
    }
}
