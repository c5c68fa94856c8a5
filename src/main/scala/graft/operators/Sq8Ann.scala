package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Round9, ScoredId, TopKAggregator}
import graft.index.Generations

/** Scalar (int8) quantization ANN — the third compression geometry of
  * the 100 TB tier family: each dimension is affinely mapped onto one
  * byte via per-dimension corpus [min, max] bounds, so a dim-float
  * vector stores as dim BYTES (4× smaller than float32, with none of
  * PQ's subspace structure). The coarse scan scores queries against the
  * DEQUANTIZED codes (error ≤ half a quantization step per dimension —
  * far tighter than PQ at the same bit budget on spread-out data), and
  * the bounded top-`nCand` tail is reranked against full precision.
  *
  * Role vs the other tiers: LSH/IVF prune WHICH vectors are scored; PQ
  * and SQ8 shrink WHAT is read per scored vector. PQ wins at extreme
  * compression (sub-byte per dim); SQ8 wins when 8 bits/dim is
  * affordable and recall must stay near-exact (faiss's
  * `ScalarQuantizer` occupies the same slot under its IVF layouts).
  *
  * Spark shape: bounds training is one `mapPartitions` pass emitting a
  * per-partition (min[], max[]) pair — O(partitions × dim) to the
  * driver, no shuffle; encoding is a second linear pass (no shuffle);
  * the coarse scan broadcasts the query block and keeps one bounded
  * top-`nCand` heap per query per task (the [[KnnKernel]] blocked-scan
  * shape), so the shuffle carries O(tasks × queries × nCand) rows and
  * the encoded corpus never exchanges. Exact rerank is the shared
  * [[PqAnn.rerankExact]] broadcast-join path.
  *
  * Numeric contract (the [[IvfAnn.knnSeeded]] oracle-parity recipe):
  * all arithmetic in double; bounds are exact per-dimension min/max
  * (selection, not accumulation — reproducible in any engine);
  * quantization is HALF_UP round of `(v-mn)/(mx-mn)*255` (non-negative,
  * so identical to DuckDB's half-away-from-zero `round`); dequantize is
  * `mn + (code/255.0)*(mx-mn)`; 9-decimal HALF_UP quantization before
  * every ranking decision; ties break on the smaller id. The WHOLE
  * pipeline — train, encode, coarse scan, rerank — is deterministic,
  * so `knn_sq8` hash-checks against DuckDB with no seeded twin needed.
  *
  * Reference anchor: the reference scans full-precision vectors only
  * (`/root/reference/src/multivector_reranker.cpp:183-230`); SQ is the
  * standard published byte-quantization layer a 100 TB deployment adds
  * under it (faiss ScalarQuantizer / DiskANN's in-memory PQ+SQ hybrid).
  */
object Sq8Ann {

  /** Per-dimension affine quantization bounds (exact corpus min/max). */
  case class Bounds(mins: Array[Double], maxs: Array[Double]) {
    require(mins.length == maxs.length)
    def dim: Int = mins.length
  }

  /** HALF_UP integer round — on non-negative inputs identical to
    * DuckDB's `round(x, 0)` (half away from zero). */
  private def roundCode(x: Double): Int =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt

  /** One linear pass: per-partition (min[], max[]) partials, combined on
    * the driver — O(partitions × dim) driver bytes, zero shuffle, the
    * corpus is read once and never exchanged. */
  def trainBounds(data: DataFrame): Bounds = {
    val spark = data.sparkSession
    import spark.implicits._
    val partials = data.select(col("d_vec")).as[Array[Float]]
      .mapPartitions { it =>
        var mins: Array[Double] = null
        var maxs: Array[Double] = null
        it.foreach { v =>
          if (mins == null) {
            mins = Array.fill(v.length)(Double.PositiveInfinity)
            maxs = Array.fill(v.length)(Double.NegativeInfinity)
          }
          var j = 0
          while (j < v.length) {
            val x = v(j).toDouble
            if (x < mins(j)) mins(j) = x
            if (x > maxs(j)) maxs(j) = x
            j += 1
          }
        }
        if (mins == null) Iterator.empty else Iterator.single((mins, maxs))
      }.collect()
    require(partials.nonEmpty, "Sq8Ann.trainBounds: empty corpus")
    val dim = partials.head._1.length
    val mins = Array.fill(dim)(Double.PositiveInfinity)
    val maxs = Array.fill(dim)(Double.NegativeInfinity)
    partials.foreach { case (mn, mx) =>
      var j = 0
      while (j < dim) {
        if (mn(j) < mins(j)) mins(j) = mn(j)
        if (mx(j) > maxs(j)) maxs(j) = mx(j)
        j += 1
      }
    }
    Bounds(mins, maxs)
  }

  private[graft] def encodeOne(v: Array[Float], b: Bounds): Array[Byte] = {
    val out = new Array[Byte](v.length)
    var j = 0
    while (j < v.length) {
      val mn = b.mins(j)
      val mx = b.maxs(j)
      val code =
        if (mx == mn) 0
        else {
          val c = roundCode((v(j).toDouble - mn) / (mx - mn) * 255.0)
          if (c < 0) 0 else if (c > 255) 255 else c
        }
      out(j) = (code & 0xff).toByte
      j += 1
    }
    out
  }

  private[graft] def dequantize(codes: Array[Byte], b: Bounds,
                                    out: Array[Double]): Unit = {
    var j = 0
    while (j < codes.length) {
      val mn = b.mins(j)
      val mx = b.maxs(j)
      out(j) = if (mx == mn) mn
               else mn + (((codes(j) & 0xff) / 255.0) * (mx - mn))
      j += 1
    }
  }

  /** Linear encode pass → (d_id, codes binary). The codes column is the
    * persistable index artifact: dim bytes per row, 4× under float32. */
  def encode(data: DataFrame, bounds: Bounds): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val bB = spark.sparkContext.broadcast(bounds)
    data.select(col("d_id"), col("d_vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val b = bB.value
        it.map { case (id, v) => (id, encodeOne(v, b)) }
      }.toDF("d_id", "codes")
  }

  /** Coarse scan: dequantized score per (query, row) with one bounded
    * top-`nCand` heap per query per task — cosine by default, negated
    * L2² when `byL2` (so "better" is always heap-descending). Each row
    * is decoded ONCE into a reusable buffer and its norm computed once,
    * so per-row cost is O(dim + nq·dim) with no allocation in the hot
    * loop. */
  private[graft] def coarseCandidates(queries: DataFrame,
      encoded: DataFrame, bounds: Bounds, nCand: Int,
      excludeSelf: Boolean, byL2: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // bounded collect (see QueryBatchGuard): the direct API must fail
    // loudly on an unbounded query batch, not OOM the driver — the
    // blocked driver (searchEncodedBlocked) is the unbounded-batch path
    val qRows = QueryBatchGuard.collectBounded(queries)
    val qIds = qRows.map(_._1)
    val qVecs = qRows.map(_._2.map(_.toDouble))
    val qNorms = qVecs.map(v => math.sqrt(v.map(x => x * x).sum))
    val qB = spark.sparkContext.broadcast((qIds, qVecs, qNorms, bounds))

    encoded.select(col("d_id"), col("codes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val (ids, qvs, qns, b) = qB.value
        val nq = ids.length
        val agg = new TopKAggregator(nCand)
        val bufs = Array.fill(nq)(agg.zero)
        val dec = new Array[Double](b.dim)
        it.foreach { case (dId, codes) =>
          dequantize(codes, b, dec)
          var s = 0.0
          var j = 0
          while (j < dec.length) { s += dec(j) * dec(j); j += 1 }
          val dNorm = math.sqrt(s)
          var qi = 0
          while (qi < nq) {
            if (!(excludeSelf && ids(qi) == dId)) {
              val qv = qvs(qi)
              val score =
                if (byL2) {
                  var l2 = 0.0
                  var i = 0
                  while (i < qv.length) {
                    val d = qv(i) - dec(i); l2 += d * d; i += 1
                  }
                  -Round9(l2)
                } else if (dNorm == 0.0 || qns(qi) == 0.0) {
                  // a zero (or zero-dequantized) row OR a zero-norm query
                  // has no direction: rank it last instead of feeding NaN
                  // (0/0) to the heap — same convention as rerankExact
                  -1.0
                } else {
                  var dot = 0.0
                  var i = 0
                  while (i < qv.length) { dot += qv(i) * dec(i); i += 1 }
                  Round9(dot / (qns(qi) * dNorm))
                }
              agg.reduce(bufs(qi), ScoredId(score, dId))
            }
            qi += 1
          }
        }
        (0 until nq).iterator.flatMap { qi =>
          bufs(qi).iterator.map(s => (ids(qi), s.id, s.score))
        }
      }.toDF("q_id", "d_id", "ascore")
  }

  /** Coarse top-`nCand` over the encoded corpus, exact-cosine rerank
    * against full-precision `data`. Output: (q_id, rank, d_id, score) —
    * the shared kNN shape. */
  def searchEncoded(queries: DataFrame, encoded: DataFrame, data: DataFrame,
                    bounds: Bounds, k: Int, nCand: Int,
                    excludeSelf: Boolean = false): DataFrame = {
    require(nCand >= k, s"nCand $nCand < k $k")
    val partial = coarseCandidates(queries, encoded, bounds, nCand, excludeSelf)
    val cands = TopK.perGroupAgg(partial, Seq(col("q_id")),
      col("ascore"), col("d_id"), nCand, idName = "d_id", scoreName = "ascore")
      .select(col("q_id"), col("d_id"))
    PqAnn.rerankExact(queries, data, cands, k)
  }

  /** [[searchEncoded]] in bounded QUERY blocks (the [[PairKernel]]
    * multi-pass shape): driver memory O(blockSize × dim) regardless of
    * batch size; block outputs are disjoint query sets so the union IS
    * the unblocked answer. */
  def searchEncodedBlocked(queries: DataFrame, encoded: DataFrame,
                           data: DataFrame, bounds: Bounds, k: Int,
                           nCand: Int, excludeSelf: Boolean = false,
                           blockSize: Int = 1 << 16): DataFrame = {
    require(blockSize > 0)
    val spark = queries.sparkSession
    import spark.implicits._
    val blockIds = queries.select(col("q_id")).as[Long]
      .map(id => Math.floorDiv(id, blockSize.toLong))
      .distinct().collect().sorted
    if (blockIds.isEmpty)
      return searchEncoded(queries, encoded, data, bounds, k, nCand,
        excludeSelf)
    blockIds.map { b =>
      val blockLo = b * blockSize
      val slice = queries
        .filter(col("q_id") >= blockLo && col("q_id") < blockLo + blockSize)
      searchEncoded(slice, encoded, data, bounds, k, nCand, excludeSelf)
    }.reduce(_ unionAll _)
  }

  /** Persist the SQ8 index layout: `path/codes` = the byte-code parquet
    * (dim bytes per row), `path/bounds` = the tiny per-dim (j, mn, mx)
    * sidecar. Returns the trained bounds. The restart-safe serving
    * layout behind [[graft.plans.AnnIndexRegistry.registerSq8]] — a
    * session re-registers by [[loadIndex]] without touching the
    * full-precision corpus. */
  def writeIndex(data: DataFrame, path: String): Bounds = {
    val spark = data.sparkSession
    import spark.implicits._
    val bounds = trainBounds(data)
    encode(data, bounds).write.mode("overwrite").parquet(s"$path/codes")
    bounds.mins.indices
      .map(j => (j, bounds.mins(j), bounds.maxs(j)))
      .toDF("j", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/bounds")
    bounds
  }

  /** Load a [[writeIndex]] layout → (encoded codes DF, bounds). The
    * codes side reads through [[readCodes]], so tombstoned rows are
    * masked for any consumer of the loaded index. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): (DataFrame, Bounds) = {
    val rows = spark.read.parquet(s"$path/bounds").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(rows.nonEmpty, s"empty SQ8 bounds sidecar at $path/bounds")
    (readCodes(spark, path), Bounds(rows.map(_._2), rows.map(_._3)))
  }

  /** The canonical codes loader: `path/codes` minus the tombstoned ids
    * — the [[IvfPq.readIndex]] posture for the byte-code tier. */
  def readCodes(spark: org.apache.spark.sql.SparkSession,
                path: String): DataFrame = {
    // restore a compact that crashed between its renames before
    // reading (the codes dir would otherwise be missing until the
    // next compactCodes ran)
    Generations.recoverSwap(spark, s"$path/codes")
    Tombstones.mask(spark, s"$path/_tombstones", "d_id",
      spark.read.parquet(s"$path/codes"))
  }

  /** Delete rows from the codes index (takedown / GDPR erasure):
    * append-only d_id tombstones beside the codes dir — masked by
    * [[readCodes]] immediately, erased physically by [[compactCodes]].
    * Idempotent by construction; returns the newly tombstoned count. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, idsDf: DataFrame): Long = {
    Generations.recoverSwap(spark, s"$path/codes")
    Tombstones.appendNew(spark, s"$path/_tombstones", "d_id",
      idsDf.select(col("d_id")))
  }

  /** [[deleteFromIndex]] for a literal takedown list. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, ids: Seq[Long]): Long =
    Tombstones.ofIds(spark, ids, "d_id")(deleteFromIndex(spark, path, _))

  /** Fold append-accumulated codes files and ERASE tombstoned rows
    * physically (the staging read goes through [[readCodes]]); the
    * tombstone sidecar dies with the old codes dir — no constants to
    * maintain, so nothing is left to mask once the rows are gone.
    * Requires QUIESCENCE; crash recovery via
    * [[Generations.recoverSwap]] on the codes dir at entry. */
  def compactCodes(spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit = {
    val codes = s"$path/codes"
    Generations.recoverSwap(spark, codes)
    Generations.swap(spark, codes)(foldCodes(spark, path, _))
    val tombP = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    tombP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(tombP, true)
  }

  /** The codes fold both compactions share: `path`'s live code rows,
    * replay duplicates dropped and tombstoned rows erased, sorted into
    * `dst`. */
  private def foldCodes(spark: org.apache.spark.sql.SparkSession,
                        path: String, dst: String): Unit =
    readCodes(spark, path)
      .dropDuplicates("d_id")
      .repartition(spark.sparkContext.defaultParallelism)
      .sortWithinPartitions("d_id")
      .write.mode("overwrite").parquet(dst)

  /** Incremental append: encode ONLY the delta rows with the frozen
    * bounds and add them to the codes layout — resident files untouched
    * (the [[IvfPq.appendIndex]] posture). Bounds are part of the frozen
    * quantizer, so append-then-search is bit-identical to re-encoding
    * the union with the same bounds; rows whose values fall outside the
    * trained [mn, mx] clamp (documented SQ behavior — retrain when the
    * value distribution drifts). */
  def appendIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  delta: DataFrame): Unit = {
    val (_, bounds) = loadIndex(spark, path)
    encode(delta, bounds).write.mode("append").parquet(s"$path/codes")
  }

  /** Train + encode + search in one call (the registered-query path;
    * offline deployments persist [[encode]]'s output and call
    * [[searchEncoded]] directly). Deterministic end-to-end. */
  def knn(queries: DataFrame, data: DataFrame, k: Int,
          nCand: Int = 60, excludeSelf: Boolean = false): DataFrame = {
    val bounds = trainBounds(data)
    val encoded = encode(data, bounds)
    searchEncodedBlocked(queries, encoded, data, bounds, k, nCand,
      excludeSelf)
  }

  // The generation-versioned face: each generation is an ordinary
  // [[writeIndex]] layout (see [[Generations]]' versioned shell). The
  // per-dimension bounds are part of the FROZEN quantizer and are
  // copied verbatim into every successor — a fold never re-trains.
  private val Versioned = new Generations.Face("SQ8", "sq8")

  /** Train + encode the first corpus as generation 0 under `root` and
    * publish. Returns (live generation dir, trained bounds). */
  def buildVersioned(spark: org.apache.spark.sql.SparkSession,
                     data: DataFrame, root: String,
                     committer: String = ""): (String, Bounds) =
    Versioned.build(spark, root, committer)(dir => (dir, writeIndex(data, dir)))

  /** The live generation dir — the `path` readers hand to
    * [[loadIndex]] / [[readCodes]]. Immutable once published, so a
    * query against it completes correctly through a concurrent
    * [[compactVersioned]]. */
  def resolveVersioned(spark: org.apache.spark.sql.SparkSession,
                       root: String): String =
    Versioned.resolve(spark, root)

  /** [[appendIndex]] against the live generation (frozen bounds). */
  def appendVersioned(spark: org.apache.spark.sql.SparkSession,
                      root: String, delta: DataFrame,
                      committer: String = ""): Unit =
    Versioned.update(spark, root, "append", committer)(
      appendIndex(spark, _, delta))

  /** [[deleteFromIndex]] against the live generation. */
  def deleteVersioned(spark: org.apache.spark.sql.SparkSession,
                      root: String, idsDf: DataFrame,
                      committer: String = ""): Long =
    Versioned.update(spark, root, "delete", committer)(
      deleteFromIndex(spark, _, idsDf))

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
    Tombstones.ofIds(spark, ids, "d_id")(
      deleteVersioned(spark, root, _, committer))

  /** Tombstoned fraction of the live generation's physical code rows —
    * re-arms after a fold (the successor erases the rows and starts
    * tombstone-free). Footer counts + one tiny distinct scan. */
  def deletedFractionVersioned(spark: org.apache.spark.sql.SparkSession,
                               root: String): Double = {
    val live = resolveVersioned(spark, root)
    val gross = graft.index.ParquetMeta.rowsCached(spark, s"$live/codes")
    if (gross == 0) 0.0
    else Tombstones.idsOf(spark, s"$live/_tombstones", "d_id")
      .map(_.count().toDouble / gross).getOrElse(0.0)
  }

  /** The maintenance-loop trigger: fold into a new generation iff the
    * tombstoned fraction crosses `maxDeletedFrac` OR the codes dir has
    * accumulated more than `maxCodesFiles` append files. Returns the
    * live dir either way. */
  def maybeCompactVersioned(spark: org.apache.spark.sql.SparkSession,
                            root: String, maxDeletedFrac: Double = 0.2,
                            maxCodesFiles: Int = 64,
                            committer: String = ""): String = {
    val live = resolveVersioned(spark, root)
    if (deletedFractionVersioned(spark, root) > maxDeletedFrac ||
        Generations.dataFiles(spark, s"$live/codes")._1 > maxCodesFiles)
      compactVersioned(spark, root, committer)
    else live
  }

  /** Serve-through-compaction fold: folded codes (replay duplicates
    * dropped, tombstoned rows ERASED physically) plus the verbatim
    * bounds sidecar into a NEW generation; publish; retire
    * out-of-grace generations. Live generation strictly read-only. */
  def compactVersioned(spark: org.apache.spark.sql.SparkSession,
                       root: String, committer: String = ""): String =
    Versioned.fold(spark, root, committer) { (live, dir) =>
      foldCodes(spark, live, s"$dir/codes")
      spark.read.parquet(s"$live/bounds")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/bounds")
      dir
    }
}
