package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Round9
import graft.index.{Metrics, VectorStore}

/** IVF (inverted-file) approximate kNN — the brief's named scale path
  * alongside LSH and the graph index: a coarse k-means quantizer
  * partitions the corpus into `nlist` cells; queries probe the `nProbe`
  * nearest cells and rerank exactly inside them.
  *
  * Honesty note on the fixture: the synthetic embeddings cluster weakly,
  * so recall tracks the probed fraction (defaults probe 10/16 cells for
  * the ≥0.85 gate). On genuinely clustered corpora (the regime IVF is
  * for) small nProbe/nlist fractions reach high recall; the knobs are
  * the operator's contract either way.
  *
  * Spark shape: centroids are tiny (nlist × dim) — trained driver-side
  * with deterministic Lloyd iterations on a sample, then broadcast; cell
  * assignment is a `mapPartitions` argmin over the broadcast centroids
  * (one linear pass, no shuffle); the probe step is a broadcast-hash
  * semi-equi-join on `cell` — candidates ≈ (nProbe/nlist)·N rows instead
  * of all-pairs. At 100 TB the assignment column is precomputed and the
  * corpus bucketed/partitioned BY cell so a probe touches only its
  * partitions (partition pruning on the cell key).
  */
object IvfAnn {

  /** Deterministic Lloyd's k-means on collected sample vectors (cosine
    * space: vectors and centroids L2-normalized each round). */
  def trainCentroids(sample: Array[Array[Float]], nlist: Int,
                     iters: Int = 10, seed: Long = 42L): Array[Array[Float]] = {
    require(sample.nonEmpty && nlist > 0)
    val dim = sample(0).length
    val rnd = new scala.util.Random(seed)
    val n = sample.length
    // k-means++-lite seeding: distinct random picks
    val picks = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picks.size < math.min(nlist, n)) picks += rnd.nextInt(n)
    var centroids = picks.toArray.map(i => VectorStore.normalized(sample(i)))
    val metric = Metrics.Cosine
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v0 =>
        val v = VectorStore.normalized(v0)
        var best = 0
        var bestD = Float.MaxValue
        var c = 0
        while (c < centroids.length) {
          val d = metric.dist(centroids(c), 0, v, 0, dim)
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else VectorStore.normalized(
          sums(c).map(x => (x / counts(c)).toFloat))
      }.toArray
    }
    centroids
  }

  private[operators] def nearestCells(v: Array[Float],
                                      centroids: Array[Array[Float]],
                                      nProbe: Int): Array[Int] = {
    val metric = Metrics.Cosine
    val q = VectorStore.normalized(v)
    centroids.indices
      .map(c => (metric.dist(centroids(c), 0, q, 0, q.length), c))
      .sorted.take(nProbe).map(_._2).toArray
  }

  /** Assign each (id, vec) row its IVF cell (no shuffle). */
  def assign(spark: SparkSession, data: DataFrame, idCol: String, vecCol: String,
             centroids: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(centroids)
    data.select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = cB.value
        it.map { case (id, v) => (id, v, nearestCells(v, cs, 1)(0)) }
      }.toDF(idCol, vecCol, "cell")
  }

  /** Deterministic training sample WITHOUT a global sort: rows whose
    * seeded id-hash falls under a threshold sized from a cheap count.
    * The picked SET depends only on ids (never partition layout); the
    * collected handful is sorted driver-side so the training order is
    * stable too. A total sort of the corpus just to take 2 000 rows is
    * the kind of O(N log N) shuffle that kills an otherwise
    * O(N/nlist·nProbe) operator at scale. */
  def sampleVectors(data: DataFrame, idCol: String, vecCol: String,
                    sampleN: Int, seed: Long): DataFrame = {
    val n = data.count()
    if (n <= sampleN) data.select(col(idCol), col(vecCol))
    else {
      // 1.3x slack over the target rate: hash-binomial shortfall below
      // sampleN has probability < 1e-9 at these sizes; extras are
      // trimmed after the driver-side sort.
      val buckets = 1000000L
      val cut = math.min(buckets, (buckets * 1.3 * sampleN / n).toLong max 1L)
      data.select(col(idCol), col(vecCol))
        .filter(pmod(xxhash64(col(idCol), lit(seed)), lit(buckets)) < lit(cut))
    }
  }

  /** [[sampleVectors]] collected to a deterministic driver-side training
    * array (sorted by id, trimmed to `sampleN`, ids stripped) — the one
    * shared recipe every trained quantizer (IVF centroids, PQ codebooks,
    * the sweep/bench/test call sites) must follow so they all train on
    * the same sample. */
  def collectSample(data: DataFrame, sampleN: Int,
                    seed: Long): Array[Array[Float]] =
    sampleVectors(data, "d_id", "d_vec", sampleN, seed)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).take(sampleN).map(_._2)

  /** Materialize the cell-partitioned corpus layout promised in the
    * header note: one parquet partition directory per IVF cell, so a
    * probe query's cell filter prunes unprobed partitions AT THE SCAN
    * (never reads their files). This is the offline half of IVF at
    * 100 TB — assignment runs once, every probe query afterwards touches
    * ~nProbe/nlist of the bytes. */
  def writeCellLayout(spark: SparkSession, data: DataFrame, path: String,
                      centroids: Array[Array[Float]]): Unit =
    assign(spark, data, "d_id", "d_vec", centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Approximate top-k over a [[writeCellLayout]] corpus: probe cells are
    * resolved first (queries × centroids — tiny), then pushed into the
    * scan as a LITERAL partition filter, so only the probed cells'
    * files are read (IvfSpec asserts the `PartitionFilters` pruning).
    * Scoring/ranking arithmetic is identical to [[knn]]. */
  def knnOverLayout(spark: SparkSession, queries: DataFrame, path: String,
                    centroids: Array[Array[Float]], k: Int, nProbe: Int = 10,
                    excludeSelf: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions._
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(centroids)
    val probes = queries.select(col("q_id"), col("q_vec"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        nearestCells(v, cB.value, nProbe).map(c => (id, v, c))
      }.toDF("q_id", "q_vec", "cell")
      .withColumn("q_norm", vecNorm(col("q_vec")))
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val corpus = spark.read.parquet(path)
      .filter(col("cell").isin(probedCells.toIndexedSeq.map(Int.box): _*))
      .withColumn("d_norm", vecNorm(col("d_vec")))
    val scored0 = probes.join(corpus, Seq("cell"))
      .select(col("q_id"), col("d_id"),
        round(vecDot(col("q_vec"), col("d_vec")) /
          (col("q_norm") * col("d_norm")), 9).as("score"))
    val scored =
      if (excludeSelf) scored0.filter(col("q_id") =!= col("d_id")) else scored0
    TopK.perGroupAgg(scored, Seq(col("q_id")),
      col("score"), col("d_id"), k, idName = "d_id")
  }

  /** The shared training-free seed rule: the `nlist` corpus vectors with
    * the smallest (md5(id), id) rank, in rank order — one `row_number`
    * in the oracle. TakeOrdered (orderBy+limit), never a full sort. */
  def seededCentroids(data: DataFrame, nlist: Int): Array[Array[Float]] = {
    val spark = data.sparkSession
    import spark.implicits._
    data.select(col("d_id"), col("d_vec"),
        md5(col("d_id").cast("string").cast("binary")).as("h"))
      .orderBy(col("h"), col("d_id")).limit(nlist)
      .select(col("d_id"), col("d_vec"))
      .as[(Long, Array[Float])].collect().map(_._2)
  }

  /** Centers zipped with their cell index and double L2 norm — the
    * broadcast payload of the seeded assignment kernel. */
  private[operators] def seedNorms(centroids: Array[Array[Float]])
      : Array[(Int, Array[Float], Double)] =
    centroids.zipWithIndex.map { case (v, cell) =>
      (cell, v,
        math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble)))
    }

  /** Best `take` cells for `v` against the seeded centers: cosine in
    * DOUBLE, HALF_UP-quantized to 9 decimals before the argmax (the
    * [[PairKernel]] parity recipe), ties (score desc, cell asc) — the
    * exact comparison the DuckDB oracle's `row_number` performs. */
  private[operators] def seededTopCells(v: Array[Float],
      ss: Array[(Int, Array[Float], Double)], take: Int): Array[Int] = {
    var nv = 0.0
    var i = 0
    while (i < v.length) { nv += v(i).toDouble * v(i).toDouble; i += 1 }
    val norm = math.sqrt(nv)
    ss.map { case (cell, sv, snorm) =>
      var dot = 0.0
      var j = 0
      while (j < sv.length) { dot += sv(j).toDouble * v(j).toDouble; j += 1 }
      (-Round9(dot / (snorm * norm)), cell)
    }.sorted.take(take).map(_._2)
  }

  /** Oracle-checkable IVF twin — a corpus-SEEDED coarse quantizer instead
    * of a Lloyd-trained one: the `nlist` cell centers are the corpus
    * vectors with the smallest (md5(id), id) rank. Training-free, so the
    * ENTIRE operator (seed pick → cell assignment → probe → exact rerank)
    * is expressible in the DuckDB oracle, converting IVF's probe+rerank
    * tail from rows-only to hash-checked; [[knn]] keeps the trained
    * quantizer (better cells, same tail) as the production path.
    *
    * Assignment/probing runs in a mapPartitions kernel over the broadcast
    * seeds — one linear pass, no shuffle, no N×nlist row blowup — with
    * the cosine computed in DOUBLE and HALF_UP-rounded to 9 decimals
    * before the argmax (the [[PairKernel]] parity recipe), so near-tie
    * cell choices agree with the oracle's double arithmetic bit-for-bit.
    * Ties break (score desc, cell asc) in both engines. */
  def knnSeeded(spark: SparkSession, queries: DataFrame, data: DataFrame,
                k: Int, nlist: Int = 16, nProbe: Int = 10,
                excludeSelf: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions._
    import spark.implicits._
    val seedsB =
      spark.sparkContext.broadcast(seedNorms(seededCentroids(data, nlist)))

    // NOTE: the kernel lambdas call seededTopCells DIRECTLY (the
    // [[assign]] shape). Wrapping it in a local `def` lifts the wrapper
    // to an instance method of this object and makes the task closure
    // capture the non-serializable module (caught by QuerySmokeSpec).
    val assigned = data.select(col("d_id"), col("d_vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val ss = seedsB.value
        it.map { case (id, v) => (id, v, seededTopCells(v, ss, 1)(0)) }
      }
      .toDF("d_id", "d_vec", "cell")
      .withColumn("d_norm", vecNorm(col("d_vec")))
    val probes = queries.select(col("q_id"), col("q_vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val ss = seedsB.value
        it.flatMap { case (id, v) =>
          seededTopCells(v, ss, nProbe).map(c => (id, v, c)) }
      }
      .toDF("q_id", "q_vec", "cell")
      .withColumn("q_norm", vecNorm(col("q_vec")))

    val scored0 = probes.join(assigned, Seq("cell"))
      .select(col("q_id"), col("d_id"),
        round(vecDot(col("q_vec"), col("d_vec")) /
          (col("q_norm") * col("d_norm")), 9).as("score"))
    val scored =
      if (excludeSelf) scored0.filter(col("q_id") =!= col("d_id")) else scored0
    TopK.perGroupAgg(scored, Seq(col("q_id")),
      col("score"), col("d_id"), k, idName = "d_id")
  }

  /** Approximate top-k: probe `nProbe` cells per query, exact cosine
    * rerank inside them (same quantized scoring as the exact paths). */
  def knn(spark: SparkSession, queries: DataFrame, data: DataFrame, k: Int,
          nlist: Int = 16, nProbe: Int = 10, sampleN: Int = 2000,
          seed: Long = 42L, excludeSelf: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions._
    import spark.implicits._
    val centroids = trainCentroids(collectSample(data, sampleN, seed),
      nlist, seed = seed)
    val cB = spark.sparkContext.broadcast(centroids)

    val assigned = assign(spark, data, "d_id", "d_vec", centroids)
      .withColumn("d_norm", vecNorm(col("d_vec")))
    val probes = queries.select(col("q_id"), col("q_vec"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        nearestCells(v, cB.value, nProbe).map(c => (id, v, c))
      }.toDF("q_id", "q_vec", "cell")
      .withColumn("q_norm", vecNorm(col("q_vec")))

    val scored0 = probes.join(assigned, Seq("cell"))
      .select(col("q_id"), col("d_id"),
        round(vecDot(col("q_vec"), col("d_vec")) /
          (col("q_norm") * col("d_norm")), 9).as("score"))
    val scored =
      if (excludeSelf) scored0.filter(col("q_id") =!= col("d_id")) else scored0
    TopK.perGroupAgg(scored, Seq(col("q_id")),
      col("score"), col("d_id"), k, idName = "d_id")
  }
}
