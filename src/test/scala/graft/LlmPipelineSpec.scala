package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.MediaPipeline
import graft.operators.LshAnn
import graft.queries.{AnnQueries, TextQueries, VectorQueries}

/** LLM-pipeline pack: LSH recall vs the exact oracle, MinHash banding
  * sanity, multimodal feature determinism. */
class LlmPipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("knn_lsh: >=0.9 recall@10 AND candidates <20% of |Q|x|D| on clustered data") {
    // LSH's regime: data with near-neighbor structure. On uniform-random
    // vectors no sign-LSH parameterization is simultaneously selective
    // and high-recall (the neighbor/bulk angle gap is too thin) — the
    // exact paths cover that case. Here both halves of the contract are
    // measured: recall vs exact top-10, and candidate volume staying a
    // small fraction of all pairs (the guard against a regression to an
    // effective cross join, VERDICT r4 "What's wrong" #2).
    val data = ClusteredFixture.df(spark) // 20 clusters x 50, dim 32
    val q = data.filter(col("vec_id") % 50 === 0) // one query per cluster
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val d = data.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val nQ = q.count()
    val nD = d.count()
    val nCands = LshAnn.candidates(q, d, numPlanes = 128, rowsPerBand = 8).count()
    assert(nCands < 0.2 * nQ * nD,
      s"candidate volume $nCands >= 20% of ${nQ * nD} — banding not selective")
    val approx = LshAnn.knn(q, d, 10, excludeSelf = true)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = graft.operators.KnnKernel.bruteForce(spark, q, d, 10,
        excludeSelf = true)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (qid, gt) =>
      approx.getOrElse(qid, Set.empty).intersect(gt).size.toDouble / gt.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.9, s"LSH recall@10 = $avg")
  }

  test("lsh banding refuses degenerate band keys (<8 bits)") {
    val data = ClusteredFixture.df(spark, nClusters = 2, perCluster = 5)
    val q = data.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val d = data.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val e = intercept[IllegalArgumentException] {
      LshAnn.candidates(q, d, numPlanes = 8, rowsPerBand = 2)
    }
    assert(e.getMessage.contains("8"))
  }

  test("dedup_embedding_threshold: >=0.95 recall of planted pairs, candidates <5% of all pairs") {
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val aug = AnnQueries.plantNearDups(base).cache()
    val n = aug.count()
    val got = AnnQueries.queries("dedup_embedding_threshold")(spark, sfDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exhaustive thresholded truth on the same augmented corpus
    import graft.functions.VectorFunctions._
    val withNorm = aug.withColumn("norm", vecNorm(col("vec")))
    val a = withNorm.select(col("id").as("id_a"), col("vec").as("va"),
      col("norm").as("na"))
    val b = withNorm.select(col("id").as("id_b"), col("vec").as("vb"),
      col("norm").as("nb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(round(vecDot(col("va"), col("vb")) /
        (col("na") * col("nb")), 9) >= 0.85)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture planted no pairs above the threshold")
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.95, s"threshold near-dup recall = $recall over ${truth.size}")
    // selectivity: the banded candidate set must stay a small fraction
    // of the N(N-1)/2 pair space
    val q = aug.select(col("id").as("q_id"), col("vec").as("q_vec"))
    val d = aug.select(col("id").as("d_id"), col("vec").as("d_vec"))
    val cands = LshAnn.candidates(q, d, numPlanes = 192, rowsPerBand = 12)
      .filter(col("q_id") < col("d_id")).count()
    val allPairs = n * (n - 1) / 2.0
    assert(cands < 0.05 * allPairs,
      s"threshold candidates $cands >= 5% of $allPairs pairs")
    aug.unpersist()
  }

  test("knn_ivf reaches >=0.85 recall@10 vs exact j1") {
    val approx = AnnQueries.queries("knn_ivf")(spark, sfDir)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = VectorQueries.queries("j1_knn_cosine")(spark, sfDir)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, gt) =>
      approx.getOrElse(q, Set.empty).intersect(gt).size.toDouble / gt.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.85, s"IVF recall@10 = $avg")
  }

  test("lsh candidate generation is bucketed, not all-pairs") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val plan = LshAnn.knn(q, d, 10).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin")
      || plan.contains("ShuffledHashJoin"), s"no equi-join found:\n$plan")
  }

  test("IVF cell layout prunes unprobed partitions and matches the in-memory path") {
    import graft.operators.IvfAnn
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // train the same centroids knn() derives internally (same sample, seed)
    val centroids = IvfAnn.trainCentroids(
      IvfAnn.collectSample(d, 2000, 42L), 16, seed = 42L)
    val path = "/tmp/graft_ivf_layout"
    IvfAnn.writeCellLayout(spark, d, path, centroids)
    val fromLayout = IvfAnn.knnOverLayout(spark, q, path, centroids, 10,
      nProbe = 2, excludeSelf = true)
    val layoutRows = fromLayout.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val plan = fromLayout.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
    assert(plan.contains("cell"), s"cell filter missing from scan:\n$plan")
    val mem = IvfAnn.knn(spark, q, d, 10, nProbe = 2, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(layoutRows === mem,
      "cell-layout probe disagrees with the in-memory IVF path")
  }

  test("hot band: AQE skew-join split engages on the banded self-join") {
    import spark.implicits._
    // 600 exact near-dups (one hot (band,key) bucket) + 200 distinct docs
    val hotShingles = Seq("aa bb cc", "bb cc dd", "cc dd ee")
    val sh = ((0 until 600).flatMap(i => hotShingles.map(s => (i.toLong, s))) ++
      (600 until 800).flatMap(i =>
        Seq((i.toLong, s"u$i v$i w$i"), (i.toLong, s"v$i w$i x$i"))))
      .toDF("doc_id", "shingle")
      .withColumn("h", md5(col("shingle")))
    val confs = Map(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pairs = graft.operators.MinHashLsh.bandedPairs(sh)
      val rows = pairs.collect() // forces the AQE final plan
      // correctness under the split: every hot pair present, all 4 bands
      val hot = rows.filter(r => r.getLong(0) < 600 && r.getLong(1) < 600)
      assert(hot.length === 600 * 599 / 2, s"hot pairs ${hot.length}")
      assert(hot.forall(_.getLong(2) === 4))
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"),
        s"AQE skew split did not engage:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("capped pairs: hot bucket suppressed and reported, survivors exact, huge cap = uncapped") {
    import spark.implicits._
    // one 600-doc hot bucket, 200 singletons, one 5-doc survivor group
    val hotShingles = Seq("aa bb cc", "bb cc dd", "cc dd ee")
    val grpShingles = Seq("pp qq rr", "qq rr ss", "rr ss tt")
    val sh = ((0 until 600).flatMap(i => hotShingles.map(s => (i.toLong, s))) ++
      (600 until 800).flatMap(i =>
        Seq((i.toLong, s"u$i v$i w$i"), (i.toLong, s"v$i w$i x$i"))) ++
      (800 until 805).flatMap(i => grpShingles.map(s => (i.toLong, s))))
      .toDF("doc_id", "shingle")
      .withColumn("h", md5(col("shingle")))
    val capped = graft.operators.MinHashLsh.cappedPairs(sh, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the O(bucket²) hot output (600*599/2 pairs) is gone...
    assert(capped.forall(t => t._1 >= 800 && t._2 >= 800),
      s"capped pairs leak outside the survivor group: ${capped.take(5).toSeq}")
    // ...while the under-cap group keeps its exact pair set
    assert(capped.length === 5 * 4 / 2, s"survivor pairs ${capped.length}")
    assert(capped.forall(_._3 === 4))
    // the suppression is reported, not silent: 4 bands x one hot bucket
    val hot = graft.operators.MinHashLsh.hotBuckets(
        graft.operators.MinHashLsh.bandKeys(sh), maxBucket = 100)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(hot.length === 4, s"hot buckets: ${hot.toSeq}")
    assert(hot.forall(_._2 === 600))
    // cap above every bucket population reproduces bandedPairs exactly
    val sfSh = TextQueries.shingleHashes(Tables.documents(spark, sfDir))
    val uncapped = graft.operators.MinHashLsh.bandedPairs(sfSh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hugeCap = graft.operators.MinHashLsh.cappedPairs(sfSh,
        maxBucket = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hugeCap === uncapped)
  }

  test("capped pairs plan computes the band keys once (exchange reuse)") {
    // keys feed three consumers (size pass, join left, join right), all
    // hashed on (band, key) — at corpus scale recomputing the banding
    // agg per consumer would triple the dominant shuffle; Catalyst must
    // dedup the identical exchanges instead
    val sh = TextQueries.shingleHashes(Tables.documents(spark, sfDir))
    val df = graft.operators.MinHashLsh.cappedPairs(sh, maxBucket = 2)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ReusedExchange"),
      s"band-key exchange not reused across capped-pair consumers:\n$plan")
  }

  test("mix_token_budget keeps exactly the budgeted md5-order prefix per source") {
    // driver-side greedy replay: sort each source by (md5(doc_id), doc_id),
    // keep while tokens-before < budget — the bucketed two-level window
    // in the query must reproduce this exactly
    val rows = TextQueries.queries("mix_token_budget")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val all = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        size(filter(split(lower(col("text")), "\\s+"), t => length(t) > 0))
          .cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("skey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = all.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      val budget = 500L + 100L * (src.drop(3).toLong % 4)
      var cum = 0L
      ds.sortBy(d => (d._4, d._2)).takeWhile { d =>
        val keep = cum < budget; cum += d._3; keep
      }.map(d => (src, d._2)).toSeq
    }.toSet
    assert(rows === expected)
    assert(rows.nonEmpty)
    // every non-empty source's budget is actually met (or it ran dry)
    val keptTok = all.filter(d => rows.contains((d._1, d._2)))
      .groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val totTok = all.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    keptTok.foreach { case (src, tok) =>
      val budget = 500L + 100L * (src.drop(3).toLong % 4)
      assert(tok >= budget || tok == totTok(src),
        s"$src: kept $tok < budget $budget with tokens left")
    }
  }

  test("minhash pairs are consistent with signatures") {
    val pairs = TextQueries.queries("dedup_minhash_pairs")(spark, sfDir).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val shared = r.getLong(2)
      assert(shared >= 1 && shared <= 4)
    }
  }

  test("incremental dedup equals the union pairs touching the batch") {
    val inc = TextQueries.queries("dedup_incremental")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = TextQueries.queries("dedup_minhash_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(t => t._1 % 4 == 0 || t._2 % 4 == 0).toSet
    assert(inc === full)
    assert(inc.nonEmpty, "fixture produced no batch-touching pairs")
  }

  test("incremental dedup plan: batch keys broadcast, no sort-merge join on the index") {
    val df = TextQueries.queries("dedup_incremental")(spark, sfDir)
    df.collect() // finalize AQE so the asserted shape is the executed one
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"resident-index probe is not a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"resident band-key index shuffled for a sort-merge join:\n$plan")
  }

  test("incremental dedup lifecycle: appended batches stay consistent across ingests") {
    import graft.operators.MinHashLsh
    // three waves over one corpus slice: resident, then two daily batches
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 120)
    def shingles(pred: org.apache.spark.sql.Column) =
      TextQueries.shingleHashes(docs.filter(pred))
    val idx = TempDir("graft_bandidx_t_")
    MinHashLsh.writeBandIndex(
      MinHashLsh.bandKeys(shingles(col("doc_id") % 3 === 0), 8, 2), idx)
    val b1 = MinHashLsh.bandKeys(shingles(col("doc_id") % 3 === 1), 8, 2)
    MinHashLsh.incrementalPairs(spark.read.parquet(idx), b1).collect()
    MinHashLsh.appendBandIndex(b1, idx)
    val b2 = MinHashLsh.bandKeys(shingles(col("doc_id") % 3 === 2), 8, 2)
    val got = MinHashLsh.incrementalPairs(spark.read.parquet(idx), b2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = MinHashLsh.bandedPairs(
        TextQueries.shingleHashes(docs), 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(t => t._1 % 3 == 2 || t._2 % 3 == 2).toSet
    assert(got === expected)
    assert(got.nonEmpty, "lifecycle fixture produced no batch-2 pairs")
  }

  test("band-index deletion: tombstoned docs seed no pairs; compaction erases them physically") {
    import graft.operators.MinHashLsh
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 120)
    def shingles(pred: org.apache.spark.sql.Column) =
      TextQueries.shingleHashes(docs.filter(pred))
    val idx = TempDir("graft_bandidx_del_t_")
    MinHashLsh.writeBandIndex(
      MinHashLsh.bandKeys(shingles(col("doc_id") % 3 =!= 0), 8, 2), idx)
    val victims = docs
      .filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(victims.nonEmpty, "fixture has no victims")
    assert(MinHashLsh.deleteFromBandIndex(spark, idx, victims)
      === victims.size.toLong)
    // replayed takedown: converged, nothing new
    assert(MinHashLsh.deleteFromBandIndex(spark, idx, victims) === 0L)
    val batch = MinHashLsh.bandKeys(shingles(col("doc_id") % 3 === 0), 8, 2)
    def probe() = MinHashLsh
      .incrementalPairs(MinHashLsh.readBandIndex(spark, idx), batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // oracle: banded pairs of the SURVIVING corpus touching the batch
    val expected = MinHashLsh.bandedPairs(
        TextQueries.shingleHashes(
          docs.filter(!(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0))),
        8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(t => t._1 % 3 == 0 || t._2 % 3 == 0).toSet
    val masked = probe()
    assert(masked === expected, "tombstone mask did not hide the victims")
    // and the mask MATTERS on this fixture: the undeleted probe differs
    val unmasked = MinHashLsh
      .incrementalPairs(spark.read.parquet(idx), batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(unmasked !== expected,
      "fixture victims never paired — deletion untested")
    MinHashLsh.compactBandIndex(spark, idx)
    // physical erase: no victim rows in the promoted layout, and the
    // tombstone sidecar died with the old dir (nothing left to mask)
    assert(spark.read.parquet(idx)
      .filter(col("doc_id").isInCollection(victims)).count() === 0L)
    assert(!new org.apache.hadoop.fs.Path(s"$idx/_tombstones")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    assert(probe() === expected, "compaction changed the probe answer")
    // post-compact deletes still mask through the live anti-join
    val second = docs
      .filter(col("doc_id") % 3 === 1 && col("doc_id") % 5 =!= 0)
      .select("doc_id").limit(1).collect().map(_.getLong(0)).toSeq
    assert(MinHashLsh.deleteFromBandIndex(spark, idx, second) === 1L)
    assert(MinHashLsh.readBandIndex(spark, idx)
      .filter(col("doc_id").isInCollection(second)).count() === 0L)
  }

  test("media features are deterministic and well-formed") {
    val run1 = AnnQueries.queries("mm_media_features")(spark, sfDir)
      .orderBy("media_id").collect()
    val run2 = AnnQueries.queries("mm_media_features")(spark, sfDir)
      .orderBy("media_id").collect()
    assert(run1.length === 50)
    run1.zip(run2).foreach { case (a, b) => assert(a === b) }
    run1.foreach { r =>
      val entropy = r.getDouble(3)
      assert(entropy >= 0.0 && entropy <= 8.0)
      val hist = (0 until 16).map(k => r.getDouble(r.fieldIndex(s"hist_$k")))
      assert(math.abs(hist.sum - 1.0) < 1e-3, s"hist sums to ${hist.sum}")
    }
  }

  test("media frame embeddings are emitted per row with the stub dim") {
    val f = MediaPipeline.features(
      MediaPipeline.fromDocuments(spark, sfDir).filter(col("media_id") < 10))
      .collect()
    assert(f.length === 10)
    f.foreach { r =>
      val emb = r.getSeq[Float](r.fieldIndex("frame_embedding"))
      assert(emb.length === 8)
      val hist = r.getSeq[Double](r.fieldIndex("byte_hist"))
      assert(hist.length === 16)
    }
  }

  test("dedup_embedding_cosine (blocked pair kernel) equals the exhaustive top-20") {
    import graft.functions.VectorFunctions._
    val lsh = AnnQueries.queries("dedup_embedding_cosine")(spark, sfDir)
      .collect().toSeq
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .withColumn("norm", vecNorm(col("vec")))
    val a = base.select(col("id").as("id_a"), col("vec").as("va"), col("norm").as("na"))
    val b = base.select(col("id").as("id_b"), col("vec").as("vb"), col("norm").as("nb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(vecDot(col("va"), col("vb")) / (col("na") * col("nb")), 9).as("cos"))
      .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
      .limit(20)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .collect().toSeq
    assert(lsh === exact)
  }

  test("s15 mean-pool emits unit vectors and survives zero-norm frames") {
    import spark.implicits._
    val frames = Seq(
      (0L, Array(1f, 0f, 0f)), (0L, Array(0f, 2f, 0f)),
      (1L, Array(0f, 0f, 0f)), (1L, Array(3f, 4f, 0f))
    ).toDF("video_id", "embedding")
    val wide = graft.operators.MeanPool.clip4clipVectors(frames)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(wide.keySet === Set(0L, 1L))
    wide.values.foreach { v =>
      val norm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-4, s"pooled norm $norm")
      assert(v.forall(x => !x.isNaN))
    }
    // video 0: mean of (1,0,0) and (0,1,0) -> normalize -> (√2/2, √2/2, 0)
    wide(0L).zip(Seq(0.707107, 0.707107, 0.0)).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-5, s"${wide(0L)}")
    }
  }

  test("pair kernel multi-block passes equal the single-block result") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val one = graft.operators.PairKernel.globalTopPairs(spark, e, 20)
      .collect().toSeq
    val blocked = graft.operators.PairKernel
      .globalTopPairs(spark, e, 20, blockSize = 128).collect().toSeq
    assert(blocked === one)
  }

  test("semdedup plan joins on the cell key, never all-pairs") {
    val plan = AnnQueries.queries("semdedup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("text_gopher_rules plan is exchange-free (pure per-row battery)") {
    val plan = TextQueries.queries("text_gopher_rules")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"per-row battery shuffled:\n$plan")
  }

  test("dedup_embedding_cosine plan has no all-pairs join") {
    val plan = AnnQueries.queries("dedup_embedding_cosine")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("decontaminate plan broadcasts the eval shingles (no sort-merge join)") {
    val df = TextQueries.queries("decontaminate")(spark, sfDir)
    df.collect() // finalize AQE so the asserted shape is the executed one
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"training shingles shuffled for a sort-merge join:\n$plan")
  }

  test("pack_sequences plan: corpus window bucket-partitioned, single-partition only for bucket totals") {
    val df = TextQueries.queries("pack_sequences")(spark, sfDir)
    df.collect()
    // keep only the AQE final plan — the trailing "== Initial Plan =="
    // section repeats every operator and would double the counts
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Exchange hashpartitioning(bucket"),
      s"corpus window is not bucket-partitioned:\n$plan")
    val singles = plan.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(singles == 1,
      s"expected exactly one SinglePartition exchange (the tiny bucket-total window), got $singles:\n$plan")
  }

  test("knn_pq reaches >=0.85 recall@10 vs exact j1") {
    val approx = AnnQueries.queries("knn_pq")(spark, sfDir)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = VectorQueries.queries("j1_knn_cosine")(spark, sfDir)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, gt) =>
      approx.getOrElse(q, Set.empty).intersect(gt).size.toDouble / gt.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.85, s"PQ recall@10 = $avg")
  }

  test("pq encode: one bounded code per subspace, row-preserving") {
    import graft.operators.PqAnn
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val nSub = 8
    val ncode = 16
    val cbs = PqAnn.seededCodebooks(d, nSub, ncode)
    assert(cbs.length == nSub && cbs.forall(_.length == ncode))
    val enc = PqAnn.encode(d, cbs).collect()
    assert(enc.length == d.count())
    assert(enc.forall { r =>
      val c = r.getSeq[Int](1)
      c.length == nSub && c.forall(x => x >= 0 && x < ncode)
    })
  }

  test("pq search emits exactly k rows per query with candidate-bounded rerank") {
    import graft.operators.PqAnn
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val out = PqAnn.knnSeeded(q, d, k = 10, nCand = 40, excludeSelf = true)
    val rows = out.collect()
    assert(rows.length == 20 * 10)
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.forall(_._2.map(_.getInt(1)).sorted.sameElements(1 to 10)))
    // rerank exactness: rank-1 neighbors score at least their rank-10's
    assert(perQ.forall { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      byRank.zip(byRank.tail).forall { case (a, b) => a >= b }
    })
  }

  test("pq blocked query passes equal the single-pass result") {
    import graft.operators.PqAnn
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 40)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val cbs = PqAnn.seededCodebooks(d, nSub = 8, ncode = 16)
    val enc = PqAnn.encode(d, cbs)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val single = key(PqAnn.searchEncoded(q, enc, d, cbs, k = 10, nCand = 40,
      excludeSelf = true))
    val blocked = key(PqAnn.searchEncodedBlocked(q, enc, d, cbs, k = 10,
      nCand = 40, excludeSelf = true, blockSize = 16))
    assert(blocked === single)
  }

  test("sq8: dequantization error bounded by half a quantization step per dim") {
    import graft.operators.Sq8Ann
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val b = Sq8Ann.trainBounds(d)
    val rows = d.collect()
    val dec = new Array[Double](b.dim)
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      Sq8Ann.dequantize(Sq8Ann.encodeOne(v, b), b, dec)
      (0 until b.dim).foreach { j =>
        val step = (b.maxs(j) - b.mins(j)) / 255.0
        assert(math.abs(v(j).toDouble - dec(j)) <= step / 2 + 1e-12,
          s"dim $j: |${v(j)} - ${dec(j)}| > half-step $step")
      }
    }
  }

  test("text_bm25_query plan: every join broadcasts; term list never shuffles the corpus") {
    val df = TextQueries.queries("text_bm25_query")(spark, sfDir)
    df.collect() // finalize AQE before reading the physical plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"bm25 shuffled a join side — the term/df/stats joins must all " +
        s"broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("table_profile_approx: Expand-free plan, exact stats, distincts within 5%") {
    val exact = TextQueries.queries("table_profile")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val df = TextQueries.queries("table_profile_approx")(spark, sfDir)
    val approx = df.collect().map(r => r.getString(0) -> r).toMap
    // the exact twin pays Catalyst's Expand (scan rows × #profiled
    // columns feed the partial aggregate); the production HLL variant
    // must not — that row blow-up is the dominant 100 TB cost
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"production profile still pays Expand:\n$plan")
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (c, e) =>
      val a = approx(c)
      assert(a.getLong(1) === e.getLong(1), s"$c n_rows drifted")
      assert(a.getLong(2) === e.getLong(2), s"$c n_nulls drifted")
      assert(a.getDouble(4) === e.getDouble(4), s"$c min drifted")
      assert(a.getDouble(5) === e.getDouble(5), s"$c max drifted")
      val ed = e.getLong(3).toDouble
      assert(math.abs(a.getLong(3) - ed) / ed <= 0.05,
        s"$c approx distinct ${a.getLong(3)} vs exact ${e.getLong(3)}")
    }
  }

  test("sq8: zero-norm query never feeds NaN to the heap; both stages agree on -1.0") {
    import graft.operators.Sq8Ann
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val b = Sq8Ann.trainBounds(d)
    val enc = Sq8Ann.encode(d, b)
    val dim = d.first().getSeq[Float](1).length
    val zeroQ = Seq((9999L, Seq.fill(dim)(0.0f)))
      .toDF("q_id", "q_vec")
    val out = Sq8Ann.searchEncoded(zeroQ, enc, d, b, k = 5, nCand = 20)
      .collect()
    assert(out.length === 5, "zero-norm query produced no defined ranking")
    out.foreach { r =>
      val s = r.getDouble(3)
      assert(!s.isNaN, "NaN score surfaced for a zero-norm query")
      assert(s === -1.0, s"zero-norm query scored $s, expected -1.0 " +
        "(coarse and rerank stages must agree)")
    }
  }

  test("sq8: >=0.95 recall@10 vs exact j1 (byte codes are near-exact)") {
    val approx = AnnQueries.queries("knn_sq8")(spark, sfDir)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = VectorQueries.queries("j1_knn_cosine")(spark, sfDir)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, gt) =>
      approx.getOrElse(q, Set.empty).intersect(gt).size.toDouble / gt.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.95, s"SQ8 recall@10 = $avg")
  }

  test("g9_sql_multivector: the SQL flagship routes and holds >=0.95 set recall") {
    val out = AnnQueries.queries("g9_sql_multivector")(spark, sfDir)
    // the relation form routes through the batched MvJoinTopK node —
    // one statement, one distributed search job for every query set
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("MvJoinTopK"),
      s"SQL flagship did not route through the relation-form mv tier:\n$plan")
    val approx = out.select("qset_id", "dset_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val oracle = VectorQueries.queries("a1_smooth_chamfer_topk")(spark, sfDir)
      .select("qset_id", "dset_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(approx.keySet === oracle.keySet)
    val recalls = oracle.map { case (q, gt) =>
      approx(q).intersect(gt).size.toDouble / gt.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.95, s"g9_sql set Recall@10 = $avg")
  }

  test("g9_sql_saturated: the routed plan is EXACT at saturating budget") {
    val out = AnnQueries.queries("g9_sql_saturated")(spark, sfDir)
    assert(out.queryExecution.executedPlan.toString.contains("MvJoinTopK"),
      "saturated flagship did not route")
    val routed = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val oracle = VectorQueries.queries("a1_smooth_chamfer_topk")(spark, sfDir)
      .select("qset_id", "dset_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(routed === oracle,
      "saturated routed answer != fullscan chamfer ranking")
  }

  test("routed SQL queries leave the caller session's conf untouched") {
    val before = spark.conf.getOption("spark.graft.ann.rewrite")
    AnnQueries.queries("g9_sql_multivector")(spark, sfDir).collect()
    assert(spark.conf.getOption("spark.graft.ann.rewrite") === before,
      "g9_sql_multivector leaked spark.graft.ann.rewrite into the " +
        "caller session")
  }

  test("g9_ivfpq: codes-only-tier multivector search >=0.9 set recall vs fullscan") {
    val approx = AnnQueries.queries("g9_ivfpq")(spark, sfDir)
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
    assert(avg >= 0.9, s"g9_ivfpq set Recall@10 = $avg")
  }

  test("g9_sq8: compressed-tier multivector search >=0.95 set recall vs fullscan") {
    val approx = AnnQueries.queries("g9_sq8")(spark, sfDir)
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
    assert(avg >= 0.95, s"g9_sq8 set Recall@10 = $avg")
  }

  test("sq8 persisted index: save/load roundtrip, append == union re-encode") {
    import graft.operators.Sq8Ann
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val nBase = (d.count() / 2).toInt
    val base = d.filter(col("d_id") < nBase)
    val delta = d.filter(col("d_id") >= nBase)
    val path = "target/tmp/sq8_index"
    val bounds = Sq8Ann.writeIndex(base, path)
    val (codes0, loaded) = Sq8Ann.loadIndex(spark, path)
    assert(loaded.mins.toSeq === bounds.mins.toSeq &&
      loaded.maxs.toSeq === bounds.maxs.toSeq, "bounds roundtrip drift")
    assert(codes0.count() === nBase.toLong)
    Sq8Ann.appendIndex(spark, path, delta)
    val (codes1, _) = Sq8Ann.loadIndex(spark, path)
    // append-then-load is row-identical to re-encoding the union with
    // the SAME frozen bounds (the quantizer never moves on append)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toVector)).toMap
    assert(key(codes1) === key(Sq8Ann.encode(d, bounds)))
    // and the grown index serves search over the whole corpus
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val out = Sq8Ann.searchEncoded(q, codes1, d, bounds, k = 10, nCand = 40,
      excludeSelf = true)
    assert(out.count() === 200)
    assert(out.filter(col("d_id") >= nBase).count() > 0,
      "no delta id in results — appended rows unsearchable")
  }

  test("sq8 blocked query passes equal the single-pass result") {
    import graft.operators.Sq8Ann
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 40)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val b = Sq8Ann.trainBounds(d)
    val enc = Sq8Ann.encode(d, b)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val single = key(Sq8Ann.searchEncoded(q, enc, d, b, k = 10, nCand = 40,
      excludeSelf = true))
    val blocked = key(Sq8Ann.searchEncodedBlocked(q, enc, d, b, k = 10,
      nCand = 40, excludeSelf = true, blockSize = 16))
    assert(blocked === single)
  }

  test("dup span strip: hand-checked interval merge on planted duplicate spans") {
    import spark.implicits._
    val common = (1 to 12).map(i => s"w$i").mkString(" ")
    val cA = (1 to 8).map(i => s"a$i").mkString(" ")
    val cB = (1 to 8).map(i => s"b$i").mkString(" ")
    val docsDf = Seq(
      // doc1/doc2 share the 12-token run `common`: 5 overlapping dup
      // 8-grams each, merging to ONE region of 12 tokens
      (1L, common + " " + (1 to 10).map(i => s"u$i").mkString(" ")),
      (2L, "x1 x2 x3 " + common),
      // doc3: fully unique — zero regions
      (3L, (1 to 30).map(i => s"z$i").mkString(" ")),
      // doc4/doc5 share TWO separated 8-token runs — two merged regions
      (4L, cA + " " + (1 to 8).map(i => s"m$i").mkString(" ") + " " + cB),
      (5L, cA + " " + (1 to 8).map(i => s"q$i").mkString(" ") + " " + cB)
    ).toDF("doc_id", "text")
    val out = TextQueries.dupSpanStrip(docsDf, n = 8).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((22L, 1L, 12L, 10L)), s"doc1: ${out(1L)}")
    assert(out(2L) === ((15L, 1L, 12L, 3L)), s"doc2: ${out(2L)}")
    assert(out(3L) === ((30L, 0L, 0L, 30L)), s"doc3: ${out(3L)}")
    assert(out(4L) === ((24L, 2L, 16L, 8L)), s"doc4: ${out(4L)}")
    assert(out(5L) === ((24L, 2L, 16L, 8L)), s"doc5: ${out(5L)}")
  }

  test("semdedup: marking equals the brute-force cell-local rule, min-id chains survive") {
    import graft.operators.SemDedup
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = AnnQueries.plantNearDupsExact(base)
    val tau = 0.9
    val out = SemDedup.markSeeded(corpus, nlist = 8, tau = tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .toMap
    assert(out.length == vecs.size, "one output row per corpus row")
    def cos9(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // recompute the dup rule from the operator's own cell assignment:
    // flagged iff SOME lower-id same-cell row has cos9 >= tau
    val byCell = out.groupBy(_._2)
    out.foreach { case (id, cell, isDup) =>
      val expected = byCell(cell).exists { case (other, _, _) =>
        other < id && cos9(vecs(other), vecs(id)) >= tau
      }
      assert(isDup == (if (expected) 1L else 0L),
        s"id $id in cell $cell: marked $isDup, brute-force says $expected")
    }
    // the fixture plants one near-dup per base vector; cell-local
    // capture must flag a nontrivial share of them
    val dups = out.count(_._3 == 1L)
    assert(dups > 0, "no duplicates flagged on the planted corpus")
    // every cell's minimum id survives
    byCell.foreach { case (cell, rows) =>
      val minId = rows.map(_._1).min
      assert(rows.find(_._1 == minId).get._3 == 0L,
        s"cell $cell: min id $minId was marked duplicate")
    }
  }

  test("incremental semdedup: wave ingest equals batch marking, probes pruned") {
    import graft.operators.{IvfAnn, SemDedup}
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = AnnQueries.plantNearDupsExact(base)
    val d = corpus.select(col("id").as("d_id"), col("vec").as("d_vec"))
    val cents = IvfAnn.seededCentroids(d, 8)
    val tau = 0.9
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val full = asMap(SemDedup.mark(corpus, cents, tau).collect())
    // monotone waves: base ids, then the planted ids (+10^6)
    val w1 = corpus.filter(col("id") < 1000000L)
    val w2 = corpus.filter(col("id") >= 1000000L)
    val path = "target/tmp/semdedup_cells"
    val m1 = asMap(SemDedup.mark(w1, cents, tau).collect())
    SemDedup.writeCellIndex(w1, cents, path)
    val m2df = SemDedup.incrementalMark(spark, path, cents, w2, tau)
    val plan = m2df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"resident probe not partition-pruned:\n$plan")
    val m2 = asMap(m2df.collect())
    assert(m2.values.exists(_._2 == 1L),
      "no cross-wave duplicate found on the planted corpus")
    assert(m1 ++ m2 === full,
      "wave-by-wave marking diverged from the batch operator")
    // the watermark sidecar tracks the appended max id (no full-index
    // scan in the probe path)
    SemDedup.appendCellIndex(w2, cents, path)
    val wMax = corpus.agg(max(col("id"))).first().getLong(0)
    assert(SemDedup.readWatermark(spark, path) === Some(wMax),
      "watermark sidecar diverged from the index max id")
    // re-ingesting the SAME batch after its append is an at-least-once
    // REPLAY: recognized, reproduced identically (the probe excludes the
    // batch's own resident copies), never stuck
    val replay = asMap(
      SemDedup.incrementalMark(spark, path, cents, w2, tau).collect())
    assert(replay === m2, "replayed marks diverged from original delivery")
    // a batch that STRADDLES the watermark is a genuine monotonicity
    // violation and must still fail loudly at ingest
    intercept[IllegalArgumentException] {
      SemDedup.incrementalMark(spark, path, cents,
        w2.select((col("id") + 1L).as("id"), col("vec")), tau)
    }
    // compaction folds the appended small files to one per cell and
    // leaves probe results bit-identical
    val w3 = w2.select((col("id") + 2000000L).as("id"), col("vec"))
    val before = asMap(
      SemDedup.incrementalMark(spark, path, cents, w3, tau).collect())
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path))
        .count(f => f.getName.startsWith("part-") && f.length > 0)
    }
    val filesBefore = dataFiles()
    SemDedup.compactCellIndex(spark, path)
    val filesAfter = dataFiles()
    assert(filesAfter < filesBefore,
      s"compaction did not shrink files: $filesBefore -> $filesAfter")
    assert(SemDedup.readWatermark(spark, path) === Some(wMax),
      "compaction lost the watermark sidecar")
    val after = asMap(
      SemDedup.incrementalMark(spark, path, cents, w3, tau).collect())
    assert(after === before, "post-compaction probe diverged")
    // crash recovery: simulate a compact that died between its two
    // renames (index stranded at __compact_old, nothing live)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"${path}__compact_old")))
    SemDedup.recoverCompact(spark, path)
    val recovered = asMap(
      SemDedup.incrementalMark(spark, path, cents, w3, tau).collect())
    assert(recovered === before, "post-recovery probe diverged")
  }

  test("ivf-pq: codes-only partition-pruned index reaches >=0.8 recall@10") {
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val sample = IvfAnn.collectSample(d, 2000, 42L)
    val centroids = IvfAnn.trainCentroids(sample, 16, seed = 42L)
    val cbs = PqAnn.trainCodebooks(sample, nSub = 8, ncode = 32, seed = 42L)
    val path = TempDir("graft_ivfpq_test_")
    IvfPq.writeIndex(spark, d, path, centroids, cbs)
    // the index is codes-only: no vector column in the scanned files
    val idx = spark.read.parquet(path)
    assert(idx.columns.toSet === Set("d_id", "codes", "cell"),
      s"index not codes-only: ${idx.columns.mkString(",")}")
    val out = IvfPq.knnOverIndex(spark, q, path, d, centroids, cbs,
      k = 10, nProbe = 10, nCand = 120, excludeSelf = true)
    val rows = out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
    assert(plan.contains("cell"), s"cell filter missing from scan:\n$plan")
    val approx = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = VectorQueries.queries("j1_knn_cosine")(spark, sfDir)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (qid, gt) =>
      approx.getOrElse(qid, Set.empty).intersect(gt).size.toDouble / gt.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.8, s"IVF-PQ recall@10 = $avg")
  }

  test("ivf-pq seeded: deterministic, partition-pruned, every hit inside its query's probe set") {
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val centroids = IvfAnn.seededCentroids(d, 16)
    val cbs = PqAnn.seededCodebooks(d, nSub = 8, ncode = 16)
    val path = TempDir("graft_ivfpq_seed_test_")
    IvfPq.writeIndexSeeded(spark, d, path, centroids, cbs)
    val idx = spark.read.parquet(path)
    assert(idx.columns.toSet === Set("d_id", "codes", "cell"))
    val out = IvfPq.knnSeededOverIndex(spark, q, path, d, centroids, cbs,
      k = 10, nProbe = 10, nCand = 80, excludeSelf = true)
    val rows = out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
    // two runs bit-identical (the oracle-parity precondition)
    val rows2 = IvfPq.knnSeededOverIndex(spark, q, path, d, centroids, cbs,
      k = 10, nProbe = 10, nCand = 80, excludeSelf = true).collect()
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(key(rows) === key(rows2))
    // probe-mask honesty, against an INDEPENDENT reimplementation of the
    // seed rule (round9 double cosine, ties score desc / cell asc): every
    // returned neighbor's index cell must be in its query's probe set
    def round9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      round9(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    val qVecs = q.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val probeSets = qVecs.view.mapValues { v =>
      centroids.zipWithIndex.map { case (c, i) => (-cos(v, c), i) }
        .sorted.take(10).map(_._2).toSet
    }.toMap
    val cellOf = idx.select("d_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (qid, did) = (r.getLong(0), r.getLong(2))
      assert(probeSets(qid).contains(cellOf(did)),
        s"hit ($qid,$did) from unprobed cell ${cellOf(did)}")
    }
  }

  test("ivf-pq incremental append: append-then-search equals the single-shot build") {
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // quantizers are FIXED at initial-build time (the layout contract) —
    // derived from the full corpus here so both sides share them
    val centroids = IvfAnn.seededCentroids(d, 16)
    val cbs = PqAnn.seededCodebooks(d, nSub = 8, ncode = 16)
    def tmp(tag: String) = TempDir(s"graft_ivfpq_$tag")
    val full = tmp("full_")
    IvfPq.writeIndexSeeded(spark, d, full, centroids, cbs)
    val incr = tmp("incr_")
    IvfPq.writeIndexSeeded(spark, d.filter(col("d_id") % 2 === 0),
      incr, centroids, cbs)
    IvfPq.appendIndexSeeded(spark, d.filter(col("d_id") % 2 =!= 0),
      incr, centroids, cbs)
    // the grown index is row-identical to the single-shot build...
    def idxKey(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toVector,
        r.getAs[Number](2).intValue)).toSet
    assert(idxKey(incr) === idxKey(full))
    // ...and searches over it are bit-identical
    def searchKey(p: String) =
      IvfPq.knnSeededOverIndex(spark, q, p, d, centroids, cbs,
          k = 10, nProbe = 10, nCand = 80, excludeSelf = true)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sorted.toSeq
    assert(searchKey(incr) === searchKey(full))
  }

  test("ivf-pq deletion: masked immediately, erased at compaction, equals the never-indexed twin") {
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val n = d.count().toInt
    val centroids = IvfAnn.seededCentroids(d, 16)
    val cbs = PqAnn.seededCodebooks(d, nSub = 8, ncode = 16)
    def tmp(tag: String) = TempDir(s"graft_ivfpq_$tag")
    val full = tmp("del_")
    IvfPq.writeIndexSeeded(spark, d, full, centroids, cbs)
    // saturating nCand + every cell probed => the search is EXACT, so
    // deletion must reproduce the never-indexed twin bit-for-bit
    def searchKey(p: String) =
      IvfPq.knnSeededOverIndex(spark, q, p, d, centroids, cbs,
          k = 10, nProbe = 16, nCand = 2 * n, excludeSelf = true)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sorted.toSeq
    // victims that actually appear in answers — the mask must matter
    val victims = searchKey(full).map(_._3).distinct.take(3)
    val twin = tmp("twin_")
    IvfPq.writeIndexSeeded(spark,
      d.filter(!col("d_id").isInCollection(victims)), twin, centroids, cbs)
    assert(IvfPq.deleteFromIndex(spark, full, victims)
      === victims.size.toLong)
    assert(IvfPq.deleteFromIndex(spark, full, victims) === 0L) // replay
    assert(searchKey(full) === searchKey(twin),
      "tombstone mask diverged from the never-indexed twin")
    IvfPq.compactIndex(spark, full)
    // physical erase: no victim codes on disk, no tombstone sidecar,
    // and the append-accumulated layout folded to one file per cell
    assert(spark.read.parquet(full)
      .filter(col("d_id").isInCollection(victims)).count() === 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$full/_tombstones")))
    assert(searchKey(full) === searchKey(twin),
      "compaction changed the answer")
    // deletion keeps working on the compacted layout
    val more = searchKey(full).map(_._3).distinct
      .filterNot(victims.contains).take(1)
    assert(IvfPq.deleteFromIndex(spark, full, more) === 1L)
    assert(!searchKey(full).exists(r => more.contains(r._3)))
  }

  test("sq8 deletion: masked immediately, erased by compactCodes, frozen-bounds twin parity") {
    import graft.operators.Sq8Ann
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val n = d.count().toInt
    val path = TempDir("graft_sq8_del_")
    val bounds = Sq8Ann.writeIndex(d, path)
    def searchKey(codes: org.apache.spark.sql.DataFrame) =
      Sq8Ann.searchEncodedBlocked(q, codes, d, bounds, k = 10,
          nCand = 2 * n, excludeSelf = true)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sorted.toSeq
    val before = searchKey(Sq8Ann.readCodes(spark, path))
    val victims = before.map(_._3).distinct.take(3)
    assert(Sq8Ann.deleteFromIndex(spark, path, victims)
      === victims.size.toLong)
    assert(Sq8Ann.deleteFromIndex(spark, path, victims) === 0L) // replay
    // oracle: the surviving rows encoded with the SAME frozen bounds
    val twin = searchKey(Sq8Ann.encode(
      d.filter(!col("d_id").isInCollection(victims)), bounds))
    assert(searchKey(Sq8Ann.readCodes(spark, path)) === twin,
      "tombstone mask diverged from the frozen-bounds twin")
    // loadIndex serves the mask too (the re-registration path)
    assert(searchKey(Sq8Ann.loadIndex(spark, path)._1) === twin)
    Sq8Ann.compactCodes(spark, path)
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("d_id").isInCollection(victims)).count() === 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/_tombstones")))
    assert(searchKey(Sq8Ann.readCodes(spark, path)) === twin,
      "compaction changed the answer")
  }

  test("ivf-pq seeded blocked query passes equal the single-pass result") {
    import graft.operators.{IvfAnn, IvfPq, PqAnn}
    val e = Tables.embeddings(spark, sfDir)
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val q = e.filter(col("vec_id") < 40)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val centroids = IvfAnn.seededCentroids(d, 16)
    val cbs = PqAnn.seededCodebooks(d, nSub = 8, ncode = 16)
    val path = TempDir("graft_ivfpq_blk_")
    IvfPq.writeIndexSeeded(spark, d, path, centroids, cbs)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val single = key(IvfPq.knnSeededOverIndex(spark, q, path, d, centroids,
      cbs, k = 10, excludeSelf = true))
    val blocked = key(IvfPq.knnSeededOverIndexBlocked(spark, q, path, d,
      centroids, cbs, k = 10, excludeSelf = true, blockSize = 16))
    assert(blocked === single)
    // trained-quantizer twin of the same contract
    val tCentroids = IvfAnn.trainCentroids(
      IvfAnn.collectSample(d, 2000, 42L), 16, seed = 42L)
    val tCbs = PqAnn.trainCodebooks(
      IvfAnn.collectSample(d, 2000, 42L), nSub = 8, ncode = 32, seed = 42L)
    val tPath = TempDir("graft_ivfpq_blk_t_")
    IvfPq.writeIndex(spark, d, tPath, tCentroids, tCbs)
    val tSingle = key(IvfPq.knnOverIndex(spark, q, tPath, d, tCentroids,
      tCbs, k = 10, excludeSelf = true))
    val tBlocked = key(IvfPq.knnOverIndexBlocked(spark, q, tPath, d,
      tCentroids, tCbs, k = 10, excludeSelf = true, blockSize = 16))
    assert(tBlocked === tSingle)
  }

  test("random projection: partition-invariant, >=0.9 recall@10 vs exact on clustered data") {
    import graft.operators.{IvfAnn, KnnKernel, RandomProjection}
    val data = ClusteredFixture.df(spark) // 20 clusters x 50, dim 32
    val d = data.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    val q = data.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val seeds = IvfAnn.seededCentroids(d, 8)
    // projection is a pure per-row function: partition layout must not
    // change a single component
    def projKey(parts: Int) =
      RandomProjection.project(d.repartition(parts), "d_id", "d_vec", seeds)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toVector)).toMap
    assert(projKey(3) === projKey(7))
    val approx = RandomProjection.knn(spark, q, d, 10, outDim = 8,
        nCand = 40, excludeSelf = true)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = KnnKernel.bruteForce(spark, q, d, 10, excludeSelf = true)
      .select("q_id", "d_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (qid, gt) =>
      approx.getOrElse(qid, Set.empty).intersect(gt).size.toDouble / gt.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.9, s"randproj recall@10 = $avg")
  }

  test("pii redaction: planted counts exact, redacted text clean of all three patterns") {
    val out = TextQueries.queries("text_pii_redact")(spark, sfDir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) === (if (id % 7 == 0) 1 else 0), s"n_email doc $id")
      assert(r.getInt(2) === (if (id % 11 == 0) 1 else 0), s"n_url doc $id")
      assert(r.getInt(3) === (if (id % 13 == 0) 1 else 0), s"n_phone doc $id")
    }
    // nothing PII-shaped survives redaction
    val dirty = out.filter(
      regexp_count(col("redacted"), lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")) > 0 ||
      regexp_count(col("redacted"), lit("https?://[^\\s]+")) > 0 ||
      regexp_count(col("redacted"), lit("\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}")) > 0).count()
    assert(dirty === 0L)
    // placeholders landed exactly where counts say
    val placed = out.filter(col("n_email") === 1 &&
      !col("redacted").contains("<EMAIL>")).count()
    assert(placed === 0L)
  }

  test("text normalization: lowercase, single-spaced, trimmed, shrinkage consistent") {
    val rows = TextQueries.queries("text_normalize")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val norm = r.getString(2)
      assert(norm === norm.toLowerCase)
      assert(!norm.contains("  "), s"double space in doc ${r.getLong(0)}")
      assert(norm === norm.trim)
      assert(r.getInt(3) === norm.length)
      assert(r.getInt(1) >= norm.length)
    }
  }

  test("pipeline_curate plan: no all-pairs join, eval shingles broadcast") {
    val df = TextQueries.queries("pipeline_curate")(spark, sfDir)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in the curate DAG:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast join (eval shingles should broadcast):\n$plan")
  }

  test("frame pipeline: deterministic unit-norm pooled vectors, one per media row") {
    val run1 = AnnQueries.queries("mm_frame_pipeline")(spark, sfDir).collect()
    val run2 = AnnQueries.queries("mm_frame_pipeline")(spark, sfDir).collect()
    assert(run1.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      === run2.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted)
    val byVideo = run1.groupBy(_.getLong(0))
    assert(byVideo.size === 50) // one pooled vector per sampled media row
    byVideo.values.foreach { rows =>
      assert(rows.length === 8) // stub dim
      val norm = math.sqrt(rows.map(r => r.getDouble(2) * r.getDouble(2)).sum)
      assert(math.abs(norm - 1.0) < 1e-4, s"pooled norm $norm != 1")
    }
  }

  test("resizeStub: bounded output, identity under target, deterministic") {
    val p = (0 until 200).map(_.toByte).toArray
    val r = MediaPipeline.resizeStub(p, 32)
    assert(r.length === 32)
    assert(MediaPipeline.resizeStub(p, 32).toSeq === r.toSeq)
    assert(MediaPipeline.resizeStub(r, 64).toSeq === r.toSeq) // short input passes through
  }

  test("decodeStub is a pure function of payload bytes") {
    val p1 = "hello world".getBytes("UTF-8")
    val a = MediaPipeline.decodeStub(p1, "text/plain")
    val b = MediaPipeline.decodeStub(p1.clone(), "text/plain")
    assert(a.toSeq === b.toSeq)
    val c = MediaPipeline.decodeStub("hello worle".getBytes("UTF-8"), "text/plain")
    assert(a.toSeq !== c.toSeq)
  }

  /** In-memory PNG fixture: a w×h gradient whose left half is dark and
    * right half bright — real pixels through a real encoder. */
  private def pngBytes(w: Int, h: Int, bright: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (x < w / 2) 16 else bright
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("decodeVideoFrames: real multi-frame GIF decode, pooling, stub fallback") {
    import spark.implicits._
    val gif = MediaPipeline.syntheticGif(7L, frames = 3)
    val fs = MediaPipeline.decodeVideoFrames(gif).get
    assert(fs.length === 3, "three encoded frames must decode")
    // per-frame uniform gray: strips flat, brightness rises frame to
    // frame in encode order (GIF palettes hold exact grays; allow 2/255)
    val gray = Seq(47, 107, 167).map(_ / 255.0) // 40/100/160 + seed 7
    fs.zip(gray).foreach { case (f, g) =>
      f.foreach(v => assert(math.abs(v - g) < 2.0 / 255, s"strip $v vs $g"))
    }
    // deterministic re-decode
    assert(MediaPipeline.decodeVideoFrames(gif).get.map(_.toSeq) ===
      fs.map(_.toSeq))
    // dispatch: video/* mime pools the frames (temporal mean)
    val pooled = MediaPipeline.decode(gif, "video/gif")
    val mean = (0 until 8).map(j => fs.map(_(j)).sum / 3)
    pooled.zip(mean).foreach { case (p, m) =>
      assert(math.abs(p - m) < 1e-5, s"pooled $p vs mean $m")
    }
    // unparseable payloads: None from the codec, stub from the dispatch
    assert(MediaPipeline.decodeVideoFrames("not a video".getBytes).isEmpty)
    // batch face: one row per frame; corrupt payloads flagged frame_idx=-1
    val df = Seq((1L, "video/gif", gif),
        (2L, "video/mp4", "garbage".getBytes))
      .toDF("media_id", "mime", "payload")
    val rows = MediaPipeline.videoFrameEmbeddings(df).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.count(_._1 == 1L) === 3 &&
      rows.filter(_._1 == 1L).map(_._2).sorted.toSeq === Seq(0, 1, 2))
    assert(rows.filter(_._1 == 2L).map(_._2).toSeq === Seq(-1))
  }

  test("decodeImage: real javax.imageio decode, luminance strips, stub fallback") {
    val dim = 8
    val png = pngBytes(64, 32, bright = 240)
    val emb = MediaPipeline.decodeImage(png, dim)
      .getOrElse(fail("ImageIO could not parse its own PNG"))
    assert(emb.length === dim)
    // deterministic, and it read REAL pixels: left strips dark, right bright
    assert(MediaPipeline.decodeImage(png, dim).get.toSeq === emb.toSeq)
    assert(emb.take(dim / 2).forall(_ < 0.2),
      s"left (dark) strips not dark: ${emb.toSeq}")
    assert(emb.drop(dim / 2).forall(_ > 0.7),
      s"right (bright) strips not bright: ${emb.toSeq}")
    // dispatch: image/* goes through the real decoder...
    assert(MediaPipeline.decode(png, "image/png", dim).toSeq === emb.toSeq)
    // ...non-image mime and unparseable bytes fall back to the stub
    val junk = "not an image".getBytes("UTF-8")
    assert(MediaPipeline.decodeImage(junk, dim).isEmpty)
    assert(MediaPipeline.decode(junk, "image/png", dim).toSeq ===
      MediaPipeline.decodeStub(junk, "image/png", dim).toSeq)
    assert(MediaPipeline.decode(junk, "text/plain", dim).toSeq ===
      MediaPipeline.decodeStub(junk, "text/plain", dim).toSeq)
    // a brighter right half moves the right strips, not the left
    val emb2 = MediaPipeline.decodeImage(pngBytes(64, 32, bright = 64), dim).get
    assert(emb2.take(dim / 2).toSeq === emb.take(dim / 2).toSeq)
    assert(emb2.drop(dim / 2).forall(v => v < 0.5))
  }

  /** In-memory WAV fixture: 16-bit mono PCM, quiet first half, loud
    * square-wave second half — real samples through the real encoder. */
  private def wavBytes(nSamples: Int, loud: Short): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val s: Short =
        if (i < nSamples / 2) 256
        else if (i % 2 == 0) loud else (-loud).toShort
      pcm(2 * i) = (s & 0xff).toByte       // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("mm_image_decode: real encoder→decoder round trip, deterministic, content-sensitive") {
    def run() = AnnQueries.queries("mm_image_decode")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1)
      .map { case (id, rows) =>
        (id, (rows.head._2._1, rows.map(_._2).sortBy(_._2).map(_._3).toSeq))
      }
    val a = run()
    assert(a.nonEmpty)
    assert(a === run(), "real-codec query not deterministic")
    // genuine PNG containers (magic bytes cost ~60B+ even for tiny images)
    assert(a.values.forall(_._1 > 50))
    // content sensitivity: the per-doc patterns differ, so embeddings do
    val distinct = a.values.map(_._2).toSet.size
    assert(distinct > a.size / 2, s"only $distinct distinct embeddings of ${a.size}")
  }

  test("decodeAudio: real javax.sound WAV decode, amplitude strips, stub fallback") {
    val dim = 8
    val wav = wavBytes(4096, loud = 24576)
    val emb = MediaPipeline.decodeAudio(wav, dim)
      .getOrElse(fail("AudioSystem could not parse its own WAV"))
    assert(emb.length === dim)
    assert(MediaPipeline.decodeAudio(wav, dim).get.toSeq === emb.toSeq)
    // real samples read: quiet first-half strips, loud second-half strips
    assert(emb.take(dim / 2).forall(_ < 0.05),
      s"quiet strips not quiet: ${emb.toSeq}")
    assert(emb.drop(dim / 2).forall(_ > 0.5),
      s"loud strips not loud: ${emb.toSeq}")
    // dispatch: audio/* through the real decoder, fallback on garbage
    assert(MediaPipeline.decode(wav, "audio/wav", dim).toSeq === emb.toSeq)
    val junk = "not audio".getBytes("UTF-8")
    assert(MediaPipeline.decodeAudio(junk, dim).isEmpty)
    assert(MediaPipeline.decode(junk, "audio/wav", dim).toSeq ===
      MediaPipeline.decodeStub(junk, "audio/wav", dim).toSeq)
    // quieter loud half scales the loud strips only
    val emb2 = MediaPipeline.decodeAudio(wavBytes(4096, loud = 8192), dim).get
    assert(emb2.take(dim / 2).toSeq === emb.take(dim / 2).toSeq)
    assert(emb2.drop(dim / 2).forall(v => v < 0.3))
  }
}
