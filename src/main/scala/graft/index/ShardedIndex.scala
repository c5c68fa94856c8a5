package graft.index

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sharded graph tier — the 100 TB path past BOTH broadcast ceilings
  * (SURVEY §7.3). [[VectorStore.fromDf]]/[[CsrGraph.collect]] materialize
  * one corpus copy per executor, which holds to the reference's own scale
  * (10M × 200d ≈ 8 GB) and no further; this tier partitions the corpus
  * into `nShards` strided sub-corpora (global id g lives in shard
  * g % nShards with local id g / nShards — dense ids stay dense, so the
  * per-shard [[VectorStore]] contract holds), builds one RoarGraph per
  * shard, and answers a query by searching EVERY shard with the same
  * budget and merging through the ordinary bounded rerank/top-k tail.
  *
  * The tier is PERSISTED, like the reference's offline index build
  * (`/root/reference/tests/test_build_roargraph.cpp:34-136` writes the
  * index to disk; search jobs load it): [[buildPersisted]] writes each
  * shard's graph ([[CsrGraph.save]]) and vectors (parquet) as it is
  * built, releasing every byte of the previous shard before starting the
  * next, and [[searchMultiDf]] loads one shard at a time, materializes
  * that shard's (output-sized) candidate set, and leaves shard lifetime
  * to a conf-bounded resident LRU (`spark.graft.index.residentShards`,
  * default 1): the oldest shard is destroyed BEFORE the next one loads,
  * so peak footprint — driver AND executor — is at most the conf's worth
  * of shards, never the corpus. Default 1 is the strict
  * one-shard-resident lifecycle; sizing the conf toward the shard count
  * amortizes per-call load cost across a query-batch stream (shards hit
  * the cache instead of re-reading parquet), the way an online serving
  * tier would pin its working set.
  *
  * Per-shard searches are independent (no cross-shard state); the union
  * carries O(queries × budget × nShards) candidate rows into the existing
  * partial-aggregated rerank — no new shuffle shape. Recall can only
  * improve over a single equal-budget graph (each shard's beam explores
  * its sub-corpus exhaustively w.r.t. the budget; the IndexSpec gate
  * holds it ≥ the broadcast tier's 0.95 bar).
  *
  * The strided (round-robin) id split is deliberate: contiguous-range
  * shards would inherit any locality in id order (e.g. clustered inserts)
  * and skew per-shard difficulty; striding gives every shard a uniform
  * sample, which keeps the per-shard graphs statistically alike (same
  * reason the reference samples training queries uniformly).
  */
final case class ShardedIndexRef(path: String, nShards: Int, metric: String,
                                 nDeltas: Int = 0)

object ShardedIndex {

  // Residency accounting for the lifecycle gate (IndexSpec): how many
  // shards' worth of graph+vector state this JVM holds at once. build and
  // search both enter/exit around each shard; the invariant is
  // peak <= spark.graft.index.residentShards (default 1).
  private val liveShards = new AtomicInteger(0)
  private val peakShards = new AtomicInteger(0)
  private def enterShard(): Unit = {
    val now = liveShards.incrementAndGet()
    peakShards.getAndAccumulate(now, math.max)
  }
  private def exitShard(): Unit = liveShards.decrementAndGet()
  def peakResidentShards: Int = peakShards.get()
  // Cold loads from disk (cache misses) — lets tests assert amortization:
  // a re-search over still-resident shards must do ZERO new loads.
  private val shardLoads = new AtomicInteger(0)
  def shardLoadCount: Int = shardLoads.get()
  private[graft] def resetResidencyTracking(): Unit = {
    evictAll()
    liveShards.set(0); peakShards.set(0)
  }

  /** Loaded shard state held by the resident cache. `pins` counts
    * in-flight [[withShard]] bodies using the broadcasts — eviction
    * skips pinned entries so a concurrent query can never have its
    * shard destroy()ed mid-checkpoint. `dead` (nullable) is the
    * shard's erased-id bitset, loaded from the `dead` sidecar
    * [[compact]] writes: local ids whose payload the last purge
    * zeroed, filtered out of RESULT emission by the beam kernels
    * (traversal untouched — the hnswlib-markDelete posture). */
  private final class Resident(
      val g: org.apache.spark.broadcast.Broadcast[CsrGraph],
      val v: org.apache.spark.broadcast.Broadcast[VectorStore],
      val dead: org.apache.spark.broadcast.Broadcast[java.util.BitSet],
      var pins: Int = 0)

  // Resident-shard LRU, keyed by shard DIRECTORY (base `shard<s>` and
  // delta `delta<j>` dirs flow through the same cache and the same
  // residency bound). Bounded by
  // `spark.graft.index.residentShards` (default 1 — the proven
  // one-shard-peak invariant). The cache is what amortizes per-call shard
  // load cost: a search RE-USES a still-resident shard's broadcasts
  // instead of re-reading graph+vectors from parquet on every call, and
  // eviction (destroy, oldest first) happens BEFORE the replacement
  // loads, so the peak never exceeds the conf. Sizing the conf to the
  // shard count turns repeated searches into pure in-memory probes —
  // the batch-serving posture; sizing it to 1 keeps strict minimal
  // residency. Insertion order doubles as recency order because every
  // hit re-inserts.
  private val resident =
    scala.collection.mutable.LinkedHashMap.empty[String, Resident]

  private def residentCap(spark: SparkSession): Int =
    spark.conf.get("spark.graft.index.residentShards", "1").toInt.max(1)

  /** Evict + destroy every resident shard (rebuilds at a cached path,
    * tests, shutdown). */
  private def destroyResident(r: Resident): Unit = {
    r.g.destroy(); r.v.destroy()
    if (r.dead != null) r.dead.destroy()
    exitShard()
  }

  private[graft] def evictAll(): Unit = resident.synchronized {
    resident.values.foreach(destroyResident)
    resident.clear()
  }

  private def evictPath(path: String): Unit = resident.synchronized {
    val keys = resident.keys.filter(_.startsWith(path + "/")).toSeq
    keys.foreach(k => destroyResident(resident.remove(k).get))
  }

  /** Load a shard dir through the resident cache: hit = touch + pin +
    * reuse, miss = evict-to-capacity (oldest UNPINNED first) then load.
    * The returned entry is PINNED — callers pair with
    * [[releaseShard]] ([[withShard]] does) so a concurrent query's
    * eviction can never destroy broadcasts a checkpoint job is still
    * reading. When every resident entry is pinned the cache may
    * transiently exceed the cap by the number of concurrent queries —
    * bounded, and strictly better than destroying in-use state. */
  private def acquireShard(spark: SparkSession, metric: String,
                           dir: String): Resident = resident.synchronized {
    resident.remove(dir) match {
      case Some(r) =>
        resident.put(dir, r) // LRU touch
        r.pins += 1
        r
      case None =>
        val cap = residentCap(spark)
        var evictable = resident.iterator.filter(_._2.pins == 0).map(_._1)
          .toList
        while (resident.size >= cap && evictable.nonEmpty) {
          val k = evictable.head
          evictable = evictable.tail
          destroyResident(resident.remove(k).get)
        }
        enterShard()
        shardLoads.incrementAndGet()
        val g = CsrGraph.load(spark, s"$dir/graph")
        val vecs = VectorStore.fromDf(
          spark.read.parquet(s"$dir/vectors"),
          "vec_id", "embedding", Metrics(metric))
        // the erased-id sidecar rides the shard load (bounded by the
        // shard's lifetime deletions, amortized by the resident LRU) —
        // per-QUERY masking only ever pays for the UN-erased tombstones
        val deadB = {
          val dp = new org.apache.hadoop.fs.Path(s"$dir/dead/_SUCCESS")
          val dfs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          recoverDeadSwap(spark, dir) // a purge crashed mid-swap must not read as "no dead set"
          if (!dfs.exists(dp)) null
          else {
            val bs = new java.util.BitSet(g.n)
            spark.read.parquet(s"$dir/dead").select(col("vec_id"))
              .collect().foreach { row =>
                val local = row.getLong(0)
                require(local >= 0 && local < g.n,
                  s"dead sidecar id $local outside shard range [0, ${g.n})")
                bs.set(local.toInt)
              }
            spark.sparkContext.broadcast(bs)
          }
        }
        val r = new Resident(spark.sparkContext.broadcast(g),
          spark.sparkContext.broadcast(vecs), deadB, pins = 1)
        resident.put(dir, r)
        r
    }
  }

  private def releaseShard(dir: String): Unit = resident.synchronized {
    resident.get(dir).foreach(r => r.pins = math.max(0, r.pins - 1))
  }

  private def shardDir(ref: ShardedIndexRef, s: Int): String =
    s"${ref.path}/shard$s"

  private def deltaDir(ref: ShardedIndexRef, j: Int): String =
    s"${ref.path}/delta$j"

  // the ONE matcher for delta dir names — [[discover]]'s listing and
  // [[buildPersisted]]'s stale-delta cleanup must never drift apart on
  // what counts as a delta dir
  private val DeltaDirName = "delta\\d+"

  /** Shard count for `nRows` at a TARGET per-shard size — the
    * scale-with-the-corpus knob (SWEEP_SF10's lesson): effective
    * exploration = per-shard budget × shard count, so holding shard
    * SIZE (not shard count) fixed keeps the recall frontier flat as
    * the corpus grows, while per-shard memory stays bounded at
    * target·bytes-per-row. */
  def autoShards(nRows: Long, targetShardRows: Long): Int = {
    require(targetShardRows > 0, "targetShardRows must be positive")
    math.max(1L, (nRows + targetShardRows - 1) / targetShardRows).toInt
  }

  /** [[buildPersisted]] with [[autoShards]] sizing (one footer-cheap
    * count over `emb`'s plan — callers that already know the row count
    * can call buildPersisted directly). */
  def buildPersistedAuto(spark: SparkSession, emb: DataFrame,
                         params: BuildParams, path: String,
                         targetShardRows: Long, minShards: Int = 1)
      : ShardedIndexRef = {
    val n = emb.count()
    buildPersisted(spark, emb, params,
      math.max(minShards, autoShards(n, targetShardRows)), path)
  }

  /** Re-discover a ref's DELTA shards from disk: `delta0..delta<j-1>`
    * dirs present at the path (contiguous from 0 — the [[appendDelta]]
    * layout). This is how a REGISTERED serving tier picks up deltas
    * ingested after registration without re-registration: the ref is a
    * value, but the index on disk is the truth. One directory listing —
    * no data read. */
  def discover(spark: SparkSession, ref: ShardedIndexRef): ShardedIndexRef = {
    val p = new org.apache.hadoop.fs.Path(ref.path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return ref
    val deltas = fs.listStatus(p).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.matches(DeltaDirName))
      // `ids` is written LAST by appendDelta, so its COMMITTED presence
      // marks a COMPLETE delta; a crash mid-append leaves a partial dir
      // that must not serve. The marker is ids/_SUCCESS, not the bare
      // directory — Spark's output committer creates the directory at
      // job SETUP, so a crash mid-ids-write leaves an ids dir with only
      // _temporary inside, which must read as incomplete
      .filter(d => fs.exists(
        new org.apache.hadoop.fs.Path(s"${ref.path}/$d/ids/_SUCCESS")))
      .map(_.stripPrefix("delta").toInt)
      .toSet
    // contiguous prefix only: a gap means the sequence is broken
    var j = 0
    while (deltas.contains(j)) j += 1
    // the DISK is authoritative in both directions: more deltas than
    // the ref = post-registration ingest to serve; FEWER = compact()
    // folded them into the base and deleted the dirs — clamping up to
    // ref.nDeltas here would footer-read deleted directories and fail
    // every query on a registration that outlived a compaction
    ref.copy(nDeltas = j)
  }

  /** Build one RoarGraph per strided shard of `emb` (vec_id, embedding),
    * persisting each shard to `path/shard<s>/{graph,vectors}` and
    * releasing it before the next build starts. Builds run sequentially
    * on the driver loop (each build is itself a distributed job); shard
    * count is a layout knob, not a parallelism knob. Returns a data-free
    * descriptor — nothing of the corpus stays resident. */
  def buildPersisted(spark: SparkSession, emb: DataFrame, params: BuildParams,
                     nShards: Int, path: String): ShardedIndexRef =
    buildPersistedImpl(spark, emb, params, nShards, path,
      clearTombstones = true)

  /** `clearTombstones = false` is [[compact]]'s private regime: its
    * rebuild re-stripes the SAME corpus (same gids), so the deletion
    * mask must survive in place — no parking rename whose crash window
    * could strand or resurrect it. Every true rebuild clears. */
  private def buildPersistedImpl(spark: SparkSession, emb: DataFrame,
                                 params: BuildParams, nShards: Int,
                                 path: String,
                                 clearTombstones: Boolean,
                                 preStagedPath: Option[String] = None)
      : ShardedIndexRef = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    evictPath(path) // a rebuild at a cached path must not serve stale shards
    invalidateRows(path) // nor stale footer counts (budget policy)
    // nor stale DELTA dirs: a rebuild replaces the WHOLE index, and
    // discovery ([[discover]]) would otherwise resurrect deltas whose
    // global ids may no longer be valid against the new base
    locally {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p))
        fs.listStatus(p).foreach { st =>
          if (st.isDirectory && st.getPath.getName.matches(DeltaDirName))
            fs.delete(st.getPath, true)
        }
    }
    // nor stale tombstones: a rebuild is a NEW corpus, and a gid mask
    // from the old one would hide arbitrary new rows. ([[compact]]
    // passes clearTombstones=false — its re-stripe keeps the gids, so
    // the mask AND the shards' erased-id (`dead`) sidecars must
    // survive in place.) Swap leftovers, per-shard dead sidecars, and
    // the legacy parked/ledger dirs go with them; stale shard dirs
    // BEYOND the new count go too (a narrower re-layout must not leave
    // old shards for liveRowCount/discovery to miscount).
    if (clearTombstones) {
      deleteDir(spark, s"$path/$TombstoneDir")
      deleteDir(spark, s"${tombLive(path)}__compact_old")
      deleteDir(spark, s"${tombLive(path)}__compact_staging")
      deleteDir(spark, s"$path/_tombstones_erased")
      deleteDir(spark, s"$path/compact_tombstones_keep")
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p))
        fs.listStatus(p).foreach { st =>
          val nm = st.getPath.getName
          if (st.isDirectory && nm.matches("shard\\d+")) {
            if (nm.stripPrefix("shard").toInt >= nShards)
              fs.delete(st.getPath, true)
            else
              Seq("dead", "dead__compact_old", "dead__compact_staging")
                .foreach(d => fs.delete(
                  new org.apache.hadoop.fs.Path(st.getPath, d), true))
          }
        }
    }
    val ref = ShardedIndexRef(path, nShards, params.metric)
    // ONE corpus pass: stage the shard-partitioned layout up front,
    // then build each shard from its PRUNED partition. Filtering the
    // input once per shard instead would re-scan (and re-compute) the
    // full upstream plan nShards times — O(corpus × nShards) read,
    // quadratic in corpus size once autoShards holds shard SIZE fixed —
    // and GraphBuild's own multiple passes over the shard would each
    // re-run the upstream plan too; the staged parquet makes every
    // pass a pruned columnar read.
    // A caller that already holds a committed shard-partitioned staging
    // of this exact corpus ([[compact]]) passes it via `preStagedPath` —
    // re-staging it here would write and re-read the whole corpus once
    // more for nothing.
    val staging = preStagedPath.getOrElse {
      val stg = s"$path/build_staging"
      emb.select(col("vec_id"), col("embedding"))
        .withColumn("shard", (col("vec_id") % nShards).cast("int"))
        .write.mode("overwrite").partitionBy("shard").parquet(stg)
      stg
    }
    (0 until nShards).foreach { s =>
      enterShard()
      try {
        // `div` (integral divide), NOT `/`: Column./ is a double
        // Divide, which loses integer precision past 2^53 — two
        // distinct global ids could collapse onto one local id and
        // silently corrupt the dense VectorStore contract at the very
        // scale this tier exists for
        val shardDf = spark.read.parquet(staging)
          .filter(col("shard") === s)
          .select(expr(s"vec_id div $nShards").as("vec_id"),
            col("embedding"))
        val idx = GraphBuild.build(spark, shardDf, shardDf, params)
        CsrGraph.save(spark, idx.graph, s"${shardDir(ref, s)}/graph",
          Map("metric" -> params.metric, "shard" -> s.toString,
            "n_shards" -> nShards.toString))
        shardDf.write.mode("overwrite")
          .parquet(s"${shardDir(ref, s)}/vectors")
      } finally exitShard()
      // idx goes out of scope here; GraphBuild.build destroyed its own
      // broadcasts, so the next iteration starts from a clean slate
    }
    // a pre-staged dir belongs to the caller (compact's crash-recovery
    // anchor until the rebuild finishes) — never delete it here
    if (preStagedPath.isEmpty) deleteDir(spark, staging)
    ref
  }

  /** Acquire one shard through the resident cache, run `body` against its
    * broadcasts, eagerly materialize the (output-sized) result via
    * localCheckpoint. The materialization stays MANDATORY even on a cache
    * hit: a later shard load may evict this shard's broadcasts, so the
    * returned plan must not reference them lazily. Destruction is the
    * cache's job (eviction order), not the caller's. At cluster scale the
    * materialized candidates would land in a durable sink instead of the
    * block manager; the lifecycle is the same. */
  private def withShard(spark: SparkSession, metric: String, dir: String)(
      body: (org.apache.spark.broadcast.Broadcast[CsrGraph],
             org.apache.spark.broadcast.Broadcast[VectorStore],
             org.apache.spark.broadcast.Broadcast[java.util.BitSet]) => DataFrame): DataFrame = {
    val r = acquireShard(spark, metric, dir) // pinned until the
    try body(r.g, r.v, r.dead).localCheckpoint(true) // EAGER checkpoint returns
    finally releaseShard(dir)
  }

  /** Evaluate the per-shard search thunks — each runs one bounded
    * Spark job ending in an eager localCheckpoint ([[withShard]]) —
    * either sequentially (the default) or from a fixed thread pool of
    * `spark.graft.index.parallelShardSearch` submitter threads.
    *
    * The SEQUENTIAL loop is the binding stage of a many-shard batch
    * (SWEEP_SERVE_COMPACT at 100×/40 shards: with every shard
    * resident, per-batch wall time is ~nShards × one shard's search
    * job, while each job leaves most cores idle at serving batch
    * sizes). Parallel submission lets the scheduler interleave the
    * per-shard jobs — the same fix a cluster deployment gets for free
    * by running shards as separate jobs. Result order is preserved;
    * shard acquisition stays LRU-guarded, so this composes with a
    * resident budget below nShards (parallel loads serialize on the
    * cache lock, parallel SEARCHES do not). */
  private def runShardJobs(spark: SparkSession,
                           thunks: Seq[() => DataFrame]): Seq[DataFrame] = {
    val par = spark.conf
      .get("spark.graft.index.parallelShardSearch", "1").toInt
    if (par <= 1 || thunks.size <= 1) thunks.map(_())
    else {
      // pool threads must behave like the submitter: same active
      // session (thread-local in Spark) and same job-group/scheduler
      // locals — a downstream cancel-by-group or pool assignment must
      // not silently differ from the sequential path
      val session = spark
      val inherited = Seq("spark.jobGroup.id", "spark.job.description",
          "spark.job.interruptOnCancel", "spark.scheduler.pool")
        .flatMap(k => Option(spark.sparkContext.getLocalProperty(k))
          .map(k -> _))
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(par, thunks.size))
      try thunks.map(t => pool.submit(
          new java.util.concurrent.Callable[DataFrame] {
            def call(): DataFrame = {
              org.apache.spark.sql.SparkSession.setActiveSession(session)
              inherited.foreach { case (k, v) =>
                session.sparkContext.setLocalProperty(k, v) }
              t()
            }
          })).map { fut =>
        // unwrap: callers and specs match on the ORIGINAL exception
        // (QueryBatchGuard's IllegalStateException, lease conflicts) —
        // the pooled path must not re-type failures vs the seq loop
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
      finally pool.shutdown()
    }
  }

  /** G9 multivector adaptive search across all shards: per-shard
    * [[BeamSearch.searchMultiDf]] with the SAME budget, local ids mapped
    * back to global (g = local · nShards + shard), results unioned for
    * the caller's rerank/top-k merge. Output: (qset_id, d_id).
    * `numPartitions` as in [[BeamSearch.searchMultiDf]]. */
  def searchMultiDf(spark: SparkSession, querySets: DataFrame,
                    ref: ShardedIndexRef, minPq: Int, maxPq: Int,
                    budget: Int, adaptive: Boolean,
                    numPartitions: Int = 0): DataFrame = {
    val base = (0 until ref.nShards).map { s => () =>
      withShard(spark, ref.metric, shardDir(ref, s)) { (gB, vB, deadB) =>
        BeamSearch.searchMultiDf(spark, querySets, gB, vB, ref.metric,
          minPq, maxPq, budget, adaptive, deadB, numPartitions)
          .select(col("qset_id"),
            (col("d_id") * ref.nShards + s).as("d_id"))
      }
    }
    val deltas = (0 until ref.nDeltas).map { j => () =>
      val dir = deltaDir(ref, j)
      withShard(spark, ref.metric, dir) { (gB, vB, deadB) =>
        BeamSearch.searchMultiDf(spark, querySets, gB, vB, ref.metric,
          minPq, maxPq, budget, adaptive, deadB, numPartitions)
          .join(broadcast(deltaIds(spark, dir)), Seq("d_id"))
          .select(col("qset_id"), col("gid").as("d_id"))
      }
    }
    dropDeleted(spark, ref.path,
      runShardJobs(spark, base ++ deltas).reduce(_ unionAll _))
  }

  /** G8 single-vector twin: per-shard beam search, global ids, union;
    * caller applies the bounded per-query top-k merge. Output:
    * (q_id, d_id, score). */
  def searchSingleDf(spark: SparkSession, queries: DataFrame,
                     ref: ShardedIndexRef, l: Int, k: Int): DataFrame = {
    val base = (0 until ref.nShards).map { s => () =>
      withShard(spark, ref.metric, shardDir(ref, s)) { (gB, vB, deadB) =>
        BeamSearch.searchSingleDf(spark, queries, gB, vB, ref.metric, l, k,
            deadB)
          .select(col("q_id"),
            (col("d_id") * ref.nShards + s).as("d_id"),
            col("sim").as("score"))
      }
    }
    val deltas = (0 until ref.nDeltas).map { j => () =>
      val dir = deltaDir(ref, j)
      withShard(spark, ref.metric, dir) { (gB, vB, deadB) =>
        BeamSearch.searchSingleDf(spark, queries, gB, vB, ref.metric, l, k,
            deadB)
          .join(broadcast(deltaIds(spark, dir)), Seq("d_id"))
          .select(col("q_id"), col("gid").as("d_id"), col("sim").as("score"))
      }
    }
    dropDeleted(spark, ref.path,
      runShardJobs(spark, base ++ deltas).reduce(_ unionAll _))
  }

  /** A delta shard's (local d_id → global gid) mapping — delta-sized, so
    * always broadcastable into the candidate join. */
  private def deltaIds(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/ids")
      .select(col("vec_id").as("d_id"), col("gid"))

  /** `_`-prefixed by the sidecar convention (it sits beside the
    * shard/delta dirs, which are each their own parquet roots). */
  private val TombstoneDir = "_tombstones"

  private def tombLive(path: String) = s"$path/$TombstoneDir"

  /** Recover a tombstone-retirement swap ([[compact]]) that crashed
    * between its renames ([[Generations.recoverSwap]]) — called from
    * every tombstone READ and from [[deleteFromIndex]] (a delete
    * landing on the stranded state would otherwise start a fresh
    * sidecar that the eventual recovery then clobbers). */
  private def recoverTombstoneSwap(spark: SparkSession,
                                   path: String): Unit =
    Generations.recoverSwap(spark, tombLive(path))

  /** Distinct UN-ERASED tombstoned global ids (the per-query mask), or
    * None when none are pending. Disk is the truth (read per search,
    * like [[discover]]): a registration made before a takedown serves
    * the takedown correctly without re-registration. [[compact]]
    * RETIRES erased ids from this set (into the per-shard `dead`
    * sidecars), so the mask — and with it the per-query anti-join —
    * stays bounded by the deletions since the last purge, not by the
    * index's lifetime churn. Committed-marker semantics and the rest
    * of the shared mechanics live in [[graft.operators.Tombstones]]. */
  private def tombstonesDf(spark: SparkSession, path: String)
      : Option[DataFrame] = {
    recoverTombstoneSwap(spark, path)
    graft.operators.Tombstones.idsOf(spark, tombLive(path), "gid")
  }

  /** Hide tombstoned ids from a candidate union (both search faces call
    * this once, after global-id mapping): broadcast anti-join on the
    * (tiny) tombstone set. With no tombstones the plan is untouched. */
  private def dropDeleted(spark: SparkSession, path: String,
                          results: DataFrame): DataFrame =
    tombstonesDf(spark, path) match {
      case None => results
      case Some(t) =>
        // re-select the caller's column order: a USING join leads with
        // the join key, and the search faces' output shape is a
        // contract (consumers exist that bind positionally)
        results.join(
            broadcast(t.select(col("gid").as("d_id"))),
            Seq("d_id"), "left_anti")
          .select(results.columns.map(col).toIndexedSeq: _*)
    }

  /** Indexed rows discovered from the DIRECTORY, for callers holding
    * only a path (deletes don't carry a ref): shard dirs counted by
    * listing, committed deltas via the [[discover]] rule. */
  private def liveRowCount(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return 0L
    val nShards = f.listStatus(p).count(st =>
      st.isDirectory && st.getPath.getName.matches("shard\\d+"))
    if (nShards == 0) return 0L
    totalRows(spark,
      discover(spark, ShardedIndexRef(path, nShards, "cosine")))
  }

  /** Delete vectors from the index by GLOBAL id (takedown / GDPR
    * erasure) — the hnswlib `markDelete` posture, persisted: a pure
    * append of gid rows to the `_tombstones` sidecar. Search excludes
    * the ids from every result immediately (candidate anti-join after
    * the shard union); the graph NODES remain as routing stubs — the
    * strided layout's dense-id contract cannot absorb holes without a
    * renumber, and marked nodes keep beam navigation intact, exactly
    * as hnswlib keeps marked elements traversable. [[compact]] erases
    * the CONTENT physically (embedding payload zeroed), moves the
    * erased ids out of `_tombstones` into the per-shard `dead`
    * sidecars (result-emission filters at the kernel), and so keeps
    * the per-query mask bounded by the UN-erased deletions; only the
    * id slots persist for the index lifetime.
    * Idempotent by construction UNTIL the next purge: already-
    * tombstoned ids append nothing, and ids OUTSIDE the indexed dense
    * range [0, rows) are ignored entirely (a bogus feed must not
    * inflate the tombstone set, the audit counts, or
    * [[deletedFraction]]'s purge trigger). Re-deleting an id a past
    * compact already ERASED re-tombstones it (the retired sidecar is
    * no longer consulted by the append) — harmless: the id was
    * already invisible, the extra row is re-retired at the next
    * purge, so replays converge; only the "replay reports 0" audit
    * property is scoped to the compaction interval.
    * Returns the newly tombstoned count.
    *
    * Recall note: deleted ids still occupy per-shard BEAM slots — a
    * zeroed payload scores similarity 0 (mid-range under cosine/dot;
    * the kernels keep erased nodes traversable by design, and the
    * `dead` filter reclaims only RESULT slots) — so a corpus with a
    * large deleted fraction should compact, and a corpus that stays
    * heavily deleted after compaction should re-shard; the measured
    * curve is SWEEP_DELETION.tsv, the trigger discipline the same as
    * [[deltaFraction]]. */
  def deleteFromIndex(spark: SparkSession, path: String,
                      idsDf: DataFrame): Long = {
    val rows = liveRowCount(spark, path)
    if (rows == 0) return 0L
    // a delete landing between a crashed retirement swap's renames
    // must not seed a FRESH sidecar the recovery would then clobber
    recoverTombstoneSwap(spark, path)
    graft.operators.Tombstones.appendNew(spark, tombLive(path),
      "gid", idsDf.select(col("gid"))
        .filter(col("gid") >= 0 && col("gid") < rows))
  }

  /** [[deleteFromIndex]] for a literal takedown list. */
  def deleteFromIndex(spark: SparkSession, path: String,
                      gids: Seq[Long]): Long =
    graft.operators.Tombstones.ofIds(spark, gids, "gid")(
      deleteFromIndex(spark, path, _))

  /** UN-ERASED deleted ids as a fraction of indexed rows — the compact
    * trigger on the deletion side (footer count + one tiny scan).
    * `_tombstones` holds ONLY the un-erased deletions ([[compact]]
    * retires what it zeroes into the per-shard `dead` sidecars), so
    * the raw count IS the trigger — no ledger arithmetic. A crash
    * before the retirement swap leaves the erased ids in the set
    * (stale-HIGH), which at worst re-triggers one harmless compact
    * that re-retires them. */
  def deletedFraction(spark: SparkSession, ref: ShardedIndexRef): Double =
    tombstonesDf(spark, ref.path) match {
      case None => 0.0
      case Some(t) =>
        val total = totalRows(spark, ref)
        if (total == 0) 0.0 else t.count().toDouble / total
    }

  /** Max PER-UNIT un-erased deleted fraction — base shards by their
    * strided gid class, each delta dir by its gid range. The global
    * [[deletedFraction]] can hide a poisoned shard under a clean
    * average (a takedown wave is usually skewed: one source, one
    * licensing bucket → one stride/range region), and a shard serving
    * mostly zeroed routing stubs degrades recall for every query that
    * routes there, so [[maybeCompact]] triggers on this too. Cost:
    * footer counts plus one collect of the mask — broadcast-small by
    * the same contract that lets every query anti-join it. */
  def maxShardDeletedFraction(spark: SparkSession,
                              ref: ShardedIndexRef): Double =
    tombstonesDf(spark, ref.path) match {
      case None => 0.0
      case Some(t) =>
        import spark.implicits._
        val gids = t.select(col("gid")).as[Long].collect()
        if (gids.isEmpty) 0.0
        else {
          val baseRows = (0 until ref.nShards)
            .map(s => footerRows(spark, s"${shardDir(ref, s)}/vectors"))
          val b = baseRows.sum
          val deltaRows = (0 until ref.nDeltas)
            .map(j => footerRows(spark, s"${deltaDir(ref, j)}/vectors"))
          // delta j owns the gid range [b + Σ deltaRows(<j), +rows_j)
          val deltaLo = deltaRows.scanLeft(b)(_ + _)
          val baseCnt = new Array[Long](ref.nShards)
          val deltaCnt = new Array[Long](math.max(ref.nDeltas, 1))
          gids.foreach { g =>
            if (g < b) baseCnt((g % ref.nShards).toInt) += 1
            else {
              var j = 0
              while (j < ref.nDeltas && g >= deltaLo(j + 1)) j += 1
              if (j < ref.nDeltas) deltaCnt(j) += 1
            }
          }
          val fracs =
            baseRows.indices.iterator.filter(baseRows(_) > 0)
              .map(s => baseCnt(s).toDouble / baseRows(s)) ++
            deltaRows.indices.iterator.filter(deltaRows(_) > 0)
              .map(j => deltaCnt(j).toDouble / deltaRows(j))
          fracs.foldLeft(0.0)(math.max)
        }
    }

  /** Delta-ingest — the daily-append half of the tier's lifecycle,
    * mirroring [[graft.operators.IvfPq.appendIndex]]'s posture: build a
    * self-contained RoarGraph over ONLY the new vectors and add it as an
    * extra shard at `path/delta<j>`; resident base shards are never read
    * or written (asserted byte-for-byte in IndexSpec). Search unions the
    * delta shards exactly like base shards — same budget, same resident
    * LRU, same bounded candidate merge — so a grown index answers through
    * the ordinary rerank/top-k tail with no new shuffle shape.
    *
    * The strided base mapping can't absorb new ids without a rebuild
    * (g % nShards decides a row's home at build time), so a delta shard
    * keeps its own dense local ids plus a delta-sized (local → global)
    * mapping joined back broadcast-style after search. The local-id
    * window sorts the DELTA ONLY — bounded by the ingest batch, never
    * the corpus. Deltas accumulate cheap (build cost = batch size);
    * [[compact]] folds them back into the strided layout when
    * [[deltaFraction]] says they've grown past the caller's threshold.
    * Reference analog: the reference is rebuild-only (G4 is dead code,
    * `src/index_bipartite.cpp:145-235` builds offline) — this is
    * pipeline-completeness for a daily-ingest corpus, not parity. */
  def appendDelta(spark: SparkSession, delta: DataFrame,
                  ref: ShardedIndexRef, params: BuildParams): ShardedIndexRef = {
    require(params.metric == ref.metric,
      s"delta metric ${params.metric} != index metric ${ref.metric}")
    // A committed compact_staging means a compact() crashed after its
    // point of no return: the staged corpus is the only complete copy,
    // and its eventual recovery rebuild deletes every delta dir at
    // entry — an append landing now would be silently discarded by
    // that rebuild. Deletes in the same window are safe (they ride the
    // mask to the next purge); appends are destructive, so fail loudly
    // and make the caller finish the recovery (re-run compact) first.
    locally {
      val stg = new org.apache.hadoop.fs.Path(
        s"${ref.path}/compact_staging/_SUCCESS")
      val fs = stg.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(stg),
        s"appendDelta: a committed compact_staging is stranded at " +
          s"${ref.path} — a crashed compact() must be recovered " +
          s"(re-run compact) before appending, or the staged rebuild " +
          s"would discard this delta")
    }
    // Dense-gid contract validated at INGEST, not discovered at
    // compaction: compact() re-stripes through buildPersisted, whose
    // strided layout needs global ids 0..N-1 contiguous, so a sparse
    // delta would append fine and only blow up on the eventual compact.
    // Fail here instead: the delta's gids must continue the corpus
    // exactly, i.e. cover [existing, existing+batch) with no duplicates.
    // Cost: parquet-footer counts over resident shards + one agg over
    // the (batch-sized) delta.
    val existing = totalRows(spark, ref)
    val stats = delta.agg(
      count(col("vec_id")), count_distinct(col("vec_id")),
      min(col("vec_id")), max(col("vec_id"))).head()
    val n = stats.getLong(0)
    require(n > 0, "appendDelta: empty delta batch")
    val (nd, lo, hi) = (stats.getLong(1), stats.getLong(2), stats.getLong(3))
    require(nd == n && lo == existing && hi == existing + n - 1,
      s"appendDelta: delta gids must be dense and continue the corpus — " +
        s"expected [$existing, ${existing + n}), got [$lo, ${hi + 1}) " +
        s"with $nd distinct of $n rows")
    val j = ref.nDeltas
    val dir = deltaDir(ref, j)
    // Shard-local renumbering is a pure projection: the density check
    // above proved the gids are exactly [existing, existing+n), so
    // rank-by-gid IS gid - existing. The pre-r18 spelling
    // (row_number over an unpartitioned Window.orderBy(gid)) computed
    // the same thing through a single-partition exchange — bounded by
    // micro-batch size in streaming, but a backfill-sized delta (100M
    // rows) would serialize through one task. This stays distributed
    // at any delta size.
    val local = delta.select(col("vec_id").as("gid"), col("embedding"))
      .withColumn("vec_id", (col("gid") - lit(existing)).cast("long"))
    enterShard()
    try {
      val shardDf = local.select(col("vec_id"), col("embedding"))
      val idx = GraphBuild.build(spark, shardDf, shardDf, params)
      CsrGraph.save(spark, idx.graph, s"$dir/graph",
        Map("metric" -> params.metric, "delta" -> j.toString))
      shardDf.write.mode("overwrite").parquet(s"$dir/vectors")
      local.select(col("vec_id"), col("gid"))
        .write.mode("overwrite").parquet(s"$dir/ids")
    } finally exitShard()
    ref.copy(nDeltas = j + 1)
  }

  /** Row count of one parquet directory read DRIVER-SIDE from the file
    * footers (block row counts) — no Spark job. The lifecycle metadata
    * checks (replay, density, compaction trigger) run per micro-batch;
    * paying a distributed count job each time is pure scheduler
    * overhead for what is a footer field. */
  private def footerRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    var n = 0L
    fs.listStatus(path).foreach { st =>
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try n += r.getRecordCount finally r.close()
      }
    }
    n
  }

  // Footer-count cache for the per-query budget policy: shard/delta
  // vector dirs are immutable once complete, so (path, nShards,
  // nDeltas) pins the count. Invalidated on in-place rebuilds
  // (buildPersisted at a cached path — the compact() path).
  private val rowsCache =
    new scala.collection.concurrent.TrieMap[(String, Int, Int), Long]
  private[index] def invalidateRows(path: String): Unit =
    rowsCache.filterInPlace { case ((p, _, _), _) => p != path }

  /** [[totalRows]] through the footer-count cache — the budget policy
    * calls this per query, and a repeated (path, layout) key must not
    * re-read footers every time. */
  def totalRowsCached(spark: SparkSession, ref: ShardedIndexRef): Long =
    rowsCache.getOrElseUpdate((ref.path, ref.nShards, ref.nDeltas),
      totalRows(spark, ref))

  /** Total indexed rows (base + deltas) — parquet-footer counts, no
    * data read and no Spark job. The ingest replay check and
    * [[appendDelta]]'s dense-gid validation both key off this. */
  def totalRows(spark: SparkSession, ref: ShardedIndexRef): Long =
    (0 until ref.nShards)
      .map(s => footerRows(spark, s"${shardDir(ref, s)}/vectors"))
      .sum +
    (0 until ref.nDeltas)
      .map(d => footerRows(spark, s"${deltaDir(ref, d)}/vectors"))
      .sum

  /** Total delta rows as a fraction of base rows — the [[compact]]
    * trigger (parquet metadata counts, no data read). */
  def deltaFraction(spark: SparkSession, ref: ShardedIndexRef): Double = {
    if (ref.nDeltas == 0) return 0.0
    val d = (0 until ref.nDeltas)
      .map(j => footerRows(spark, s"${deltaDir(ref, j)}/vectors")).sum
    val b = (0 until ref.nShards)
      .map(s => footerRows(spark, s"${shardDir(ref, s)}/vectors")).sum
    if (b == 0) Double.PositiveInfinity else d.toDouble / b
  }

  /** Fold every delta back into the strided base layout: stage the union
    * of base + delta vectors (with their ORIGINAL global ids) to disk,
    * rebuild via [[buildPersisted]] at the same path, drop the staging
    * dirs (delta dirs fall at rebuild ENTRY — see crash posture).
    * Disk-to-disk — the union is never resident; per-shard build
    * residency is [[buildPersisted]]'s proven one-shard peak. The
    * merge-when-small policy: appends are cheap, so a caller compacts
    * only when [[deltaFraction]] crosses its threshold ([[maybeCompact]])
    * — one rebuild amortized over many appends.
    *
    * Tombstoned ids ([[deleteFromIndex]]) have their embedding payload
    * ZEROED in the staged union — the physical content erasure (a
    * zeroed row carries no information about the deleted document; it
    * still scores similarity 0 — MID-range, not far — against every
    * query, so the stub keeps occupying beam slots; what reclaims the
    * RESULT slots is the per-shard `dead` sidecar this purge writes,
    * which the kernels filter at emission). The id slots stay (the
    * dense strided contract cannot absorb holes without renumbering
    * the corpus). The erased ids are then RETIRED from `_tombstones`
    * (staging-swap, recovered at every read), so the per-query
    * anti-join mask stays bounded by the deletions since the last
    * purge; at every intermediate state an erased id is covered by the
    * mask, the sidecar, or both — it never surfaces.
    *
    * Crash posture: the tombstone SNAPSHOT (`compact_staging_tomb`)
    * and the staged union (`compact_staging`) are written FIRST;
    * [[buildPersistedImpl]] then deletes the delta dirs at rebuild
    * ENTRY (stale deltas must never be re-discovered against
    * half-rebuilt base shards), so from that point the staging is the
    * ONLY complete copy of the corpus. Recovery is re-running
    * [[compact]]: a COMPLETE staging short-circuits the union
    * derivation and resumes the rebuild from the staged corpus —
    * re-deriving from the (possibly partially overwritten, already
    * delta-less) shard dirs would lose the delta rows and then
    * overwrite the staging with the damage. Deletes that land between
    * the snapshot and the recovery stay un-erased in the mask and ride
    * to the next purge. Like the band/cell index compactions, the
    * rebuild-in-place requires QUIESCENCE (single writer, no
    * concurrent search/append/delete — [[graft.operators.Tombstones]]
    * states the shared contract). */
  def compact(spark: SparkSession, ref: ShardedIndexRef,
              params: BuildParams): ShardedIndexRef = {
    require(params.metric == ref.metric,
      s"compact metric ${params.metric} != index metric ${ref.metric}")
    val stagingPath = s"${ref.path}/compact_staging"
    val snapPath = s"${ref.path}/compact_staging_tomb"
    val p = new org.apache.hadoop.fs.Path(ref.path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committed(dir: String) = fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"))
    if (!committed(stagingPath)) {
      val tomb = tombstonesDf(spark, ref.path)
      if (ref.nDeltas == 0 && tomb.isEmpty) {
        // nothing to fold or purge — but a crash between a previous
        // compact's two trailing deleteDirs can strand a committed
        // snapshot (staging gone, snapshot not); it is only meaningful
        // while compact_staging exists, so clear it (and any
        // uncommitted staging debris) rather than leave a snapshot
        // whose ids correspond to no in-flight purge
        deleteDir(spark, snapPath)
        deleteDir(spark, stagingPath)
        return ref
      }
      // SNAPSHOT the set this purge will erase, committed BEFORE the
      // corpus staging: the sidecar writes and the retirement swap
      // must use exactly the ids the staged corpus zeroed, across a
      // crash — a delete landing after this point stays un-erased
      deleteDir(spark, snapPath)
      tomb.foreach(_.select(col("gid"))
        .coalesce(1).write.mode("overwrite").parquet(snapPath))
      val base = (0 until ref.nShards).map { s =>
        spark.read.parquet(s"${shardDir(ref, s)}/vectors")
          .select((col("vec_id") * ref.nShards + s).as("vec_id"),
            col("embedding"))
      }
      val deltas = (0 until ref.nDeltas).map { j =>
        val dir = deltaDir(ref, j)
        spark.read.parquet(s"$dir/vectors")
          .join(spark.read.parquet(s"$dir/ids"), Seq("vec_id"))
          .select(col("gid").as("vec_id"), col("embedding"))
      }
      val union = (base ++ deltas).reduce(_ unionAll _)
      val erased =
        if (!committed(snapPath)) union
        else union.join(
            broadcast(spark.read.parquet(snapPath)
              .select(col("gid").as("vec_id"), lit(true).as("_dead"))),
            Seq("vec_id"), "left_outer")
          .select(col("vec_id"),
            when(col("_dead"),
              transform(col("embedding"), _ => lit(0.0f)))
              .otherwise(col("embedding")).as("embedding"))
      // staged SHARD-PARTITIONED (the exact layout buildPersistedImpl's
      // own build_staging would have): the rebuild below then reads this
      // dir pruned per shard directly instead of writing and re-reading
      // the whole corpus a second time
      erased.withColumn("shard", (col("vec_id") % ref.nShards).cast("int"))
        .write.mode("overwrite").partitionBy("shard").parquet(stagingPath)
    }
    // CRASH CONTRACT, pinned by StreamingSpec via this hook: a crash
    // here — staging committed, rebuild not started — is past the
    // point of no return (the staged corpus is authoritative; the
    // recovery below resumes from it, and appendDelta refuses to land
    // on the stranded state until it runs).
    if (spark.conf.getOption("spark.graft.test.compactFailAfterStage")
        .contains("true"))
      throw new IllegalStateException(
        "compact: injected crash after staging commit")
    // fresh run and crash recovery share everything from here on: the
    // staged corpus is the input, the committed snapshot the erased set.
    // A staging committed by THIS version is shard-partitioned and feeds
    // the rebuild directly (preStagedPath); one committed by a pre-
    // upgrade crashed compact has no `shard` column and takes the
    // re-staging path — recovery stays correct across the format change.
    val stagedDf = spark.read.parquet(stagingPath)
    val rebuilt =
      if (stagedDf.columns.contains("shard"))
        buildPersistedImpl(spark, stagedDf, params, ref.nShards, ref.path,
          clearTombstones = false, preStagedPath = Some(stagingPath))
      else
        buildPersistedImpl(spark, stagedDf, params, ref.nShards, ref.path,
          clearTombstones = false)
    if (committed(snapPath)) {
      val snap = spark.read.parquet(snapPath)
      writeDeadSidecars(spark, rebuilt, snap)
      // a (contract-violating) concurrent query between the rebuild
      // and the sidecar writes could have cached shard state without
      // the dead sets — evict so the next load sees them
      evictPath(ref.path)
      retireErased(spark, ref.path, snap)
    }
    deleteDir(spark, stagingPath)
    deleteDir(spark, snapPath)
    rebuilt
  }

  // The dead sidecar: after the first purge it is the ONLY coverage for
  // previously erased ids (they were retired from `_tombstones`), so it
  // must never be rewritten in place — Spark's overwrite deletes the
  // target before writing, and a crash in that window would lose prior
  // erased ids permanently. It is installed through [[Generations.swap]].
  private def deadLive(shardDir: String) = s"$shardDir/dead"

  /** Recover a dead-sidecar swap that crashed between its renames —
    * called before every sidecar READ (shard load) and WRITE (purge).
    * Unlike [[Generations.recoverSwap]]'s roll-back, a COMMITTED staging
    * rolls FORWARD when the live dir is gone: it is the newer superset
    * (old ∪ this purge). Otherwise the shared roll-back runs. Every
    * intermediate state keeps at least one complete copy of the prior
    * erased set on disk, and the window between park and promote is
    * additionally covered by `_tombstones` (retirement runs strictly
    * AFTER the sidecars). */
  private def recoverDeadSwap(spark: SparkSession, shardDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(deadLive(shardDir))
    val stg = new Path(s"${deadLive(shardDir)}__compact_staging")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(stg, "_SUCCESS")) && !fs.exists(live) &&
        !fs.rename(stg, live))
      require(fs.exists(live),
        s"recoverDeadSwap: cannot promote ${stg.toString}")
    Generations.recoverSwap(spark, deadLive(shardDir))
  }

  /** Driver-side id budget for the dead-sidecar merge and the flip's
    * erasure unions: below it, the bounded-mask contract holds and the
    * driver-array path is cheapest; above it (a mass-revocation wave —
    * e.g. a licensing bucket covering 30% of a 100 TB corpus), the
    * sidecars are written by a DISTRIBUTIVE join instead, byte-identical
    * output, no driver materialization. */
  private def maxDriverIds(spark: SparkSession): Long = spark.conf
    .get("spark.graft.ann.deadSidecar.maxDriverIds", "4000000").toLong

  /** Merge this purge's erased gids into each shard's `dead` sidecar
    * (LOCAL id space — the kernels' emission filter). Previous purges'
    * sidecars stay valid across [[compact]]'s re-stripe (same gids,
    * same nShards), so the merge is a union, installed via
    * staging+rename (never an in-place overwrite — see
    * [[recoverDeadSwap]]).
    *
    * Two writers, identical output (spec-asserted): the DRIVER path
    * (erasure set collected once, per-shard slices filtered in memory,
    * one flat file per shard) serves the standing bounded-mask
    * contract; past [[maxDriverIds]] the DISTRIBUTIVE path derives
    * each shard's slice with a filter + `div` projection and unions it
    * against the existing sidecar as a Spark job — a 30%-of-corpus
    * revocation wave never rides through the driver. */
  private def writeDeadSidecars(spark: SparkSession, ref: ShardedIndexRef,
                                snap: DataFrame): Unit = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val snapDf = snap.select(col("gid")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = snapDf.count()
      if (n == 0) return
      val driverSide = n <= maxDriverIds(spark)
      val snapIds: Array[Long] =
        if (driverSide) snapDf.as[Long].collect() else null
      (0 until ref.nShards).foreach { s =>
        val sd = shardDir(ref, s)
        val fs = new Path(sd)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        recoverDeadSwap(spark, sd)
        val haveOld = fs.exists(new Path(s"${deadLive(sd)}/_SUCCESS"))
        if (driverSide) {
          val old: Array[Long] =
            if (haveOld) spark.read.parquet(deadLive(sd))
              .select(col("vec_id")).as[Long].collect()
            else Array.empty[Long]
          val merged = (old ++ snapIds.iterator
              .filter(_ % ref.nShards == s).map(_ / ref.nShards))
            .distinct.sorted
          if (merged.nonEmpty)
            installDeadSidecar(spark, sd,
              merged.toSeq.toDF("vec_id").coalesce(1))
        } else {
          // distributive twin: same (shard, local) split as the driver
          // arithmetic (gid % nShards, gid div nShards), same
          // union-distinct merge, row-sized sorted output files
          val newLocal = snapDf
            .filter(col("gid") % ref.nShards === s)
            .select(expr(s"gid div ${ref.nShards}").as("vec_id"))
          val merged =
            if (haveOld)
              spark.read.parquet(deadLive(sd)).select(col("vec_id"))
                .unionAll(newLocal).distinct()
            else newLocal.distinct()
          val parts = math.max(1L,
            (n / math.max(ref.nShards, 1) + (8L << 20) - 1) / (8L << 20))
          // parts == 1: coalesce writes the identical single sorted
          // file without the range partitioner's bounds-sampling job
          installDeadSidecar(spark, sd,
            (if (parts == 1L) merged.coalesce(1)
             else merged.repartitionByRange(parts.toInt, col("vec_id")))
            .sortWithinPartitions("vec_id"))
        }
      }
    } finally snapDf.unpersist(false)
  }

  /** One sidecar swap (shared by both writer paths). */
  private def installDeadSidecar(spark: SparkSession, sd: String,
                                 merged: DataFrame): Unit =
    Generations.swap(spark, deadLive(sd))(
      merged.write.mode("overwrite").parquet(_))

  /** Retire the erased snapshot from the per-query mask: swap
    * `_tombstones` for (current − snapshot) — deletes that landed
    * mid-compact survive — or drop the dir outright on a full purge.
    * Crash between the renames is recovered by
    * [[recoverTombstoneSwap]] at the next read/delete/compact. */
  private def retireErased(spark: SparkSession, path: String,
                           snap: DataFrame): Unit =
    tombstonesDf(spark, path).foreach { t =>
      val rest = t.join(broadcast(snap.select(col("gid"))),
          Seq("gid"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (rest.count() == 0) deleteDir(spark, tombLive(path))
        else Generations.swap(spark, tombLive(path))(
          rest.coalesce(1).write.mode("overwrite").parquet(_))
      } finally rest.unpersist(false)
    }

  /** [[compact]] iff the deltas have outgrown `maxDeltaFrac` of the
    * base, OR the tombstoned fraction has crossed `maxDeletedFrac` —
    * the purge trigger: past that point the dead routing stubs waste a
    * noticeable share of every beam (and the un-erased payloads are
    * still on disk), so the amortize-appends argument flips the same
    * way it does for deltas. The PER-SHARD fraction is checked too
    * (`maxShardDeletedFrac`): a skewed takedown wave can poison one
    * shard while the global average stays comfortably under threshold
    * — SWEEP_DELETION's skewed rows are the measured motivation. */
  def maybeCompact(spark: SparkSession, ref: ShardedIndexRef,
                   params: BuildParams,
                   maxDeltaFrac: Double = 0.2,
                   maxDeletedFrac: Double = 0.2,
                   maxShardDeletedFrac: Double = 0.2): ShardedIndexRef =
    if ((ref.nDeltas > 0 && deltaFraction(spark, ref) > maxDeltaFrac) ||
        deletedFraction(spark, ref) > maxDeletedFrac ||
        maxShardDeletedFraction(spark, ref) > maxShardDeletedFrac)
      compact(spark, ref, params)
    else ref

  /** True iff a [[compact]] crashed past its point of no return here:
    * a COMMITTED `compact_staging` (its `_SUCCESS` exists) is the only
    * complete copy of the corpus, and [[appendDelta]] refuses to land
    * on top of it. The streaming ingest face probes this per batch to
    * self-heal (finish the fold) before appending. */
  def hasStrandedCompactStaging(spark: SparkSession,
                                ref: ShardedIndexRef): Boolean = {
    val stg = new org.apache.hadoop.fs.Path(
      s"${ref.path}/compact_staging/_SUCCESS")
    stg.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(stg)
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  // The generation-versioned face: every generation is an ordinary
  // sharded index (see [[Generations]]' versioned shell).
  private val Versioned = new Generations.Face("", "sharded")

  /** Build the first generation of a versioned index under `root` and
    * publish the manifest. `committer` selects the manifest commit
    * protocol for THIS call ("" = the `spark.graft.gen.committer`
    * session default) — per-call so a multi-root session never has to
    * toggle the session-global conf around one build. */
  def buildVersioned(spark: SparkSession, emb: DataFrame,
                     params: BuildParams, nShards: Int,
                     root: String, committer: String = ""): ShardedIndexRef =
    Versioned.build(spark, root, committer)(
      buildPersisted(spark, emb, params, nShards, _))

  /** Resolve the live generation into an ordinary ref (delta discovery
    * included). The ref names an immutable PUBLISHED snapshot:
    * [[compactVersioned]] never mutates a published generation, so a
    * query holding this ref completes correctly while a compaction
    * publishes its successor (grace = one generation — see
    * [[Generations]]). */
  def resolveVersioned(spark: SparkSession, root: String,
                       metric: String): ShardedIndexRef =
    refOfGenerationDir(spark, Versioned.resolve(spark, root), metric)

  private def refOfGenerationDir(spark: SparkSession, dir: String,
                                 metric: String): ShardedIndexRef = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nShards = f.listStatus(p).count(st =>
      st.isDirectory && st.getPath.getName.matches("shard\\d+"))
    require(nShards > 0, s"published generation $dir has no shards")
    discover(spark, ShardedIndexRef(dir, nShards, metric))
  }

  /** Run `body` against the live generation's ref under a READER LEASE
    * ([[Generations.withReaderLease]]): the resolved generation cannot
    * be retired mid-body by any number of concurrent publishes — even
    * at `keepGens = 0`, where the grace window alone would delete it
    * out from under an in-flight scan. This is the serving/analytical
    * entry point for a scan that cannot be sized against the grace
    * depth in advance; [[resolveVersioned]] remains the cheap form for
    * callers whose query time is bounded by the maintenance period ×
    * keepGens. */
  def withReaderLease[T](spark: SparkSession, root: String,
                         metric: String)(body: ShardedIndexRef => T): T =
    Generations.withReaderLease(spark, root) { dir =>
      body(refOfGenerationDir(spark, dir, metric))
    }

  /** [[appendDelta]] against the live generation (writer face). */
  def appendVersioned(spark: SparkSession, delta: DataFrame, root: String,
                      params: BuildParams,
                      committer: String = ""): ShardedIndexRef =
    Versioned.update(spark, root, "append", committer)(live =>
      appendDelta(spark, delta, refOfGenerationDir(spark, live, params.metric),
        params))

  /** [[deleteFromIndex]] against the live generation (writer face); 0
    * on a root with no published generation. Explicit overload pair
    * (not a default argument): Scala allows default arguments on only
    * ONE overloaded alternative, and the DataFrame variant holds it. */
  def deleteVersioned(spark: SparkSession, root: String,
                      gids: Seq[Long]): Long =
    deleteVersioned(spark, root, gids, "")

  def deleteVersioned(spark: SparkSession, root: String,
                      gids: Seq[Long], committer: String): Long =
    Versioned.writing(spark, root, "delete", committer)(_ =>
      Generations.liveDir(spark, root)
        .map(deleteFromIndex(spark, _, gids)).getOrElse(0L))

  /** [[deleteVersioned]] for an id RELATION (`gid` column). */
  def deleteVersioned(spark: SparkSession, root: String,
                      idsDf: DataFrame, committer: String = ""): Long =
    Versioned.writing(spark, root, "delete", committer)(_ =>
      Generations.liveDir(spark, root)
        .map(deleteFromIndex(spark, _, idsDf)).getOrElse(0L))

  /** [[maybeCompact]]'s versioned twin: compact into a new generation
    * iff the LIVE generation's deltas or (global / per-shard) deleted
    * fractions cross their thresholds — the triggers a serving
    * deployment polls from its maintenance loop, with readers never
    * paused. Returns the live ref either way. */
  def maybeCompactVersioned(spark: SparkSession, root: String,
                            params: BuildParams,
                            maxDeltaFrac: Double = 0.2,
                            maxDeletedFrac: Double = 0.2,
                            maxShardDeletedFrac: Double = 0.2,
                            targetShardRows: Long = 0,
                            committer: String = "")
      : ShardedIndexRef = {
    val live = resolveVersioned(spark, root, params.metric)
    // the re-shard trigger: growth has pushed the live per-shard size
    // past the target enough that autoShards asks for more shards
    val reshard = targetShardRows > 0 &&
      autoShards(totalRows(spark, live), targetShardRows) != live.nShards
    if ((live.nDeltas > 0 && deltaFraction(spark, live) > maxDeltaFrac) ||
        deletedFraction(spark, live) > maxDeletedFrac ||
        maxShardDeletedFraction(spark, live) > maxShardDeletedFrac ||
        reshard)
      compactVersioned(spark, root, params, targetShardRows, committer)
    else live
  }

  /** Serve-through-compaction purge: fold the live generation's deltas
    * and erase its tombstoned payloads into a NEW generation, publish
    * the pointer, retire out-of-grace generations. The live generation
    * is strictly read-only input — no staging dance is needed, because
    * a crash anywhere before publish leaves the old pointer serving
    * the old (complete) snapshot, and the partial successor dir is
    * retired by the eventual successful publish. Semantics equal
    * [[compact]] + full retirement: the new generation starts with an
    * empty mask, all erased ids (this purge's and every prior one's)
    * covered by its per-shard `dead` sidecars.
    *
    * `targetShardRows > 0` additionally RE-SHARDS: the successor's
    * shard count comes from [[autoShards]] over the live row count —
    * the knob that holds per-shard SIZE fixed as delta-ingest grows
    * the corpus. The in-place [[compact]] cannot change shard count
    * for a serving index (readers would race the re-stripe); the
    * generation flip is exactly where a re-shard belongs: the strided
    * gid contract is re-derived from scratch by the rebuild, the dead
    * set re-maps to the new (shard, local) split through the same
    * sidecar writer, and readers never pause. */
  def compactVersioned(spark: SparkSession, root: String,
                       params: BuildParams,
                       targetShardRows: Long = 0,
                       committer: String = ""): ShardedIndexRef =
    Versioned.writing(spark, root, "compact", committer) { w =>
      val live = refOfGenerationDir(spark, w.live, params.metric)
      val tomb = tombstonesDf(spark, live.path)
      val nShardsNew =
        if (targetShardRows > 0)
          autoShards(totalRows(spark, live), targetShardRows)
        else live.nShards
      if (live.nDeltas == 0 && tomb.isEmpty && nShardsNew == live.nShards)
        live
      else w.publishNext(foldInto(spark, live, tomb, params, nShardsNew, _))
    }

  /** The versioned purge's successor: `live`'s base ∪ deltas with the
    * tombstoned payloads zeroed, re-striped into `nShards` shards at
    * `newDir`, every erased id (prior sidecars ∪ `tomb`) in its dead
    * sidecars. */
  private def foldInto(spark: SparkSession, live: ShardedIndexRef,
                       tomb: Option[DataFrame], params: BuildParams,
                       nShards: Int, newDir: String): ShardedIndexRef = {
    val base = (0 until live.nShards).map { s =>
      spark.read.parquet(s"${shardDir(live, s)}/vectors")
        .select((col("vec_id") * live.nShards + s).as("vec_id"),
          col("embedding"))
    }
    val deltas = (0 until live.nDeltas).map { j =>
      val dir = deltaDir(live, j)
      spark.read.parquet(s"$dir/vectors")
        .join(spark.read.parquet(s"$dir/ids"), Seq("vec_id"))
        .select(col("gid").as("vec_id"), col("embedding"))
    }
    val union = (base ++ deltas).reduce(_ unionAll _)
    // the erased set stays a RELATION end-to-end: the zeroing join
    // broadcasts it only while it is small (the bounded-mask contract),
    // and a mass-revocation wave past maxDriverIds flows through an
    // ordinary shuffled join + the distributive sidecar writer — the
    // flip never materializes the erasures on the driver
    val tombDf: Option[DataFrame] = tomb.map(_.select(col("gid")).distinct())
    val nTomb = tombDf.map(_.count()).getOrElse(0L)
    val zeroed = tombDf match {
      case None => union
      case Some(t) =>
        val marked = t.select(col("gid").as("vec_id"),
          lit(true).as("_dead"))
        val side = if (nTomb <= maxDriverIds(spark)) broadcast(marked)
                   else marked
        union.join(side, Seq("vec_id"), "left_outer")
          .select(col("vec_id"),
            when(col("_dead"), transform(col("embedding"), _ => lit(0.0f)))
              .otherwise(col("embedding")).as("embedding"))
    }
    val newRef = buildPersistedImpl(spark, zeroed, params, nShards,
      newDir, clearTombstones = true)
    // the successor's dead set = every prior generation's sidecars
    // (carried forward — their payloads are already zeroed in the live
    // vectors this build read) ∪ this purge's tombstones.
    val priorDeadDfs: Seq[DataFrame] = (0 until live.nShards).flatMap { s =>
      val sd = shardDir(live, s)
      val f = new org.apache.hadoop.fs.Path(sd)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      recoverDeadSwap(spark, sd)
      if (!f.exists(new org.apache.hadoop.fs.Path(
          s"${deadLive(sd)}/_SUCCESS"))) None
      else Some(spark.read.parquet(deadLive(sd))
        .select((col("vec_id") * live.nShards + s).as("gid")))
    }
    (priorDeadDfs ++ tombDf.map(_.select(col("gid"))))
      .reduceOption(_ unionAll _)
      .foreach(allDead => writeDeadSidecars(spark, newRef, allDead))
    // CRASH CONTRACT, pinned by StreamingSpec via this hook: a crash
    // here — successor generation fully built, pointer NOT flipped —
    // leaves the old manifest serving the old complete snapshot and
    // the successor dir as unpublished debris; the next successful
    // publish retires the debris (monotone gen numbering never reuses
    // it), and re-running the compaction converges to the same
    // survivor results.
    if (spark.conf.getOption("spark.graft.test.compactFailBeforePublish")
        .contains("true"))
      throw new IllegalStateException(
        "compactVersioned: injected crash before publish")
    newRef
  }
}
