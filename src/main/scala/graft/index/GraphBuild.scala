package graft.index

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RoarGraph build parameters (`scripts/roargraph/build_roargraph_index.sh:27-29`:
  * M_sq=100, M_pjbp=35, L_pjpq=100 at 10M scale; PROJECTION_SLACK=2,
  * `index_bipartite.cpp:28`).
  *
  * `knnSource` picks the learn→base kNN-list generator: "exact" scores
  * every (train, base) pair against the broadcast corpus — fine for
  * fixtures, O(N²·d) at scale — while "lsh"/"ivf" feed the build from the
  * bucketed approximate operators, mirroring the reference, which does NOT
  * compute exact kNN at scale either: it loads OFFLINE approximate lists
  * (DiskANN — `scripts/utils/generate_vector_groundtruth.sh:4-8`, read at
  * `index_bipartite.cpp:3111-3131`). Graph parity is judged by recall
  * (SURVEY §7.3); IndexSpec asserts recall parity of the lsh-fed build. */
case class BuildParams(mSq: Int = 100, mPjbp: Int = 35, lPjpq: Int = 100,
                       metric: String = "cosine", knnSource: String = "exact",
                       /** IVF list-generator cell count; 0 (default) =
                         * auto ≈ √N with nProbe and the centroid-training
                         * sample scaled to match — the knob whose FIXED
                         * fixture value thinned the graph at 50k
                         * (SWEEP_BUILD.tsv's roar_ivf row: avg degree
                         * 14.3 → 7.9). nlist ∝ √N is the same balance
                         * note SemDedup carries. */
                       ivfNlist: Int = 0)

/** A built RoarGraph index: broadcastable graph + packed base vectors. */
final class RoarIndex(val graph: CsrGraph, val vecs: VectorStore,
                      val params: BuildParams) extends Serializable

/** G1/G2/G3/G5/G7 — RoarGraph index construction re-expressed as Spark
  * stages (`BuildRoarGraph` `/root/reference/src/index_bipartite.cpp:145-235`,
  * `LinkProjection` `:1045-1279`).
  *
  * Each of the reference's OpenMP phases becomes one DataFrame stage whose
  * per-node work (distance evaluation + occlusion pruning) runs in a
  * `mapGroups`/`mapPartitions` kernel against the broadcast [[VectorStore]];
  * the lock-guarded reverse-edge insertion becomes a shuffle-by-dst batch
  * union (same fixpoint-free semantics, deterministic instead of
  * last-writer-wins — graph parity is judged by recall curves, SURVEY §7.3).
  *
  * Where the reference overwrites `projection_graph_[tgt]` once per
  * training query that picked tgt (racy last-writer-wins), this build
  * UNIONS all candidate lists targeting the node and prunes once — a
  * deterministic superset of any single reference outcome.
  */
object GraphBuild {

  /** G5/G6 — occlusion prune, α-RNG/DiskANN rule (`PruneBiSearchBaseGetBase`
    * `index_bipartite.cpp:1614-1696`; the G6 prune variants `:1698-1943`
    * are this same rule over different candidate pools, covered by this
    * one parameterized kernel): candidates sorted by distance to the
    * target; keep p unless some already-kept r satisfies
    * α·d(p,r) < d(p,target); then fill with nearest leftovers up to `m`.
    * Pure function of (candidates, target) — O(|cands|·m) local work. */
  def occlusionPrune(cands0: Iterable[(Int, Float)], target: Int, m: Int,
                     vecs: VectorStore, metric: VectorMetric,
                     alpha: Float = 1.0f): Array[Int] = {
    // dedup by id (keep best distance), drop the target itself
    val best = new mutable.HashMap[Int, Float]
    cands0.foreach { case (id, d) =>
      if (id != target && d < best.getOrElse(id, Float.MaxValue)) best(id) = d
    }
    if (best.isEmpty) return Array.empty
    val sorted = best.toArray.sortBy { case (id, d) => (d, id) }
    val result = new ArrayBuffer[Int](m)
    val dim = vecs.dim
    var i = 0
    while (i < sorted.length && result.length < m) {
      val (pid, pdist) = sorted(i)
      var occluded = false
      var t = 0
      while (t < result.length && !occluded) {
        val djk = metric.dist(vecs.data, vecs.offset(pid),
          vecs.data, vecs.offset(result(t)), dim)
        if (alpha * djk < pdist) occluded = true
        t += 1
      }
      if (!occluded) result += pid
      i += 1
    }
    // fill pass: nearest leftovers regardless of occlusion
    i = 0
    while (i < sorted.length && result.length < m) {
      val pid = sorted(i)._1
      if (!result.contains(pid)) result += pid
      i += 1
    }
    result.toArray
  }

  /** A6 centroid (`CalculateProjectionep` `index_bipartite.cpp:2007-2018`):
    * element-wise mean in double accumulation. */
  def centroid(vecs: VectorStore): Array[Float] = {
    val acc = new Array[Double](vecs.dim)
    var row = 0
    while (row < vecs.n) {
      val off = row * vecs.dim
      var i = 0
      while (i < vecs.dim) { acc(i) += vecs.data(off + i); i += 1 }
      row += 1
    }
    val out = new Array[Float](vecs.dim)
    var i = 0
    while (i < vecs.dim) { out(i) = (acc(i) / vecs.n).toFloat; i += 1 }
    out
  }

  /** A7 medoid (`index_bipartite.cpp:2020-2038`): argmin distance to the
    * centroid, id-ascending tie-break. */
  def medoid(vecs: VectorStore, metric: VectorMetric): Int = {
    val c = centroid(vecs)
    var bestId = 0
    var bestD = Float.MaxValue
    var row = 0
    while (row < vecs.n) {
      val d = metric.dist(vecs.data, vecs.offset(row), c, 0, vecs.dim)
      if (d < bestD) { bestD = d; bestId = row }
      row += 1
    }
    bestId
  }

  /** CollectPoints — connectivity repair (`index_bipartite.cpp:3010-3094`,
    * `dfs`/`findroot`; present in the reference, disabled in its default
    * build path at `:213`): DFS from the entry point, then graft each
    * unreached component onto the corpus so ONE entry point covers every
    * node. Matters on clustered corpora, where the α-RNG occlusion rule
    * prunes inter-cluster edges and leaves islands no beam search can
    * enter. Deviations from the reference, both deterministic-by-design:
    * the graft target is the exact nearest REACHED node (the reference
    * beam-searches then falls back to `rand()`), and the bridge edge is
    * added in both directions (root→node for reachability, node→root so
    * a beam inside the island can also leave it). Driver-side, bounded:
    * the graft target is the nearest of a ≤[[GraftScanCap]] deterministic
    * stride-sample of the entry component, so repair costs
    * O(components · GraftScanCap · d) even on heavily fragmented corpora
    * (the reference's own fallback is `rand()` — `:3060-3070`). `cap`
    * re-applies the build's degree bound after bridging (bridge edges are
    * never evicted; farthest non-bridge neighbors are). */
  def collectPoints(g: CsrGraph, vecs: VectorStore,
                    metric: VectorMetric, cap: Int = Int.MaxValue): CsrGraph = {
    val n = g.n
    val seen = new Array[Boolean](n)
    val stack = new mutable.ArrayDeque[Int](64)
    def dfs(from: Int): Unit = {
      if (!seen(from)) { seen(from) = true; stack.append(from) }
      while (stack.nonEmpty) {
        val u = stack.removeLast()
        var i = g.nbrStart(u)
        while (i < g.nbrEnd(u)) {
          val v = g.nbrs(i)
          if (!seen(v)) { seen(v) = true; stack.append(v) }
          i += 1
        }
      }
    }
    dfs(g.entryPoint)
    // graft targets come from the entry point's ORIGINAL component (star
    // topology, every island ≤2 bridge hops from it) — not from
    // already-grafted islands, which would chain bridges and make distant
    // clusters need many low-similarity hops a bounded beam won't take
    val epComp = seen.clone()
    val epIds = (0 until n).filter(epComp).toArray
    val stride = math.max(1, epIds.length / GraftScanCap)
    val bridges = new ArrayBuffer[(Int, Int)] // (reached root, island node)
    var u = 0
    while (u < n) {
      if (!seen(u)) {
        var best = -1
        var bestD = Float.MaxValue
        var k = 0
        while (k < epIds.length) {
          val v = epIds(k)
          val d = metric.dist(vecs.data, vecs.offset(v),
            vecs.data, vecs.offset(u), vecs.dim)
          if (d < bestD) { bestD = d; best = v }
          k += stride
        }
        bridges += ((best, u))
        // the bridge opens u's whole component; flood it before moving on
        dfs(u)
      }
      u += 1
    }
    if (bridges.isEmpty) g
    else {
      val adj = Array.tabulate(n)(i => ArrayBuffer(g.neighbors(i).toSeq: _*))
      val bridgeNbrs = mutable.Map.empty[Int, mutable.Set[Int]]
      bridges.foreach { case (root, node) =>
        adj(root) += node
        adj(node) += root
        bridgeNbrs.getOrElseUpdate(root, mutable.Set.empty) += node
        bridgeNbrs.getOrElseUpdate(node, mutable.Set.empty) += root
      }
      // re-apply the degree cap on bridged nodes: keep every bridge edge
      // (they carry reachability), evict the farthest non-bridge neighbors
      if (cap < Int.MaxValue) bridgeNbrs.foreach { case (v, bset) =>
        if (adj(v).length > cap) {
          val (keep, evictable) = adj(v).distinct.partition(bset.contains)
          val nearest = evictable.sortBy(w => metric.dist(vecs.data,
            vecs.offset(w), vecs.data, vecs.offset(v), vecs.dim))
          adj(v) = keep ++ nearest.take(math.max(cap - keep.length, 0))
        }
      }
      CsrGraph.fromAdjacency(
        Array.tabulate(n)(i => (i.toLong, adj(i).toSeq.map(_.toLong))),
        n, g.entryPoint)
    }
  }

  /** Bound on the per-island graft scan in [[collectPoints]]. */
  val GraftScanCap: Int = 8192

  /** Exact kNN of each `train` row against the whole broadcast store —
    * the build-input kNN lists the reference loads precomputed (S9,
    * `LoadLearnBaseKNN` `index_bipartite.cpp:3111-3131`). Queries stay
    * partitioned (scales with |train|); the corpus rides the broadcast.
    * Output: (q_id, nbrs) in ascending-distance order, self excluded. */
  def exactKnn(spark: SparkSession, train: DataFrame, k: Int,
               vecsB: org.apache.spark.broadcast.Broadcast[VectorStore],
               metricName: String, excludeSelf: Boolean): DataFrame = {
    import spark.implicits._
    train.select(col("q_id"), col("q_vec")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val vecs = vecsB.value
        val metric = Metrics(metricName)
        it.map { case (qid, qraw) =>
          val q = if (metric.normalizeAtLoad) VectorStore.normalized(qraw) else qraw
          val heap = new BeamQueue(k)
          var row = 0
          while (row < vecs.n) {
            if (!(excludeSelf && row == qid)) {
              heap.insert(row, metric.dist(vecs.data, vecs.offset(row), q, 0, vecs.dim))
            }
            row += 1
          }
          val nbrs = new Array[Long](heap.size)
          var i = 0
          while (i < heap.size) { nbrs(i) = heap.id(i); i += 1 }
          (qid, nbrs.toSeq)
        }
      }.toDF("q_id", "nbrs")
  }

  /** Ranked (q_id, rank, d_id) rows → (q_id, nbrs) lists in rank order —
    * adapter from the approximate operators' output to the kNN-list shape
    * the build consumes. */
  private def rankedToLists(ranked: DataFrame): DataFrame =
    ranked.groupBy("q_id").agg(
      transform(array_sort(collect_list(struct(col("rank"), col("d_id")))),
        x => x("d_id")).as("nbrs"))

  /** Learn→base kNN lists per `params.knnSource` (see [[BuildParams]]).
    * Approximate sources are cosine-order generators, so they require the
    * cosine metric (the fixtures' metric and the reference's main arm). */
  def knnLists(spark: SparkSession, trainQ: DataFrame, base: DataFrame,
               params: BuildParams,
               vecsB: org.apache.spark.broadcast.Broadcast[VectorStore]): DataFrame =
    params.knnSource match {
      case "exact" =>
        exactKnn(spark, trainQ, params.mSq, vecsB, params.metric,
          excludeSelf = true)
      case src @ ("lsh" | "ivf") =>
        require(params.metric == "cosine",
          s"knnSource=$src generates cosine-ordered candidates; metric is ${params.metric}")
        val d = base.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
        val ranked =
          if (src == "lsh")
            // honest banding (16 bands × 8 bits): prunes to ~6% of |Q|·|D|
            // on the uncorrelated bulk; meaningful when the corpus has
            // near-neighbor structure (IndexSpec gates the lsh-fed build
            // on a clustered fixture — on uniform-random data use
            // knnSource="exact"/"ivf")
            graft.operators.LshAnn.knn(trainQ, d, params.mSq,
              numPlanes = 128, rowsPerBand = 8, excludeSelf = true)
          else {
            // auto-scale the IVF knobs with the corpus: fixed fixture
            // values degrade both cost and list quality as N grows
            val n = vecsB.value.n
            val nlist =
              if (params.ivfNlist > 0) params.ivfNlist
              else math.max(16, math.sqrt(n.toDouble).toInt)
            graft.operators.IvfAnn.knn(spark, trainQ, d, params.mSq,
              nlist = nlist, nProbe = math.max(10, nlist / 8),
              sampleN = math.max(2000, 20 * nlist),
              excludeSelf = true)
          }
        rankedToLists(ranked)
      case other => sys.error(s"unknown knnSource '$other' (exact|lsh|ivf)")
    }

  /** Merge per-node candidate lists and occlusion-prune each to `m` —
    * the shared shape of LinkProjection phases (a)+(c) and (e): input
    * (node, candidate ids), output (src, nbrs) sorted-by-distance. */
  private def pruneAdjacency(spark: SparkSession, cands: DataFrame, m: Int,
                             vecsB: org.apache.spark.broadcast.Broadcast[VectorStore],
                             metricName: String): DataFrame = {
    import spark.implicits._
    cands.select(col("node"), col("cand")).as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (node, rows) =>
        val vecs = vecsB.value
        val metric = Metrics(metricName)
        val tgt = node.toInt
        val withDist = rows.map { case (_, cand) =>
          val c = cand.toInt
          (c, metric.dist(vecs.data, vecs.offset(c), vecs.data, vecs.offset(tgt), vecs.dim))
        }.toArray
        (node, occlusionPrune(withDist, tgt, m, vecs, metric).map(_.toLong).toSeq)
      }.toDF("src", "nbrs")
  }

  /** G3/J5 — bipartite adjacency from kNN lists (`qbaseNNbipartite`
    * `index_bipartite.cpp:237-282`): training query sq links to its
    * top-M base NNs (minus the chosen target), and the target gets the
    * single reverse edge. Query nodes are offset by `nd`. */
  def bipartiteAdjacency(knn: DataFrame, nd: Long, mPjbp: Int): DataFrame = {
    val trimmed = knn.select(col("q_id"),
      slice(col("nbrs"), 1, mPjbp).as("nbrs"))
    val fwd = trimmed.select((col("q_id") + nd).as("src"),
      explode(expr("slice(nbrs, 2, size(nbrs) - 1)")).as("dst"))
    val rev = trimmed.select(element_at(col("nbrs"), 1).as("src"),
      (col("q_id") + nd).as("dst"))
    fwd.unionByName(rev)
      .groupBy("src").agg(sort_array(collect_list(col("dst"))).as("nbrs"))
  }

  /** Rows at or below which [[build]] runs entirely driver-side (same
    * kernels, bit-identical graph — GraphBuildLocalSpec pins the
    * equality). A streaming micro-batch's delta build, or a lifecycle
    * compact over a bounded slice, is ~10–20 Spark jobs of scheduling
    * for microseconds of per-node work; below this threshold the whole
    * phase pipeline is cheaper as plain loops over the already-collected
    * [[VectorStore]]. Production-sized shard builds stay distributed —
    * at 512 the O(n²) exact-kNN work is ~8 ms-scale on one core. */
  val DriverBuildMaxRows = 512

  /** Full G1/G2 build. `base` and `train`: (vec_id, embedding). */
  def build(spark: SparkSession, base: DataFrame, train: DataFrame,
            params: BuildParams): RoarIndex = {
    val metric = Metrics(params.metric)
    val vecs = VectorStore.fromDf(base, "vec_id", "embedding", metric)
    if (params.knnSource == "exact" && vecs.n <= DriverBuildMaxRows)
      buildLocal(spark, vecs, train, params, metric)
    else buildDistributed(spark, base, train, params, vecs)
  }

  /** The distributed phase pipeline behind [[build]] (the reference
    * path every size takes past [[DriverBuildMaxRows]]). */
  private[graft] def buildDistributed(spark: SparkSession, base: DataFrame,
                                      train: DataFrame, params: BuildParams,
                                      vecs: VectorStore): RoarIndex = {
    import spark.implicits._
    val metric = Metrics(params.metric)
    val vecsB = spark.sparkContext.broadcast(vecs)
    val ep = medoid(vecs, metric)
    val n = vecs.n

    // learn→base kNN lists (the reference's precomputed S9 input);
    // exact for fixtures, LSH/IVF-bucketed at scale (BuildParams.knnSource)
    val trainQ = train.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val knn = knnLists(spark, trainQ, base, params, vecsB)

    // Phase (a): per training query, tgt = NN#1, candidates = the rest;
    // union per target, prune once (deterministic vs the reference's
    // last-writer-wins overwrite).
    val phaseACands = knn.select(
        element_at(col("nbrs"), 1).as("node"),
        explode(expr("slice(nbrs, 2, size(nbrs) - 1)")).as("cand"))
    // Phases (b)+(c): batch reverse edges + re-prune over-full nodes.
    // The pruned adjacency is PERSISTED because the fwd ∪ reverse union
    // references it twice: exchange reuse shares the shuffle under the
    // two branches but re-runs the occlusion-prune kernel (the expensive
    // O(|cands|·m) distance evaluations) once per branch — the cache
    // makes each prune kernel run exactly once per build. (It also makes
    // the upstream kNN-list generation single-evaluation, which is why
    // knn itself no longer needs its own cache.)
    val aPruned = pruneAdjacency(spark, phaseACands, params.mPjbp, vecsB, params.metric)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aEdges = aPruned.select(col("src"), explode(col("nbrs")).as("dst"))
    // no distinct(): occlusionPrune dedups candidates by id (keeping the
    // best distance, which is identical for duplicates), so the fwd/rev
    // overlap duplicates are folded in the kernel — a whole-edge-set
    // exchange cheaper (the union is at most 2× the edge count, while
    // the distinct cost a full extra shuffle of exactly those rows).
    val withRev = aEdges.unionByName(
        aEdges.select(col("dst").as("src"), col("src").as("dst")))
      .select(col("src").as("node"), col("dst").as("cand"))
    val projAdj = pruneAdjacency(spark, withRev, params.mPjbp, vecsB, params.metric)
      .cache()

    // Phase (d): connectivity enhancement — per base node, beam-search the
    // current graph for candidates, prune into supply neighbors.
    val g0 = CsrGraph.collect(projAdj, n, ep)
    val g0B = spark.sparkContext.broadcast(g0)
    val baseIds = base.select(col("vec_id")).as[Long]
    // PERSISTED for the same reason as aPruned, and more so: this
    // subtree has NO exchange below the fwd ∪ reverse union, so without
    // the cache the whole phase-(d) beam-search pass over the corpus —
    // the most expensive build phase at scale — executed twice, once
    // per union branch.
    val supplyPruned = baseIds.mapPartitions { it =>
      val g = g0B.value
      val v = vecsB.value
      val m = Metrics(params.metric)
      val visited = new VisitedSet(g.n)
      it.map { node =>
        val scored = new ArrayBuffer[(Int, Float)]
        BeamSearch.searchSingle(g, v, m, v.vector(node.toInt), params.lPjpq,
          visited, scored)
        (node, occlusionPrune(scored, node.toInt, params.mPjbp, v, m)
          .map(_.toLong).toSeq)
      }
    }.toDF("src", "nbrs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Phase (e): supply reverse edges + cap (no distinct() — the prune
    // kernel dedups, see phase (c)).
    val sEdges = supplyPruned.select(col("src"), explode(col("nbrs")).as("dst"))
    val sWithRev = sEdges.unionByName(
        sEdges.select(col("dst").as("src"), col("src").as("dst")))
      .select(col("src").as("node"), col("dst").as("cand"))
    val supplyAdj = pruneAdjacency(spark, sWithRev, params.mPjbp, vecsB, params.metric)

    // Phase (f): merge supply into the projection graph, capped 2·M.
    val finalAdj = projAdj.select(col("src"), col("nbrs").as("proj_nbrs"))
      .join(supplyAdj.select(col("src"), col("nbrs").as("supply_nbrs")),
        Seq("src"), "full_outer")
      .select(col("src"),
        slice(array_union(
          coalesce(col("proj_nbrs"), typedLit(Seq.empty[Long])),
          coalesce(col("supply_nbrs"), typedLit(Seq.empty[Long]))),
          1, 2 * params.mPjbp).as("nbrs"))

    // Phase (g): CollectPoints connectivity repair — no-op on corpora the
    // α-RNG rule already leaves connected (e.g. uniform-random fixtures).
    val graph = collectPoints(CsrGraph.collect(finalAdj, n, ep), vecs, metric,
      cap = 2 * params.mPjbp)
    aPruned.unpersist(blocking = false)
    supplyPruned.unpersist(blocking = false)
    projAdj.unpersist()
    // everything downstream of the build's DataFrames is materialized by
    // the collect above — release the build-scoped broadcasts so repeated
    // builds (e.g. the persisted sharded tier) hold ONE corpus at a time
    g0B.destroy()
    vecsB.destroy()
    new RoarIndex(graph, vecs, params)
  }

  /** Driver-side [[build]] for small corpora: the SAME phase pipeline —
    * exact kNN lists, phase-(a) target union + occlusion prune, fwd ∪
    * reverse re-prune, phase-(d) beam-search supply + reverse + prune,
    * capped array_union merge, collectPoints — over the collected
    * [[VectorStore]], using the identical kernels (BeamQueue /
    * occlusionPrune / BeamSearch.searchSingle), so the produced graph
    * is BIT-IDENTICAL to the distributed build's (every kernel is a
    * deterministic, order-independent function of its per-node
    * candidate multiset; GraphBuildLocalSpec asserts the equality).
    * Job count: 2 (the two input collects) instead of the distributed
    * path's ~15+ — the entire win for streaming delta builds and
    * bounded lifecycle compacts, which are scheduling-bound. */
  private def buildLocal(spark: SparkSession, vecs: VectorStore,
                         train: DataFrame, params: BuildParams,
                         metric: VectorMetric): RoarIndex = {
    val ep = medoid(vecs, metric)
    val n = vecs.n
    val dim = vecs.dim
    val trainRows = train.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // exact kNN lists (knnSource == "exact" gates entry to this path)
    val knn: Array[Array[Int]] = trainRows.map { case (qid, qraw) =>
      val q = if (metric.normalizeAtLoad) VectorStore.normalized(qraw)
              else qraw
      val heap = new BeamQueue(params.mSq)
      var row = 0
      while (row < n) {
        if (row != qid)
          heap.insert(row, metric.dist(vecs.data, vecs.offset(row), q, 0, dim))
        row += 1
      }
      val nbrs = new Array[Int](heap.size)
      var i = 0
      while (i < heap.size) { nbrs(i) = heap.id(i); i += 1 }
      nbrs
    }
    // shared prune: per node, occlusion-prune its candidate multiset
    // (dedup-by-best-distance inside occlusionPrune, exactly the
    // pruneAdjacency kernel)
    def prune(cands: mutable.HashMap[Int, ArrayBuffer[Int]])
        : mutable.HashMap[Int, Array[Int]] = {
      val out = mutable.HashMap.empty[Int, Array[Int]]
      cands.foreach { case (node, cs) =>
        val withDist = cs.map(c => (c,
          metric.dist(vecs.data, vecs.offset(c), vecs.data,
            vecs.offset(node), dim)))
        out(node) = occlusionPrune(withDist, node, params.mPjbp, vecs, metric)
      }
      out
    }
    def withReverse(adj: collection.Map[Int, Array[Int]])
        : mutable.HashMap[Int, ArrayBuffer[Int]] = {
      val m = mutable.HashMap.empty[Int, ArrayBuffer[Int]]
      adj.foreach { case (src, ns) => ns.foreach { dst =>
        m.getOrElseUpdate(src, new ArrayBuffer[Int]) += dst
        m.getOrElseUpdate(dst, new ArrayBuffer[Int]) += src
      } }
      m
    }
    // phase (a): tgt = NN#1, candidates = the rest, unioned per target
    val aCands = mutable.HashMap.empty[Int, ArrayBuffer[Int]]
    knn.foreach { nbrs =>
      // >= 2: a 1-entry list contributes no candidate rows distributed
      // (the explode of an empty slice emits nothing), so the target
      // must not get an (empty) entry here either
      if (nbrs.length >= 2) {
        val buf = aCands.getOrElseUpdate(nbrs(0), new ArrayBuffer[Int])
        var i = 1
        while (i < nbrs.length) { buf += nbrs(i); i += 1 }
      }
    }
    val aPruned = prune(aCands)
    // phases (b)+(c): batch reverse edges + re-prune
    val projAdj = prune(withReverse(aPruned))
    val g0 = CsrGraph.fromAdjacency(
      projAdj.toArray.map { case (s, ns) => (s.toLong, ns.map(_.toLong).toSeq) },
      n, ep)
    // phase (d): beam-search supply candidates per base node
    val visited = new VisitedSet(n)
    val supply = mutable.HashMap.empty[Int, Array[Int]]
    var node = 0
    while (node < n) {
      val scored = new ArrayBuffer[(Int, Float)]
      BeamSearch.searchSingle(g0, vecs, metric, vecs.vector(node),
        params.lPjpq, visited, scored)
      supply(node) = occlusionPrune(scored, node, params.mPjbp, vecs, metric)
      node += 1
    }
    // phase (e): supply reverse edges + cap
    val supplyAdj = prune(withReverse(supply))
    // phase (f): array_union(proj, supply) capped at 2·M — first-
    // occurrence dedup order, exactly the distributed expression
    val keys = (projAdj.keySet ++ supplyAdj.keySet).toArray
    val finalRows = keys.map { nd =>
      val merged = (projAdj.getOrElse(nd, Array.empty[Int]) ++
        supplyAdj.getOrElse(nd, Array.empty[Int]))
        .distinct.take(2 * params.mPjbp)
      (nd.toLong, merged.map(_.toLong).toSeq)
    }
    val graph = collectPoints(CsrGraph.fromAdjacency(finalRows, n, ep),
      vecs, metric, cap = 2 * params.mPjbp)
    new RoarIndex(graph, vecs, params)
  }
}
