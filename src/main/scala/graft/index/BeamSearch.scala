package graft.index

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col

/** One search hit emitted by the kernels (similarity = −distance). */
case class SearchHit(q_id: Long, rank: Int, d_id: Long, sim: Double,
                     cmps: Int, hops: Int)

/** One multivector candidate row: subquery q_sub of set qset_id reached
  * data vector d_id. */
case class MultiHit(qset_id: Long, q_sub: Int, d_id: Long, sim: Double,
                    cmps: Int, hops: Int)

/** G8/G9 — greedy best-first beam search over the RoarGraph projection
  * graph, the reference's `SearchRoarGraph`
  * (`/root/reference/src/index_bipartite.cpp:2313-2422`) and
  * `SearchMultivectorOnRoarGraph` with adaptive beam allocation
  * (`:2424-2544`; expansion loop `:2491-2520`, normalized tail-gap
  * `:2496`, growth step `:2459-2461`).
  *
  * Spark realization: the graph + packed vectors are broadcast once per
  * job; query rows flow through `mapPartitions` (query sets as runs of
  * rows, see `perQuerySet`) and each
  * task runs the sequential kernel with task-local [[BeamQueue]]s and an
  * epoch-tagged [[VisitedSet]] — share-nothing, unlike the reference's
  * OpenMP threads over shared mutable state.
  */
object BeamSearch {

  /** G14 — per-thread visited-set pool (`include/visited_list_pool.h:8-74`).
    * Spark task = thread, so a ThreadLocal replaces the mutex'd pool;
    * epoch-tagging makes reuse free across queries. Retention is
    * BOUNDED per thread ([[MaxPooledSizes]] distinct graph sizes, LRU):
    * a VisitedSet pins O(n) ints, and a long-lived executor thread that
    * has served several graphs of distinct size (multiple sharded
    * tiers, a corpus re-registered after growth) would otherwise
    * accumulate dead tag arrays forever — GBs pinned after the
    * corresponding broadcasts are destroyed. */
  private val MaxPooledSizes = 4
  private object VisitedPools {
    private val tl: ThreadLocal[
        scala.collection.mutable.LinkedHashMap[Int, ArrayBuffer[VisitedSet]]] =
      ThreadLocal.withInitial(() =>
        scala.collection.mutable.LinkedHashMap.empty)
    def get(n: Int, c: Int): Array[VisitedSet] = {
      val m = tl.get()
      val buf = m.remove(n).getOrElse(ArrayBuffer.empty)
      m.put(n, buf) // LRU touch: insertion order doubles as recency
      while (m.size > MaxPooledSizes) m.remove(m.head._1)
      while (buf.length < c) buf += new VisitedSet(n)
      buf.take(c).toArray
    }
  }

  /** Expand-until-converged inner loop shared by G8/G9: grows `queue`
    * until no unexpanded node remains within the first `l` entries.
    * Returns (cmps, hops) deltas. `visitLog` (G12 instrumentation,
    * `TestOverlap_SearchMultivectorOnRoarGraph`,
    * `index_bipartite.cpp:2546-2666`) records every newly-visited node.
    *
    * Each hop gathers the expanded node's unvisited neighbours (marking
    * them visited), scores them in one loop with nothing else in it, then
    * inserts and logs them in neighbour order. A 64-d distance is bound by
    * loading its row, and a loop of distances alone lets those loads
    * overlap (hnswlib prefetches a node's neighbour rows for the same
    * reason). An insert never changes which neighbours are unvisited, so
    * the inserts, logs, `cmps` and `hops` equal those of scoring and
    * inserting one neighbour at a time. */
  private def expandLoop(graph: CsrGraph, vecs: VectorStore, metric: VectorMetric,
                         q: Array[Float], queue: BeamQueue, l: Int,
                         visited: VisitedSet,
                         visitLog: ArrayBuffer[Int] = null,
                         scoreLog: ArrayBuffer[(Int, Float)] = null): (Int, Int) = {
    var cmps = 0
    var hops = 0
    val dim = vecs.dim
    var batch = new Array[Int](64)
    var dists = new Array[Float](64)
    while (queue.hasUnexpandedInK(l)) {
      val node = queue.id(queue.closestUnexpanded())
      hops += 1
      val start = graph.nbrStart(node)
      val end = graph.nbrEnd(node)
      if (end - start > batch.length) {
        batch = new Array[Int](end - start)
        dists = new Array[Float](end - start)
      }
      var m = 0
      var o = start
      while (o < end) {
        val nbr = graph.nbrs(o)
        if (!visited.visited(nbr)) {
          visited.visit(nbr)
          batch(m) = nbr
          m += 1
        }
        o += 1
      }
      var j = 0
      while (j < m) {
        dists(j) = metric.dist(vecs.data, vecs.offset(batch(j)), q, 0, dim)
        j += 1
      }
      j = 0
      while (j < m) {
        val nbr = batch(j)
        val d = dists(j)
        if (visitLog != null) visitLog += nbr
        if (scoreLog != null) scoreLog += ((nbr, d))
        queue.insert(nbr, d)
        j += 1
      }
      cmps += m
    }
    (cmps, hops)
  }

  /** G10 — shared-visited-list multivector search
    * (`SearchMultivectorOnRoarGraphWithSharedVisitedList`,
    * `index_bipartite.cpp:2668-2764`): fixed budget/c beam per subquery,
    * ROUND-ROBIN expansion, ONE shared visited set and one shared
    * "checked" (expanded) set; every expanded node's unvisited neighbors
    * are scored against ALL c subqueries and inserted into every queue. */
  def searchMultiShared(graph: CsrGraph, vecs: VectorStore, metric: VectorMetric,
                        queries: Array[Array[Float]], maxPq: Int, budget: Int,
                        visited: VisitedSet, checked: VisitedSet)
      : Array[(Array[Int], Array[Float], Int, Int)] = {
    val c = queries.length
    val l = math.max(1, budget / c)
    // entries past index l are never expanded or emitted
    val queues = Array.fill(c)(new BeamQueue(math.min(maxPq, l)))
    val cmps = new Array[Int](c)
    val hops = new Array[Int](c)
    visited.nextEpoch()
    checked.nextEpoch()
    val ep = graph.entryPoint
    visited.visit(ep)
    var i = 0
    while (i < c) {
      queues(i).insert(ep, metric.dist(vecs.data, vecs.offset(ep), queries(i), 0, vecs.dim))
      cmps(i) += 1
      i += 1
    }
    var anyActive = true
    while (anyActive) {
      anyActive = false
      var qi = 0
      while (qi < c) {
        val queue = queues(qi)
        if (queue.hasUnexpandedInK(l)) {
          anyActive = true
          val idx = queue.closestUnexpanded()
          val node = queue.id(idx)
          if (!checked.visited(node)) {
            checked.visit(node)
            hops(qi) += 1
            var o = graph.nbrStart(node)
            val end = graph.nbrEnd(node)
            while (o < end) {
              val nbr = graph.nbrs(o)
              if (!visited.visited(nbr)) {
                visited.visit(nbr)
                var si = 0
                while (si < c) {
                  val d = metric.dist(vecs.data, vecs.offset(nbr), queries(si), 0, vecs.dim)
                  cmps(si) += 1
                  queues(si).insert(nbr, d)
                  si += 1
                }
              }
              o += 1
            }
          }
        }
        qi += 1
      }
    }
    Array.tabulate(c) { qi =>
      val q = queues(qi)
      val m = math.min(l, q.size)
      val ids = new Array[Int](m)
      val ds = new Array[Float](m)
      var j = 0
      while (j < m) { ids(j) = q.id(j); ds(j) = q.dist(j); j += 1 }
      (ids, ds, cmps(qi), hops(qi))
    }
  }

  /** G8 kernel: single-vector search, beam width `l`. Returns the top
    * min(l, visited) entries best-first. `scored` (optional) collects
    * every (id, dist) the kernel evaluated — the build pipeline's
    * candidate pool (`SearchProjectionGraphInternal`'s `full_retset`,
    * `index_bipartite.cpp:1281-1352`). */
  def searchSingle(graph: CsrGraph, vecs: VectorStore, metric: VectorMetric,
                   query: Array[Float], l: Int, visited: VisitedSet,
                   scored: ArrayBuffer[(Int, Float)] = null): (BeamQueue, Int, Int) = {
    val queue = new BeamQueue(l)
    visited.nextEpoch()
    val ep = graph.entryPoint
    visited.visit(ep)
    val d0 = metric.dist(vecs.data, vecs.offset(ep), query, 0, vecs.dim)
    queue.insert(ep, d0)
    if (scored != null) scored += ((ep, d0))
    var cmps = 1
    var hops = 0
    // ONE expansion loop for plain and instrumented searches — the
    // scoreLog hook replaces what used to be a full duplicate of the
    // loop body (a fix to the expansion semantics must land once)
    val (c, h) = expandLoop(graph, vecs, metric, query, queue, l, visited,
      scoreLog = scored)
    cmps += c; hops += h
    (queue, cmps, hops)
  }

  /** G9 kernel: c subqueries with one shared compute budget. Each queue
    * starts at `minPq` effective size; while Σ sizes < budget, the queue
    * with the largest normalized tail gap (d[L−1]−d[0])/L grows by
    * ⌊0.1·budget⌋ and is re-searched. With `adaptive=false` every queue
    * gets budget/c up front (`index_bipartite.cpp:2455-2461`).
    * Returns per-subquery (ids, dists, cmps, hops) — the FULL beam
    * contents (first currentSize entries), not just top-k, exactly like
    * the reference (`:2533-2539`). */
  def searchMulti(graph: CsrGraph, vecs: VectorStore, metric: VectorMetric,
                  queries: Array[Array[Float]], minPq: Int, maxPq: Int,
                  budget: Int, adaptive: Boolean,
                  visitedPool: Array[VisitedSet],
                  visitLogs: Array[ArrayBuffer[Int]] = null): Array[(Array[Int], Array[Float], Int, Int)] = {
    val c = queries.length
    require(visitedPool.length >= c, "visitedPool smaller than subquery count")
    val cmps = new Array[Int](c)
    val hops = new Array[Int](c)
    val curSize = new Array[Int](c)
    var sumSize = 0
    if (adaptive) {
      java.util.Arrays.fill(curSize, minPq)
      sumSize = minPq * c
    } else {
      java.util.Arrays.fill(curSize, math.max(1, budget / c))
      sumSize = budget
    }
    // No entry at an index >= the largest size a queue can reach is ever
    // read, expanded or emitted, so the queue holds no more. Adaptively a
    // queue only grows while every other one keeps at least minPq of the
    // budget (and stays below maxPq).
    val reach = math.max(1,
      if (adaptive) math.max(minPq, budget - (c - 1) * minPq)
      else budget / c)
    val queues = Array.fill(c)(new BeamQueue(math.min(maxPq, reach)))
    val grow = math.max(1, (0.1 * budget).toInt)

    // Each subquery keeps its own visited tags ACROSS adaptive re-search
    // calls (the reference holds one VisitedList per subquery for the
    // whole query, `index_bipartite.cpp:2437-2442`).
    def searchQuery(i: Int): Unit = {
      val (dc, dh) = expandLoop(graph, vecs, metric, queries(i), queues(i),
        curSize(i), visitedPool(i), if (visitLogs == null) null else visitLogs(i))
      cmps(i) += dc; hops(i) += dh
    }

    var i = 0
    while (i < c) {
      val vs = visitedPool(i)
      vs.nextEpoch()
      val ep = graph.entryPoint
      vs.visit(ep)
      if (visitLogs != null) visitLogs(i) += ep
      queues(i).insert(ep, metric.dist(vecs.data, vecs.offset(ep), queries(i), 0, vecs.dim))
      cmps(i) += 1
      searchQuery(i)
      i += 1
    }

    if (adaptive) {
      var continue = sumSize < budget
      while (continue) {
        var pick = -1
        var maxGap = 0.0f
        var j = 0
        while (j < c) {
          val q = queues(j)
          val last = math.min(curSize(j), q.size) - 1
          if (last >= 0) {
            val gap = (q.dist(last) - q.dist(0)) / curSize(j)
            val grown = curSize(j) + grow
            if (gap > maxGap && grown < maxPq &&
                sumSize + grown - curSize(j) <= budget) {
              maxGap = gap
              pick = j
            }
          }
          j += 1
        }
        if (pick == -1) continue = false
        else {
          sumSize += grow
          curSize(pick) += grow
          searchQuery(pick)
          continue = sumSize < budget
        }
      }
    }

    Array.tabulate(c) { qi =>
      val q = queues(qi)
      val m = math.min(curSize(qi), q.size)
      val ids = new Array[Int](m)
      val ds = new Array[Float](m)
      var j = 0
      while (j < m) { ids(j) = q.id(j); ds(j) = q.dist(j); j += 1 }
      (ids, ds, cmps(qi), hops(qi))
    }
  }

  /** DataFrame wrapper for G8: `queries` = (q_id long, q_vec array<float>).
    * Output: (q_id, rank, d_id, sim, cmps, hops), sim = −dist.
    *
    * `deadB` (optional) is the hnswlib-markDelete posture at the kernel
    * boundary: ids set in the bitset stay fully TRAVERSABLE (they ride
    * the beam and route expansion exactly like live nodes — removing
    * them from the queue would sever the paths that run through them)
    * but are skipped at RESULT EMISSION, so an erased node can never
    * leave the search face even when its zeroed payload's mid-range
    * score (dist 0 under cosine/dot) lands it inside the top k. Ranks
    * are renumbered over the emitted survivors. */
  def searchSingleDf(spark: SparkSession, queries: DataFrame,
                     graphB: Broadcast[CsrGraph], vecsB: Broadcast[VectorStore],
                     metricName: String, l: Int, k: Int,
                     deadB: Broadcast[java.util.BitSet] = null): DataFrame = {
    import spark.implicits._
    val ds = queries.select(col("q_id"), col("q_vec"))
      .as[(Long, Array[Float])]
    ds.mapPartitions { it =>
      val graph = graphB.value
      val vecs = vecsB.value
      val dead = if (deadB == null) null else deadB.value
      val metric = Metrics(metricName)
      val visited = new VisitedSet(graph.n)
      it.flatMap { case (qid, qraw) =>
        val q = if (metric.normalizeAtLoad) VectorStore.normalized(qraw) else qraw
        val (queue, cmps, hops) = searchSingle(graph, vecs, metric, q, l, visited)
        val out = new ArrayBuffer[SearchHit](math.min(k, queue.size))
        var r = 0
        while (r < queue.size && out.length < k) {
          val id = queue.id(r)
          if (dead == null || !dead.get(id))
            out += SearchHit(qid, out.length + 1, id.toLong,
              -queue.dist(r).toDouble, cmps, hops)
          r += 1
        }
        out
      }
    }.toDF()
  }

  /** G13 — bipartite two-hop search (`SearchBipartiteGraph`,
    * `index_bipartite.cpp:2121-2226`, ablation baseline): nodes < `nd`
    * are base side, the rest are training-query side. From each expanded
    * base node, walk 1-hop (query side) then take each 1-hop neighbor's
    * FIRST unvisited 2-hop base neighbor, tracking which 1-hop neighbor
    * produced the closest candidate; then fully expand that winner's
    * 2-hop list. Start node is `seed % nd` (deterministic here; the
    * reference draws a random start). */
  def searchBipartite(bip: CsrGraph, nd: Int, vecs: VectorStore,
                      metric: VectorMetric, query: Array[Float], l: Int,
                      visited: VisitedSet, seed: Long): (BeamQueue, Int) = {
    val queue = new BeamQueue(l)
    visited.nextEpoch()
    val start = ((seed % nd + nd) % nd).toInt
    visited.visit(start)
    queue.insert(start, metric.dist(vecs.data, vecs.offset(start), query, 0, vecs.dim))
    var cmps = 1
    while (queue.hasUnexpandedInK(l)) {
      val cur = queue.id(queue.closestUnexpanded())
      var bestFirstHop = -1
      var bestDist = Float.MaxValue
      var o = bip.nbrStart(cur)
      val end = bip.nbrEnd(cur)
      while (o < end) {
        val nbr = bip.nbrs(o) // query-side node
        var o2 = bip.nbrStart(nbr)
        val end2 = bip.nbrEnd(nbr)
        var taken = false
        while (o2 < end2 && !taken) {
          val nsNbr = bip.nbrs(o2) // base-side node
          if (!visited.visited(nsNbr)) {
            visited.visit(nsNbr)
            val d = metric.dist(vecs.data, vecs.offset(nsNbr), query, 0, vecs.dim)
            cmps += 1
            if (d < bestDist) { bestDist = d; bestFirstHop = nbr }
            queue.insert(nsNbr, d)
            taken = true // reference breaks after the first unvisited 2-hop
          }
          o2 += 1
        }
        o += 1
      }
      if (bestFirstHop >= 0) {
        var o2 = bip.nbrStart(bestFirstHop)
        val end2 = bip.nbrEnd(bestFirstHop)
        while (o2 < end2) {
          val nsNbr = bip.nbrs(o2)
          if (!visited.visited(nsNbr)) {
            visited.visit(nsNbr)
            val d = metric.dist(vecs.data, vecs.offset(nsNbr), query, 0, vecs.dim)
            cmps += 1
            queue.insert(nsNbr, d)
          }
          o2 += 1
        }
      }
    }
    (queue, cmps)
  }

  /** DataFrame wrapper for G13. `queries` = (q_id, q_vec). */
  def searchBipartiteDf(spark: SparkSession, queries: DataFrame,
                        bipB: Broadcast[CsrGraph], nd: Int,
                        vecsB: Broadcast[VectorStore], metricName: String,
                        l: Int, k: Int): DataFrame = {
    import spark.implicits._
    val ds = queries.select(col("q_id"), col("q_vec"))
      .as[(Long, Array[Float])]
    ds.mapPartitions { it =>
      val bip = bipB.value
      val vecs = vecsB.value
      val metric = Metrics(metricName)
      val visited = new VisitedSet(bip.n)
      it.flatMap { case (qid, qraw) =>
        val q = if (metric.normalizeAtLoad) VectorStore.normalized(qraw) else qraw
        val (queue, cmps) = searchBipartite(bip, nd, vecs, metric, q, l,
          visited, seed = qid)
        val m = math.min(k, queue.size)
        (0 until m).map { r =>
          SearchHit(qid, r + 1, queue.id(r).toLong, -queue.dist(r).toDouble, cmps, 0)
        }
      }
    }.toDF()
  }

  /** `qs` normalized when the metric wants it (the graph's vectors were
    * normalized at load). */
  private def prepared(metric: VectorMetric,
                       qs: Array[Array[Float]]): Array[Array[Float]] =
    if (metric.normalizeAtLoad) qs.map(VectorStore.normalized) else qs

  /** The G9 search of ONE query set as every caller runs it — the task
    * of [[searchMultiDf]] and the routed multivector tier's driver-side
    * one-set path: `qs` are the set's raw vectors in sub order, normalized
    * here when the metric wants it, searched with the calling thread's
    * pooled visited sets. Ids set in `dead` stay traversable but are
    * dropped from the returned beams (the posture of [[searchSingleDf]]).
    * Returns per-subquery (ids, dists, cmps, hops) like [[searchMulti]]. */
  def searchSet(graph: CsrGraph, vecs: VectorStore, metric: VectorMetric,
                qs: Array[Array[Float]], minPq: Int, maxPq: Int, budget: Int,
                adaptive: Boolean, dead: java.util.BitSet = null)
      : Array[(Array[Int], Array[Float], Int, Int)] = {
    val res = searchMulti(graph, vecs, metric, prepared(metric, qs), minPq,
      maxPq, budget, adaptive, VisitedPools.get(graph.n, qs.length))
    if (dead == null) res
    else res.map { case (ids, dists, cmps, hops) =>
      val live = ids.indices.filterNot(r => dead.get(ids(r))).toArray
      (live.map(ids), live.map(dists), cmps, hops)
    }
  }

  /** The query-set prelude of the multivector wrappers (G9, G10, G12):
    * `querySets` = (qset_id, q_sub, q_vec); `search` runs once per set
    * with the set's id, its sub ids in ascending order and their raw
    * vectors.
    *
    * The sets are hash-distributed by `qset_id` over `numPartitions`
    * partitions (default: the session's default parallelism). An
    * explicit partition count keeps AQE's byte-based coalescing off this
    * exchange: query sets are a few MB, so a coalesced grouping shuffle
    * ran the whole batch's kernel in ONE task. A batch of N sets now runs
    * on min(N, numPartitions) tasks. Rows are sorted by (qset_id, q_sub)
    * within each partition, so each set is one run of adjacent rows. */
  private def perQuerySet[T: Encoder](querySets: DataFrame, numPartitions: Int)(
      search: (Long, Array[Int], Array[Array[Float]]) => Iterator[T]): Dataset[T] = {
    val spark = querySets.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    querySets.select(col("qset_id"), col("q_sub"), col("q_vec"))
      .repartition(parts, col("qset_id"))
      .sortWithinPartitions("qset_id", "q_sub")
      .as[(Long, Int, Array[Float])]
      .mapPartitions { rows =>
        val it = rows.buffered
        Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
          val qsetId = it.head._1
          val subs = ArrayBuffer.empty[Int]
          val qs = ArrayBuffer.empty[Array[Float]]
          while (it.hasNext && it.head._1 == qsetId) {
            val (_, sub, v) = it.next()
            subs += sub
            qs += v
          }
          search(qsetId, subs.toArray, qs.toArray)
        }
      }
  }

  /** DataFrame wrapper for G10: shared-visited-list variant. Output shape
    * matches [[searchMultiDf]]. */
  def searchMultiSharedDf(spark: SparkSession, querySets: DataFrame,
                          graphB: Broadcast[CsrGraph], vecsB: Broadcast[VectorStore],
                          metricName: String, maxPq: Int, budget: Int): DataFrame = {
    import spark.implicits._
    perQuerySet(querySets, 0) { (qsetId, subs, qs) =>
      val graph = graphB.value
      val metric = Metrics(metricName)
      val pool = VisitedPools.get(graph.n, 2)
      val res = searchMultiShared(graph, vecsB.value, metric, prepared(metric, qs),
        maxPq, budget, pool(0), pool(1))
      res.iterator.zip(subs.iterator).flatMap { case ((ids, dists, cmps, hops), qSub) =>
        ids.indices.iterator.map { r =>
          MultiHit(qsetId, qSub, ids(r).toLong, -dists(r).toDouble, cmps, hops)
        }
      }
    }.toDF()
  }

  /** G12 — overlap-instrumented G9: per query set, unique vs total TRUE
    * visited-node counts across the c subquery searches. */
  def visitedOverlapDf(spark: SparkSession, querySets: DataFrame,
                       graphB: Broadcast[CsrGraph], vecsB: Broadcast[VectorStore],
                       metricName: String, minPq: Int, maxPq: Int, budget: Int,
                       adaptive: Boolean): DataFrame = {
    import spark.implicits._
    perQuerySet(querySets, 0) { (qsetId, _, qs) =>
      val graph = graphB.value
      val metric = Metrics(metricName)
      val visitedPool = VisitedPools.get(graph.n, qs.length)
      val logs = Array.fill(qs.length)(new ArrayBuffer[Int])
      searchMulti(graph, vecsB.value, metric, prepared(metric, qs), minPq, maxPq,
        budget, adaptive, visitedPool, logs)
      val total = logs.map(_.length.toLong).sum
      val unique = logs.iterator.flatten.toSet.size.toLong
      Iterator.single((qsetId, unique, total,
        math.rint(unique.toDouble / total * 1e6) / 1e6))
    }.toDF("qset_id", "n_unique", "n_total", "unique_frac")
  }

  /** DataFrame wrapper for G9: `querySets` = (qset_id, q_sub, q_vec).
    * Groups each set's subvectors into one kernel call. Output:
    * (qset_id, q_sub, d_id, sim, cmps, hops) — all beam contents.
    * `deadB` as in [[searchSingleDf]]: erased ids stay traversable but
    * never appear among the emitted beam contents. `numPartitions` as in
    * [[perQuerySet]]; a caller holding the query sets in local memory caps
    * it at their number, so a one-set batch stays one kernel task. */
  def searchMultiDf(spark: SparkSession, querySets: DataFrame,
                    graphB: Broadcast[CsrGraph], vecsB: Broadcast[VectorStore],
                    metricName: String, minPq: Int, maxPq: Int, budget: Int,
                    adaptive: Boolean,
                    deadB: Broadcast[java.util.BitSet] = null,
                    numPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    perQuerySet(querySets, numPartitions) { (qsetId, subs, qs) =>
      val res = searchSet(graphB.value, vecsB.value, Metrics(metricName), qs,
        minPq, maxPq, budget, adaptive, if (deadB == null) null else deadB.value)
      res.iterator.zip(subs.iterator).flatMap { case ((ids, dists, cmps, hops), qSub) =>
        ids.indices.iterator.map { r =>
          MultiHit(qsetId, qSub, ids(r).toLong, -dists(r).toDouble, cmps, hops)
        }
      }
    }.toDF()
  }
}
