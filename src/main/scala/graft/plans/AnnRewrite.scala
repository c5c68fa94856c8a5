package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Descending, ExprId, Expression, GenericInternalRow, JoinedRow, LessThan, LessThanOrEqual, Literal, NamedExpression, RowNumber, SortDirection, SortOrder, UnsafeArrayData, UnsafeProjection, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}

import graft.functions.expressions.{VecChamferExpr, VecCosineExpr, VecDotExpr, VecL2SqExpr, VecMaxSimExpr}
import graft.index.{BeamQueue, BeamSearch, CsrGraph, Metrics, VectorStore, VisitedSet}

/** SQL auto-routing of exhaustive top-k similarity queries to the ANN
  * index — the deferred `SparkStrategy` tier of SURVEY §7.4 / §2.7:
  *
  * ```sql
  * SET spark.graft.ann.rewrite=true;
  * SELECT vec_id, graft_vec_dot(embedding, <query literal>) AS score
  * FROM corpus ORDER BY score DESC LIMIT k
  * ```
  *
  * [[AnnTopKRule]] (an optimizer `Rule[LogicalPlan]`) pattern-matches the
  * `GlobalLimit(LocalLimit(Sort(desc score, Project(id, vec_dot AS
  * score))))` shape (and its filtered, set-scorer and query-relation
  * variants) over a corpus registered in [[AnnIndexRegistry]] and
  * replaces the whole subtree with a logical [[AnnTopKNode]];
  * [[AnnStrategy]] plans it as [[AnnTopKExec]], which generates
  * candidates from the registered tier (e.g. the G8 beam search over the
  * broadcast RoarGraph) and then scores them EXACTLY with the query's
  * own expression — so returned scores equal the original expression's
  * values and only the candidate SET is approximate. OPT-IN via
  * `spark.graft.ann.rewrite` (default off: silently trading exact for
  * approximate results is never a default).
  */
object AnnIndexRegistry extends org.apache.spark.internal.Logging {

  /** What a registration routes to: the broadcast graph ([[Entry]]), a
    * candidate tier ([[CandidateTierEntry]]) or a multivector tier
    * ([[MvEntry]]). */
  sealed trait Routable

  /** `searchVecs` is the metric-normalized store the graph was built on;
    * `rawVecs` keeps the unnormalized vectors for exact rescoring. */
  case class Entry(graphB: Broadcast[CsrGraph], searchVecsB: Broadcast[VectorStore],
                   rawVecsB: Broadcast[VectorStore], metricName: String,
                   searchL: Int) extends Routable

  /** One registration: the entry, and for a candidate tier its measured
    * coarse cost — `cost`, the EWMA of observed seconds per query;
    * `sidecar`, the path it persists to (null = in memory only); and
    * `lastPersist`, the nanos of the last sidecar write (the write
    * throttle's state). */
  private case class Registration(entry: Routable, cost: Option[Double] = None,
                                  sidecar: String = null,
                                  lastPersist: Option[Long] = None)

  /** (idCol, vecCol, metric, corpus fingerprint, slot). The slot is
    * "graph" for the graph tier, the tier name for a candidate tier and
    * "set" (metric "set") for the multivector tier. */
  private type Key = (String, String, String, String, String)

  /** Every registration. The corpus fingerprint is part of the key, so a
    * lookup IS the proof that a query scans the registered relation:
    * registrations over two relations that share column names, metric
    * and tier name stay apart, each routable for its own relation — and
    * so do their measured costs (timings from a small corpus must not
    * steer routing on a large one). The exact metric name is part of the
    * key too: an entry built on "l2" serves ORDER-BY-l2²-ASC queries;
    * dot-DESC prefers an "ip" entry and falls back to "cosine", so a
    * cosine-metric AND an ip-metric index on the same columns both stay.
    * The cosine fallback is sound for SCORES always (exact rescoring) but
    * its candidate geometry matches dot ordering only on a normalized
    * corpus — registering a cosine graph for dot routing is the
    * registrant's assertion that the corpus is normalized enough, and
    * the recall gates are the check. */
  private val registrations = new TrieMap[Key, Registration]

  /** Query kind → acceptable index metrics, in preference order.
    * "l2" = ORDER BY graft_vec_l2sq ASC; "cos" = ORDER BY
    * graft_vec_cosine DESC (served ONLY by cosine-metric entries —
    * their normalized geometry IS cosine ordering, no corpus caveat);
    * the set scorers = the multivector tier; "dot" = ORDER BY
    * graft_vec_dot DESC ("ip" preferred; a cosine entry is the
    * registrant's normalized-corpus assertion, see [[registrations]]). */
  private def routeMetrics(kind: String): Seq[String] = kind match {
    case "l2" => Seq("l2")
    case "cos" => Seq("cosine")
    case "chamfer" | "maxsim" | "set" => Seq("set")
    case _ => Seq("ip", "cosine")
  }

  /** Canonical identity of a corpus scan: the single leaf relation under
    * (optional) attribute-only projections and subquery aliases. None if
    * anything else (Filter, Sample, Join, expression Project…) sits in the
    * plan — such a query must NOT be routed to a whole-corpus index. */
  @annotation.tailrec
  def scanFingerprint(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => scanFingerprint(child)
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      scanFingerprint(child)
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          Some("fsv1:" + fs.fileFormat.toString + ":" +
            fs.location.rootPaths.map(_.toString).sorted.mkString(","))
        case other =>
          Some("v1:" + other.getClass.getName + ":" + other.schema.catalogString)
      }
    case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      // name() alone can collide across catalogs; pin the catalog-qualified
      // identifier and the schema so a foreign same-named table never
      // routes to this corpus's index.
      Some("v2:" + v2.catalog.map(_.name()).getOrElse("") + ":" +
        v2.identifier.map(_.toString).getOrElse(v2.table.name()) + ":" +
        v2.table.columns().map(_.toString).mkString(","))
    case _ => None
  }

  /** The fingerprint every registration keys on; only a bare scan has
    * one. */
  private def corpusFingerprint(corpus: DataFrame): String =
    scanFingerprint(corpus.queryExecution.optimizedPlan).getOrElse(
      sys.error("ANN registration requires a bare scan corpus (no " +
        "Filter/Join/expression-Project above the relation): " +
        corpus.queryExecution.optimizedPlan.nodeName))

  /** `spark.graft.ann.relation.exact`: the relation routes' saturating
    * certificate mode. */
  private[plans] def relationExact(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.ann.relation.exact").exists(_.toBoolean)

  /** The saturating certificate modes (`relation.exact`,
    * `filtered.exact`): their coarse-stage times reflect saturation, not
    * production probes, so they never feed a measured cost. */
  private[plans] def saturating(s: SparkSession): Boolean =
    relationExact(s) ||
      s.conf.getOption("spark.graft.ann.filtered.exact").exists(_.toBoolean)

  /** A query batch as the (`q_id`, `q_vec`) frame the generators read. */
  private def queryFrame(s: SparkSession,
                         qs: Seq[(Long, Array[Float])]): DataFrame = {
    import s.implicits._
    qs.map { case (id, v) => (id, v.toSeq) }.toDF("q_id", "q_vec")
  }

  /** Register an index over `corpus` (a bare scan) exposing
    * (`idCol`, `vecCol`). The rule only routes queries whose Project sits
    * DIRECTLY on this same relation — same-named columns on another table,
    * or a Filter/Sample between the Project and the scan, never match. */
  def register(corpus: DataFrame, idCol: String, vecCol: String,
               entry: Entry): Unit =
    put((idCol, vecCol, entry.metricName, corpusFingerprint(corpus), "graph"),
      entry)

  /** Install `entry` at `key`. A re-registration at the same key keeps
    * the cost measured in this session; otherwise the cost starts from
    * `seed` (a candidate tier's persisted sidecar). */
  private def put(key: Key, entry: Routable, sidecar: String = null,
                  seed: => Option[Double] = None): Unit = {
    lazy val seeded = seed // updateWith may retry; read the sidecar once
    registrations.updateWith(key) {
      case Some(r) => Some(r.copy(entry = entry, sidecar = sidecar,
        cost = r.cost.orElse(seeded)))
      case None => Some(Registration(entry, seeded, sidecar))
    }
  }

  /** The registration in one `slot` ("graph", a tier name, or "set")
    * over the relation fingerprinted `fp`, under the first metric that
    * serves `kind`: the key itself proves the relation. */
  def lookupSlot(idCol: String, vecCol: String, kind: String, fp: String,
                 slot: String): Option[Routable] =
    routeMetrics(kind).iterator
      .flatMap(m => registrations.get((idCol, vecCol, m, fp, slot)))
      .map(_.entry).nextOption()

  /** The PLUGGABLE candidate tier behind the SQL route — any ANN
    * candidate generator (IVF-PQ, LSH, random-projection, user-defined)
    * can serve `ORDER BY graft_vec_* LIMIT k` by registering one of
    * these. Routed only when no graph entry matches: the graph answers
    * in one task off a broadcast; a candidate tier answers with a
    * distributed generator job + exact rescoring of the bounded
    * candidate set against the full-precision base TABLE (`data`) using
    * the routed query's OWN expression — so the registered generator
    * controls RECALL only, never score correctness, and the corpus is
    * never resident. `metricName` gates routes like the graph entries:
    * "l2" serves l2²-ASC; "ip" serves dot-DESC (an "ip" registration
    * whose generator has cosine geometry asserts a normalized-enough
    * corpus — same contract as a cosine graph). `name` shows up as the
    * node's tier in the plan. */
  case class CandidateTierEntry(
      name: String, data: org.apache.spark.sql.DataFrame,
      dataIdCol: String, dataVecCol: String, metricName: String, dim: Int,
      /** (spark, queryVec, k) → DataFrame with a `d_id` column of AT
        * LEAST the k best candidate ids (more is fine — rescoring
        * bounds the final answer). Runs on the driver at execute time;
        * must launch distributed work, not collect the corpus. */
      candidates: (SparkSession, Array[Float], Int) => org.apache.spark.sql.DataFrame,
      /** COST HINT for the tier chooser: estimated fraction of the
        * full-precision corpus bytes the COARSE stage reads per query
        * (the dominant term of a compressed-tier probe at scale — the
        * bounded rescoring join is shared by every tier). Lower wins
        * when several tiers are registered for the same (idCol, vecCol,
        * metric); ties break on the tier name. Built-in registrations
        * compute an honest value; user tiers default to 1.0 (a full
        * coarse scan) and should override. */
      costHint: Double = 1.0,
      /** Optional BATCHED generator serving the single-vector
        * query-RELATION route (`SvJoinTopK`): candidates for EVERY
        * collected query vector in ONE distributed job — (q_id, d_id)
        * rows, at least the k best per query (more is fine, the
        * rescore bounds the answer). null (the default) = this tier
        * serves only literal-query statements; the relation route then
        * skips it. */
      candidatesBatch: (SparkSession, Seq[(Long, Array[Float])], Int) => org.apache.spark.sql.DataFrame = null,
      /** Optional FRESH re-read of the full-precision corpus for the
        * rescoring join. `data` snapshots its file listing at
        * registration (Spark's InMemoryFileIndex); a corpus that GROWS
        * in place (delta-ingest) would silently drop post-registration
        * rows from the rescore. null (the default) = rescore against
        * the registration-time `data`. */
      dataRefresh: () => org.apache.spark.sql.DataFrame = null,
      /** True for certificate fixtures registered under a nonstandard
        * name (deleted / grown twins): reachable only by explicit
        * `spark.graft.ann.tier` preference, never by the cost race —
        * see [[lookupTierFor]]. */
      certificateOnly: Boolean = false,
      /** Optional path of a tiny persisted-EWMA sidecar (written
        * best-effort beside the tier's index): [[registerTier]] seeds
        * the measured-cost store from it, so a fresh session routes on
        * the PREVIOUS session's learned order instead of re-learning
        * from static hints; [[recordMeasuredCost]] keeps it current.
        * null = in-memory only (data-backed tiers with no path). */
      costSidecar: String = null) extends Routable {
    /** The relation to rescore against: refreshed when the registrant
      * declared the corpus grow-in-place, else the registration
      * snapshot. */
    def liveData: org.apache.spark.sql.DataFrame =
      if (dataRefresh != null) dataRefresh() else data
  }

  /** MEASURED coarse-stage cost of a registered candidate tier: EWMA
    * of observed seconds-per-query for the tier's generator, recorded by
    * [[AnnTopKExec]] where it materializes the candidates. The static
    * [[CandidateTierEntry.costHint]] is an a-priori bytes-fraction
    * estimate; once every open competitor for a key has real
    * measurements the chooser prefers those (same units, honestly
    * comparable), so a mis-estimated hint cannot keep routing queries
    * to the slower tier. A record for a key with no registration is
    * dropped: it could never steer routing. Saturating certificate modes
    * (`relation.exact` / `filtered.exact`) never record — their costs
    * reflect saturation, not production probes.
    *
    * Persistence is best-effort: a serving session's learned routing
    * order survives restart (seeded back at [[registerTier]]) instead of
    * every fresh session re-learning from static hints. THROTTLED — the
    * sidecar needs approximate freshness only, and an unthrottled write
    * is a full remote PUT per measured query batch on the serving hot
    * path: the first measurement persists immediately (a short-lived
    * session still seeds), later ones at most once per
    * `spark.graft.ann.costSidecarMinIntervalMs` (default 30 s; 0
    * restores write-every-record). */
  private[graft] def recordMeasuredCost(idCol: String, vecCol: String,
                                        metric: String, fp: String,
                                        tier: String,
                                        secPerQuery: Double): Unit = {
    val intervalMs =
      try SparkSession.active.conf
        .get("spark.graft.ann.costSidecarMinIntervalMs", "30000").toLong
      catch { case scala.util.control.NonFatal(_) => 30000L }
    val now = System.nanoTime()
    var write: Option[(String, Double)] = None
    registrations.updateWith((idCol, vecCol, metric, fp, tier))(_.map { r =>
      val cost = r.cost.fold(secPerQuery)(0.7 * _ + 0.3 * secPerQuery) // EWMA
      val due = r.sidecar != null &&
        r.lastPersist.forall(now - _ >= intervalMs * 1000000L)
      write = if (due) Some((r.sidecar, cost)) else None
      r.copy(cost = Some(cost), lastPersist = if (due) Some(now) else r.lastPersist)
    })
    write.foreach { case (path, v) => writeCostSidecar(path, v) }
  }

  private[graft] def measuredCost(idCol: String, vecCol: String,
                                  metric: String, fp: String,
                                  tier: String): Option[Double] =
    registrations.get((idCol, vecCol, metric, fp, tier)).flatMap(_.cost)

  /** A registered corpus fingerprint for (idCol, vecCol, metric, tier
    * name) — lets specs address the fingerprint-scoped measured costs
    * without recomputing the scan fingerprint. */
  private[graft] def registeredFp(idCol: String, vecCol: String,
                                  metric: String,
                                  tier: String): Option[String] =
    registrations.keysIterator.collectFirst {
      case (`idCol`, `vecCol`, `metric`, fp, `tier`) => fp
    }

  /** Forget every measured cost (and sidecar write time); the
    * registrations stay. */
  private[graft] def clearMeasuredCosts(): Unit =
    registrations.mapValuesInPlace((_, r) => r.copy(cost = None, lastPersist = None))

  private def writeCostSidecar(path: String, v: Double): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val f = p.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      val out = f.create(p, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort

  private def readCostSidecar(spark: SparkSession,
                              path: String): Option[Double] =
    if (path == null) None
    else try {
      val p = new org.apache.hadoop.fs.Path(path)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try scala.io.Source.fromInputStream(in).mkString.trim
          .toDoubleOption.filter(d => d > 0 && !d.isInfinite)
        finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Register a candidate tier over `corpus` (a bare scan) — same
    * fingerprint proof as [[register]], so only queries over THIS
    * relation route to it. Several tiers may serve one corpus (e.g. an
    * IVF-PQ codes index AND an SQ8 byte index); re-registering the same
    * tier NAME over the same relation replaces it. Selection:
    * `spark.graft.ann.tier` forces a name ("graph" forces the broadcast
    * graph; a name with no registration = no routing, exhaustive plan);
    * otherwise the lowest cost wins — measured ([[recordMeasuredCost]])
    * once every competitor has one, [[CandidateTierEntry.costHint]]
    * until then. A path-backed tier seeds its measured cost from its
    * persisted sidecar unless this session already measured one.
    *
    * The routed exec TIMES the generator where it collects the
    * candidate ids (the coarse stage is exactly what the tiers compete
    * on; the rescoring pass is shared by every route) and records wall
    * seconds per query here through [[recordMeasuredCost]]. */
  def registerTier(corpus: org.apache.spark.sql.DataFrame, idCol: String,
                   vecCol: String, entry: CandidateTierEntry): Unit = {
    require(entry.name != "graph", "tier name 'graph' is the broadcast graph's")
    put((idCol, vecCol, entry.metricName, corpusFingerprint(corpus),
        entry.name), entry, entry.costSidecar,
      readCostSidecar(corpus.sparkSession, entry.costSidecar))
  }

  /** The candidate tier that serves a `kind` query over the relation
    * fingerprinted `fp`: the `preferred` name when given; else, among
    * the open tiers (certificate registrations are reachable ONLY by
    * explicit preference — the registry is process-global, so letting a
    * masked certificate tier win the cost race would silently apply its
    * deletions/fixture state to unrelated queries), min measured cost
    * when EVERY open competitor has a measurement (seconds are only
    * comparable to seconds — one measured tier must not race its
    * seconds against another's bytes-fraction estimate); else min
    * (costHint, name). */
  def lookupTierFor(idCol: String, vecCol: String, kind: String, fp: String,
                    preferred: Option[String] = None)
      : Option[CandidateTierEntry] = preferred match {
    case Some(name) => lookupSlot(idCol, vecCol, kind, fp, name)
      .collect { case e: CandidateTierEntry => e }
    case None => routeMetrics(kind).iterator.flatMap { m =>
      val open = registrations.iterator.collect {
        case ((`idCol`, `vecCol`, `m`, `fp`, _),
            Registration(e: CandidateTierEntry, cost, _, _))
            if !e.certificateOnly => (e, cost)
      }.toSeq
      if (open.isEmpty) None
      else if (open.size > 1 && open.forall(_._2.isDefined))
        Some(open.minBy { case (e, c) => (c.get, e.name) }._1)
      else Some(open.minBy { case (e, _) => (e.costHint, e.name) }._1)
    }.nextOption()
  }

  /** [[registerTier]] with the built-in IVF-PQ generator: candidates by
    * partition-pruned probe + ADC over a
    * [[graft.operators.IvfPq.writeIndex]] directory. Growth-aware like
    * [[registerSharded]]: post-registration [[graft.operators.IvfPq
    * .appendIndex]] growth is observed via footer counts and the ADC
    * fetch is scaled by [[graft.index.BudgetPolicy]] (same
    * `spark.graft.ann.budget.*` confs), and a non-null `refresh` lets
    * the rescoring join and the exact-mode scan follow a grow-in-place
    * corpus (the registration `data` snapshots its file listing). */
  def registerIvfPq(corpus: org.apache.spark.sql.DataFrame, idCol: String,
                    vecCol: String, entry: IvfPqEntry,
                    refresh: () => org.apache.spark.sql.DataFrame = null,
                    name: String = "ivfpq"): Unit =
    registerIvfPqResolved(corpus, idCol, vecCol, entry, _ => entry.path,
      s"${entry.path}/_cost_ewma.$name", refresh, name)

  /** [[registerIvfPq]] over a generation-VERSIONED root
    * ([[graft.operators.IvfPq.buildVersioned]]): the generator
    * resolves the manifest per query, so routing follows every
    * compaction FLIP with no re-registration (a fixed-dir registration
    * is stranded on a retired generation after `keepGens` flips).
    * `entry.path` is the ROOT; the quantizers are the frozen
    * build-time pair and survive every fold by contract. The
    * persisted-EWMA sidecar sits at the root so it survives
    * retirement too. */
  def registerIvfPqVersioned(corpus: org.apache.spark.sql.DataFrame,
                             idCol: String, vecCol: String,
                             entry: IvfPqEntry,
                             refresh: () => org.apache.spark.sql.DataFrame = null,
                             name: String = "ivfpq"): Unit =
    registerIvfPqResolved(corpus, idCol, vecCol, entry,
      s => graft.operators.IvfPq.resolveVersioned(s, entry.path),
      s"${entry.path}/_cost_ewma.$name", refresh, name)

  private def registerIvfPqResolved(
      corpus: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, entry: IvfPqEntry,
      livePath: SparkSession => String, sidecar: String,
      refresh: () => org.apache.spark.sql.DataFrame,
      name: String): Unit = {
    import graft.index.BudgetPolicy
    import graft.operators.IvfPq
    // registration-time index size (parquet footers, no job) — the
    // baseline the budget policy scales from. With nlist FIXED at build
    // time, appendIndex growth makes every probed cell denser while a
    // flat nCand keeps returning the same candidate count — the exact
    // silent-recall-erosion shape the sharded tier's per-shard budget
    // fixes, so the same policy (and confs) governs the ADC fetch here.
    val regRows = IvfPq.indexRows(corpus.sparkSession,
      livePath(corpus.sparkSession))
    def scaledFetch(s: SparkSession, k: Int, path: String): Int =
      BudgetPolicy.scaledL(s, math.max(entry.nCand, 4 * k),
        regRows.toDouble, IvfPq.indexRows(s, path).toDouble)
    def liveData(s: SparkSession) =
      (if (refresh != null) refresh() else entry.data)
        .select(col(entry.dataIdCol).as("d_id"),
          col(entry.dataVecCol).as("d_vec"))
    registerTier(corpus, idCol, vecCol, CandidateTierEntry(
      name, entry.data, entry.dataIdCol, entry.dataVecCol,
      entry.metricName,
      if (entry.centroids.isEmpty) -1 else entry.centroids(0).length,
      (s, qv, k) => {
        val path = livePath(s)
        graft.operators.IvfPq.candidateIds(s, qv, path,
          entry.centroids, entry.codebooks, entry.nProbe,
          scaledFetch(s, k, path))
      },
      candidatesBatch = (s, qs, k) => {
        // `relation.exact=true` = the saturating certificate regime:
        // probe EVERY cell and keep every row — a generator bounded by
        // nProbe can never claim corpus saturation otherwise (the same
        // reachability-vs-saturation distinction the filtered route
        // enforces); g8_sql_ivfpq_saturated hash-proves this mode
        val exact = relationExact(s)
        val data = liveData(s)
        val path = livePath(s)
        val (nProbe, fetch) =
          if (exact) {
            // saturate against the LARGER of corpus and index counts: a
            // grown index behind a stale (refresh-less) corpus snapshot
            // must still keep every candidate it generates
            val n = math.min(math.max(data.count(),
              IvfPq.indexRows(s, path)), Int.MaxValue.toLong).toInt
            (entry.centroids.length, n)
          } else (entry.nProbe, scaledFetch(s, k, path))
        graft.operators.IvfPq.knnOverIndexBlocked(s, queryFrame(s, qs), path,
            data, entry.centroids, entry.codebooks,
            k = fetch, nProbe = nProbe, nCand = fetch)
          .select(col("q_id"), col("d_id"))
      },
      // probed-cell fraction × PQ codes-vs-float compression: the
      // coarse stage reads ~nProbe/nlist of a nSub/(4·dim)-sized layout
      costHint = {
        val dim = if (entry.centroids.isEmpty) 1
                  else entry.centroids(0).length
        val nlist = math.max(entry.centroids.length, 1)
        (entry.nProbe.toDouble / nlist) *
          (entry.codebooks.length.toDouble / (4.0 * dim))
      },
      dataRefresh = refresh,
      certificateOnly = name != "ivfpq",
      costSidecar = sidecar))
  }

  /** Constructor payload for [[registerIvfPq]]. */
  case class IvfPqEntry(path: String, data: org.apache.spark.sql.DataFrame,
                        dataIdCol: String, dataVecCol: String,
                        centroids: Array[Array[Float]],
                        codebooks: graft.operators.PqAnn.Codebooks,
                        metricName: String, nProbe: Int, nCand: Int)

  /** [[registerTier]] with the persisted SHARDED graph tier as the
    * generator — the route for a corpus past the broadcast ceiling that
    * still wants graph-quality candidates: per-shard beam search
    * through the resident-LRU lifecycle (delta shards included), ids
    * already global. `dim` can't be read off the data-free ref, so the
    * caller states it (the rule's dim gate still applies). */
  def registerSharded(corpus: org.apache.spark.sql.DataFrame, idCol: String,
                      vecCol: String, ref: graft.index.ShardedIndexRef,
                      dim: Int, metricName: String, searchL: Int = 60,
                      refresh: () => org.apache.spark.sql.DataFrame = null,
                      name: String = "sharded"): Unit =
    registerShardedResolved(corpus, idCol, vecCol, ref,
      s => graft.index.ShardedIndex.discover(s, ref),
      s"${ref.path}/_cost_ewma.$name",
      dim, metricName, searchL, refresh, name)

  /** [[registerSharded]] over a generation-VERSIONED root
    * ([[graft.index.ShardedIndex.buildVersioned]]): the generator
    * resolves the manifest per query, so the routed SQL surface
    * follows every compaction/re-shard FLIP with no re-registration —
    * a fixed-dir registration would be stranded on a retired
    * generation after `keepGens` flips. The budget baseline comes from
    * the registration-time live generation; the persisted-EWMA sidecar
    * sits at the ROOT (it must survive retirement). */
  def registerShardedVersioned(corpus: org.apache.spark.sql.DataFrame,
                               idCol: String, vecCol: String, root: String,
                               dim: Int, metricName: String,
                               searchL: Int = 60,
                               refresh: () => org.apache.spark.sql.DataFrame = null,
                               name: String = "sharded"): Unit = {
    val reg0 = graft.index.ShardedIndex
      .resolveVersioned(corpus.sparkSession, root, metricName)
    registerShardedResolved(corpus, idCol, vecCol, reg0,
      s => graft.index.ShardedIndex.resolveVersioned(s, root, metricName),
      s"$root/_cost_ewma.$name",
      dim, metricName, searchL, refresh, name)
  }

  private def registerShardedResolved(
      corpus: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, ref: graft.index.ShardedIndexRef,
      resolve: SparkSession => graft.index.ShardedIndexRef,
      sidecar: String, dim: Int, metricName: String, searchL: Int,
      refresh: () => org.apache.spark.sql.DataFrame,
      name: String): Unit = {
    import graft.index.{BudgetPolicy, ShardedIndex}
    // registration-time per-shard size — the baseline the budget policy
    // scales from when the index grows without re-registration
    val regPerShard = ShardedIndex.totalRowsCached(corpus.sparkSession, ref)
      .toDouble / math.max(ref.nShards + ref.nDeltas, 1)
    // (discovered live ref, effective per-shard budget, per-shard fetch
    // count) for THIS query: deltas ingested after registration are
    // found on disk (one dir listing), per-shard growth scales the
    // registered beam budget (BudgetPolicy) — a month of delta-ingest
    // neither disappears from answers nor silently erodes recall — and
    // `spark.graft.ann.relation.exact=true` saturates every shard's
    // beam (l = 2·rows, all hits returned), the same certificate
    // regime as the graph tier's l = 2n (g8_sql_sharded_saturated
    // hash-proves it end-to-end).
    val warnNoRefresh =
      noRefreshWarning("sharded", idCol, vecCol, "registerSharded")
    def liveState(s: SparkSession, k: Int)
        : (graft.index.ShardedIndexRef, Int, Int) = {
      val live = resolve(s)
      if (live.nDeltas > ref.nDeltas && refresh == null)
        warnNoRefresh(live.nDeltas - ref.nDeltas)
      val rows = ShardedIndex.totalRowsCached(s, live)
      if (relationExact(s)) {
        val cap = math.min(rows, (Int.MaxValue / 2).toLong).toInt.max(1)
        (live, 2 * cap, cap)
      } else {
        val perShard = rows.toDouble /
          math.max(live.nShards + live.nDeltas, 1)
        val effL = BudgetPolicy.scaledL(s, searchL, regPerShard, perShard)
        (live, math.max(effL, 4 * k), 4 * k)
      }
    }
    // the relation route's batch form: ONE per-shard search job for
    // every collected query vector; a literal query is its one-row case
    def search(s: SparkSession, qs: Seq[(Long, Array[Float])], k: Int) = {
      val (live, l, kc) = liveState(s, k)
      ShardedIndex.searchSingleDf(s, queryFrame(s, qs), live, l = l, k = kc)
        .select(col("q_id"), col("d_id"))
    }
    registerTier(corpus, idCol, vecCol, CandidateTierEntry(
      name, corpus, idCol, vecCol, metricName, dim,
      (s, qv, k) => search(s, Seq((0L, qv)), k).select(col("d_id")),
      // beam search touches O(searchL · degree) vectors per shard — a
      // tiny read fraction once shards are resident; the honest cost is
      // shard residency churn, approximated by a small constant
      costHint = 0.02,
      candidatesBatch = search,
      dataRefresh = refresh,
      certificateOnly = name != "sharded",
      costSidecar = sidecar))
  }

  /** [[registerTier]] with the SQ8 byte-code tier as the generator —
    * coarse dequantized scan over the 4×-compressed codes (see
    * [[graft.operators.Sq8Ann]]); candidate ids only, exact rescoring
    * is the route's own. `encoded` is [[graft.operators.Sq8Ann.encode]]
    * output (persist it for a serving deployment); coarse geometry
    * follows `metricName` ("l2" ranks by dequantized L2², otherwise
    * dequantized cosine). Growth-aware when `indexPath`
    * names a [[graft.operators.Sq8Ann.writeIndex]] layout: the coarse
    * scan re-reads `indexPath/codes` per query (a registration-time
    * `encoded` snapshots its file listing, so
    * [[graft.operators.Sq8Ann.appendIndex]] rows would be invisible)
    * and the candidate window scales with footer-counted growth under
    * the same `spark.graft.ann.budget.*` confs — a byte-quantized
    * top-nCand window admits linearly more near-ties as the corpus
    * grows, the same erosion shape as the other tiers, just via score
    * density instead of a structural probe bound. `refresh` follows a
    * grow-in-place corpus for the rescoring join. */
  def registerSq8(corpus: org.apache.spark.sql.DataFrame, idCol: String,
                  vecCol: String, encoded: org.apache.spark.sql.DataFrame,
                  bounds: graft.operators.Sq8Ann.Bounds,
                  metricName: String, nCand: Int = 60,
                  indexPath: String = null,
                  refresh: () => org.apache.spark.sql.DataFrame = null): Unit =
    registerSq8Resolved(corpus, idCol, vecCol, encoded, bounds, metricName,
      nCand, if (indexPath == null) null else (_ => indexPath),
      if (indexPath == null) null else s"$indexPath/_cost_ewma.sq8",
      refresh)

  /** [[registerSq8]] over a generation-VERSIONED root
    * ([[graft.operators.Sq8Ann.buildVersioned]]): the coarse scan
    * resolves the manifest per query, so routing follows every
    * compaction flip with no re-registration. The per-dimension bounds
    * are the frozen quantizer and identical in every generation
    * (compactVersioned copies them verbatim), so the caller passes the
    * build-time pair once; the persisted-EWMA sidecar sits at the
    * root. */
  def registerSq8Versioned(corpus: org.apache.spark.sql.DataFrame,
                           idCol: String, vecCol: String, root: String,
                           bounds: graft.operators.Sq8Ann.Bounds,
                           metricName: String, nCand: Int = 60,
                           refresh: () => org.apache.spark.sql.DataFrame = null): Unit =
    registerSq8Resolved(corpus, idCol, vecCol, encoded = null, bounds,
      metricName, nCand,
      s => graft.operators.Sq8Ann.resolveVersioned(s, root),
      s"$root/_cost_ewma.sq8", refresh)

  private def registerSq8Resolved(
      corpus: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, encoded: org.apache.spark.sql.DataFrame,
      bounds: graft.operators.Sq8Ann.Bounds, metricName: String,
      nCand: Int, livePath: SparkSession => String, sidecar: String,
      refresh: () => org.apache.spark.sql.DataFrame): Unit = {
    import graft.index.{BudgetPolicy, ParquetMeta}
    val regRows =
      if (livePath == null) -1L
      else ParquetMeta.rowsCached(corpus.sparkSession,
        s"${livePath(corpus.sparkSession)}/codes")
    def liveEncoded(s: SparkSession) =
      if (livePath == null) encoded
      // readCodes, not a bare scan: tombstoned (taken-down) rows must
      // not surface as candidates from a path-backed registration
      else graft.operators.Sq8Ann.readCodes(s, livePath(s))
    def fetch(s: SparkSession, k: Int): Int = {
      val base = math.max(nCand, 4 * k)
      if (regRows <= 0) base
      else BudgetPolicy.scaledL(s, base, regRows.toDouble,
        ParquetMeta.rowsCached(s, s"${livePath(s)}/codes").toDouble)
    }
    def coarse(s: SparkSession, qs: Seq[(Long, Array[Float])], k: Int) =
      graft.operators.Sq8Ann.coarseCandidates(queryFrame(s, qs),
          liveEncoded(s), bounds, fetch(s, k), excludeSelf = false,
          byL2 = metricName == "l2")
        .select(col("q_id"), col("d_id"))
    registerTier(corpus, idCol, vecCol, CandidateTierEntry(
      "sq8", corpus, idCol, vecCol, metricName, bounds.dim,
      (s, qv, k) => coarse(s, Seq((0L, qv)), k).select(col("d_id")),
      candidatesBatch = coarse,
      // full coarse scan over byte codes = 1/4 of the float bytes
      costHint = 0.25,
      dataRefresh = refresh,
      costSidecar = sidecar))
  }

  /** Growth without a refresh thunk is HALF a contract: the index serves
    * the post-registration delta candidates, but the rescore join against
    * the registration-snapshot corpus drops their rows. The returned
    * check says so loudly, once per registration, instead of letting
    * delta rows vanish silently. */
  private def noRefreshWarning(face: String, idCol: String, vecCol: String,
                               registerFn: String): Int => Unit = {
    val warned = new java.util.concurrent.atomic.AtomicBoolean(false)
    newDeltas =>
      if (warned.compareAndSet(false, true))
        logWarning(s"$face registration ($idCol,$vecCol) discovered " +
          s"$newDeltas post-registration delta(s) but has no refresh " +
          "thunk — delta rows will be searched but dropped by the " +
          s"rescore join; pass refresh= to $registerFn")
  }

  /** The SET-LEVEL (multivector) tier behind the flagship SQL shape
    *
    * ```sql
    * SELECT dset_id, graft_chamfer_score(<query-set literal>, vec_set)
    *   AS score
    * FROM corpus_sets ORDER BY score DESC LIMIT k
    * ```
    *
    * — the reference's `test_search_multivector_rerank` entry point
    * (tests/test_search_multivector_rerank.cpp:276-339) made reachable
    * from SQL. `data` is the set-level relation (one row per set:
    * id + `array<array<float>>` members, sub-vectors in q_sub order);
    * `candidatesBatch` runs the G9 per-sub-vector search and returns AT
    * LEAST the k best candidate `dset_id`s per query set; the route
    * rescores that bounded set with the query's OWN chamfer expression against
    * `data`, so the registered generator controls RECALL only — scores
    * equal the exhaustive plan's bit-for-bit. `dim` = sub-vector
    * dimension (gates literal shape); `name` surfaces as the node's
    * tier. */
  case class MvEntry(
      name: String, data: org.apache.spark.sql.DataFrame,
      dataIdCol: String, dataVecCol: String, dim: Int,
      /** Candidates for every query set of a statement in ONE
        * distributed job. Input is the bounded collected query side
        * (id, sub-vectors in sub order); output a DataFrame with
        * (`qset_id`, `dset_id`) — at least the k best candidate sets per
        * query set (more is fine, the rescore bounds the answer). Called
        * on the driver at execute time; it launches distributed work and
        * never collects the corpus. The routed statement uses it unless
        * `driverCandidates` serves the statement (below). */
      candidatesBatch: (SparkSession, Seq[(Long, Array[Array[Float]])], Int) => org.apache.spark.sql.DataFrame,
      /** Optional FRESH re-read of the set corpus for the rescoring
        * join — same contract as [[CandidateTierEntry.dataRefresh]]:
        * a grow-in-place set relation needs it or post-registration
        * sets never rescore. */
      dataRefresh: () => org.apache.spark.sql.DataFrame = null,
      /** Optional driver-side search of ONE query set (sub-vectors in
        * sub order) → its distinct candidate `dset_id`s, the same set
        * `candidatesBatch` yields for it. When present, a statement that
        * carries exactly one query set (a set literal, or a query
        * relation with one row) searches in the driver's own thread
        * with no Spark job: a one-set batch runs on a single kernel task
        * anyway, and a job costs more than the ~1 ms kernel. The
        * statement then runs one Spark job, its rescoring scan. Null for
        * tiers whose search must run on executors. */
      driverCandidates: Array[Array[Float]] => Array[Long] = null)
      extends Routable {
    /** The relation to rescore against (see
      * [[CandidateTierEntry.liveData]]). */
    def liveData: org.apache.spark.sql.DataFrame =
      if (dataRefresh != null) dataRefresh() else data
  }

  /** Register the multivector tier over `corpusSets` (a bare scan of
    * the set-level relation) — same fingerprint proof as [[register]]:
    * several set relations (e.g. the standard route and a
    * saturating-budget twin over a second parquet copy) register
    * independently and resolve by the relation a query actually scans. */
  def registerMv(corpusSets: DataFrame, idCol: String, vecCol: String,
                 entry: MvEntry): Unit =
    put((idCol, vecCol, "set", corpusFingerprint(corpusSets), "set"), entry)

  /** The beam queue bounds (minPq, maxPq) of a routed multivector search
    * at `budget` over a corpus of `c`-vector sets — one derivation for the
    * distributed batch and the driver-side one-set search. */
  private def mvQueueBounds(budget: Int, c: Int): (Int, Int) =
    (math.max(10, budget / math.max(c, 1)), math.max(200, budget * 2))

  /** Both multivector batch generators: ONE adaptive multivector search
    * job for every query set in the batch — the relation route's whole
    * point. `search(subVectors, minPq, maxPq, numPartitions)` runs the
    * engine's searchMultiDf at `budget`, on no more partitions than there
    * are query sets; candidate sets = hit sub-vector ids / c. */
  private def mvBatch(s: SparkSession, qsets: Seq[(Long, Array[Array[Float]])],
                      c: Int, budget: Int)(
      search: (DataFrame, Int, Int, Int) => DataFrame): DataFrame = {
    import s.implicits._
    val qdf = qsets.flatMap { case (qid, vs) =>
      vs.zipWithIndex.map { case (v, i) => (qid, i, v.toSeq) }
    }.toDF("qset_id", "q_sub", "q_vec")
    val (minPq, maxPq) = mvQueueBounds(budget, c)
    search(qdf, minPq, maxPq,
        math.max(1, math.min(qsets.size, s.sparkContext.defaultParallelism)))
      .select(col("qset_id"), expr(s"d_id div $c").as("dset_id"))
      .distinct()
  }

  /** [[registerMv]] with the G9 broadcast-RoarGraph generator: the
    * adaptive multivector beam search over the SUB-vector graph (the
    * g9_multivector_search kernel), candidate sets = hit sub-vector
    * ids / c. Several query sets search in one distributed job; a
    * statement with ONE query set searches on the driver
    * ([[MvEntry.driverCandidates]]) off the broadcast values the
    * driver already holds, with the same kernel call
    * (`BeamSearch.searchSet`) and queue bounds, and then runs one Spark
    * job: the rescoring scan. */
  def registerMvRoar(corpusSets: org.apache.spark.sql.DataFrame,
                     idCol: String, vecCol: String,
                     graphB: Broadcast[CsrGraph],
                     vecsB: Broadcast[VectorStore],
                     metricName: String, c: Int, dim: Int,
                     budget: Int = 120, name: String = "mv_roar"): Unit = {
    val (minPq, maxPq) = mvQueueBounds(budget, c)
    registerMv(corpusSets, idCol, vecCol, MvEntry(
      name, corpusSets, idCol, vecCol, dim,
      (s, qsets, _) => mvBatch(s, qsets, c, budget)((qdf, minPq, maxPq, parts) =>
        BeamSearch.searchMultiDf(s, qdf, graphB, vecsB, metricName,
          minPq = minPq, maxPq = maxPq, budget = budget, adaptive = true,
          numPartitions = parts)),
      driverCandidates = qs =>
        BeamSearch.searchSet(graphB.value, vecsB.value, Metrics(metricName),
            qs, minPq, maxPq, budget, adaptive = true)
          .flatMap(_._1).map(id => (id / c).toLong).distinct))
  }

  /** [[registerMv]] with the persisted SHARDED graph tier as the
    * generator — the SQL flagship past the broadcast ceiling: the same
    * adaptive multivector search runs per shard through the
    * resident-LRU lifecycle (delta shards included), and the chamfer
    * rescore stays the route's own. One registration call swaps the
    * flagship's physical engine with zero SQL change. Growth-aware
    * like [[registerSharded]]: post-registration deltas are discovered
    * per query, the adaptive budget scales with per-shard growth
    * (`spark.graft.ann.budget.*`), and a non-null `refresh` lets the
    * set-level rescore follow a grow-in-place corpus. */
  def registerMvSharded(corpusSets: org.apache.spark.sql.DataFrame,
                        idCol: String, vecCol: String,
                        ref: graft.index.ShardedIndexRef, c: Int, dim: Int,
                        budget: Int = 120,
                        name: String = "mv_sharded",
                        refresh: () => org.apache.spark.sql.DataFrame = null): Unit = {
    import graft.index.{BudgetPolicy, ShardedIndex}
    // same growth posture as registerSharded: deltas ingested after
    // registration are discovered on disk per query, and the adaptive
    // budget scales with per-shard growth — the flagship's set-level
    // recall survives a month of delta-ingest without re-registration
    val regPerShard = ShardedIndex.totalRowsCached(corpusSets.sparkSession,
      ref).toDouble / math.max(ref.nShards + ref.nDeltas, 1)
    val warnNoRefresh =
      noRefreshWarning("mv_sharded", idCol, vecCol, "registerMvSharded")
    def batch(s: SparkSession, qsets: Seq[(Long, Array[Array[Float]])],
              k: Int): DataFrame = {
      val live = ShardedIndex.discover(s, ref)
      if (live.nDeltas > ref.nDeltas && refresh == null)
        warnNoRefresh(live.nDeltas - ref.nDeltas)
      val perShard = ShardedIndex.totalRowsCached(s, live).toDouble /
        math.max(live.nShards + live.nDeltas, 1)
      val effBudget = BudgetPolicy.scaledL(s, budget, regPerShard, perShard)
      mvBatch(s, qsets, c, effBudget)((qdf, minPq, maxPq, parts) =>
        ShardedIndex.searchMultiDf(s, qdf, live, minPq = minPq,
          maxPq = maxPq, budget = effBudget, adaptive = true,
          numPartitions = parts))
    }
    registerMv(corpusSets, idCol, vecCol, MvEntry(
      name, corpusSets, idCol, vecCol, dim, batch, dataRefresh = refresh))
  }

  /** The multivector tier registered over the relation `child` scans. */
  def lookupMvFor(idCol: String, vecCol: String,
                  child: LogicalPlan): Option[MvEntry] =
    scanFingerprint(child)
      .flatMap(lookupSlot(idCol, vecCol, "set", _, "set"))
      .collect { case e: MvEntry => e }
}

/** Opaque carrier for a `LogicalPlan` fragment inside another node's
  * fields: NOT a `TreeNode`, so Catalyst's child traversal and
  * expression transforms never descend into it — the fragment rides
  * along verbatim from the optimizer rule that captured it to the
  * physical operator that re-executes it (via
  * `GraftColumnBridge.ofRows`). `toString` shows only the tag so plan
  * strings stay readable. */
case class OpaqueSubplan(plan: LogicalPlan, tag: String) {
  override def toString: String = tag
}

/** Logical stand-in for every routed top-k similarity search. All SQL
  * spellings run one pipeline — candidate tier → optional escalating
  * filter → exact rescore with the query's own expression → per-query
  * top-k — and the node is described by three things:
  *
  *  - the QUERY side, always `child`: any subplan for the rank-window
  *    spelling over Join(query relation, corpus) — one statement for ANY
  *    number of queries, the reference harness's real multiplicity (10k
  *    queries per sweep, `tests/test_search_roargraph.cpp`,
  *    `tests/test_search_multivector_rerank.cpp:276`) — or a one-row
  *    `LocalRelation` holding a query literal. `queryId`/`queryVec` pin
  *    its id and vector (or vector-set) columns by exprId; as
  *    Expression-typed fields they surface in this node's `references`,
  *    so no later rule can prune them out from under the exec.
  *  - the `scorer`: "dot" / "cos" (graft_vec_dot / graft_vec_cosine
  *    DESC), "l2" (graft_vec_l2sq ASC), "chamfer" / "maxsim" (the set
  *    scorers, DESC).
  *  - an optional carried `filter`: the whole `Filter(pred, scan)`
  *    subtree of a literal query with a WHERE clause — the filtered-ANN
  *    shape every metadata-constrained retrieval runs (lang = 'en',
  *    source = ..., id ranges), re-executed by [[AnnTopKExec]].
  *
  * `tier` is the physical generator the rule chose ("graph" = the
  * broadcast RoarGraph; otherwise a registered candidate or multivector
  * tier's name). `fingerprint` pins the corpus relation the rule proved
  * at plan time; it is part of the registry key the exec resolves, so a
  * registration of the same (idCol, vecCol, metric) over a DIFFERENT
  * relation between planning and execution never answers this plan.
  * `output` is the corpus id and the score of a literal query, in the
  * user's projection order, or (query id, corpus id, score) of a
  * relation query. */
case class AnnTopKNode(output: Seq[Attribute], child: LogicalPlan,
                       queryId: Attribute, queryVec: Attribute,
                       idName: String, vecName: String, k: Int,
                       scorer: String, tier: String, fingerprint: String,
                       filter: Option[OpaqueSubplan] = None)
    extends UnaryNode {
  override protected def withNewChildInternal(c: LogicalPlan): AnnTopKNode =
    copy(child = c)

  /** A literal query's id is not part of the answer. */
  def literal: Boolean = !output.exists(_.exprId == queryId.exprId)
  def setScorer: Boolean = AnnTopKNode.isSetScorer(scorer)

  /** The SQL shape this node answers — the physical node's name. */
  def shape: String =
    if (!literal) { if (setScorer) "MvJoinTopK" else "SvJoinTopK" }
    else if (filter.isDefined) "AnnFilteredTopK"
    else "AnnSearch"

  override def maxRows: Option[Long] = child.maxRows.map(_ * k.toLong)
  // a literal answer is at most k (id, score) rows, whatever its child
  override def stats: Statistics =
    if (literal) Statistics(sizeInBytes = k.toLong * 16) else super.stats
  // the corpus id and the score are PRODUCED here (their source subtree
  // was replaced); without this the node prints with the missing-input
  // `!` marker
  override def producedAttributes: AttributeSet =
    AttributeSet(output.filterNot(child.outputSet.contains))
}

object AnnTopKNode {
  def isSetScorer(scorer: String): Boolean =
    scorer == "chamfer" || scorer == "maxsim"
}

/** Optimizer rule: exhaustive sort-limit over a graft scorer → ANN. */
object AnnTopKRule extends Rule[LogicalPlan] {

  /** NULL-bearing literals (a null array, or `array(1.0F, NULL, …)`)
    * must BAIL OUT to the exhaustive plan: the null-intolerant
    * expressions evaluate them to NULL scores (ordered last), while
    * `ArrayData.toFloatArray` would silently read the null slot as
    * 0.0f — a routed plan would then answer a DIFFERENT question than
    * the exhaustive one. */
  private def noNulls(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** A routed answer places NULL scores where the direction's default
    * null ordering does (first ascending, last descending); an explicit
    * `NULLS FIRST`/`NULLS LAST` against that default stays exhaustive. */
  private def defaultNulls(o: SortOrder): Boolean =
    o.nullOrdering == o.direction.defaultNullOrdering

  /** Float query literals only: an `array<double>` literal is scored in
    * double by the exhaustive expressions, which the float index tiers
    * cannot reproduce, so it stays exhaustive. */
  private def asFloatArray(l: Literal): Option[Array[Float]] =
    if (l.value == null) None
    else l.dataType match {
      case ArrayType(FloatType, _) =>
        Some(l.value.asInstanceOf[ArrayData]).filter(noNulls)
          .map(_.toFloatArray())
      case _ => None
    }

  private def asFloatMatrix(l: Literal): Option[Array[Array[Float]]] =
    if (l.value == null) None
    else l.dataType match {
      case ArrayType(et @ ArrayType(FloatType, _), _) =>
        Some(l.value.asInstanceOf[ArrayData]).filter(noNulls)
          .map(_.toArray[ArrayData](et))
          .filter(_.forall(noNulls))
          .map(_.map(_.toFloatArray()))
      case _ => None
    }

  /** The routed scorer an ORDER BY expression spells, with its two
    * operands. Only nearest-first directions route — dot / cosine / set
    * scorers DESC (similarity) and l2² ASC (nearest); dot or cosine ASC
    * and l2 DESC are farthest-point queries no ANN index answers, left
    * exhaustive by this direction⇄expression pairing. */
  private def scorerOf(e: Expression, dir: SortDirection)
      : Option[(String, Expression, Expression)] = (e, dir) match {
    case (VecDotExpr(x, y), Descending) => Some(("dot", x, y))
    case (VecCosineExpr(x, y), Descending) => Some(("cos", x, y))
    case (VecL2SqExpr(x, y), Ascending) => Some(("l2", x, y))
    case (VecChamferExpr(x, y), Descending) => Some(("chamfer", x, y))
    case (VecMaxSimExpr(x, y), Descending) => Some(("maxsim", x, y))
    case _ => None
  }

  /** A scorer of a corpus column against a query LITERAL: (scorer,
    * corpus vector column, query vectors — one for a single-vector
    * scorer). The set scorers are asymmetric, so their query set must be
    * the FIRST argument; single-vector scorers take the literal on
    * either side. */
  private def literalQueryOf(e: Expression, dir: SortDirection)
      : Option[(String, AttributeReference, Array[Array[Float]])] =
    scorerOf(e, dir).flatMap {
      case (s, l: Literal, a: AttributeReference) if AnnTopKNode.isSetScorer(s) =>
        asFloatMatrix(l).filter(_.nonEmpty).map(m => (s, a, m))
      case (s, _, _) if AnnTopKNode.isSetScorer(s) => None
      case (s, a: AttributeReference, l: Literal) =>
        asFloatArray(l).map(v => (s, a, Array(v)))
      case (s, l: Literal, a: AttributeReference) =>
        asFloatArray(l).map(v => (s, a, Array(v)))
      case _ => None
    }

  /** Tier chooser of the single-vector shapes: the graph tier first
    * (broadcast, one task); otherwise the cheapest registered candidate
    * tier (see [[AnnIndexRegistry.registerTier]]).
    * `spark.graft.ann.tier` forces a tier by name ("graph" = the
    * broadcast graph; a name with no registration routes nowhere —
    * exhaustive plan, failing safe).
    *
    * BROADCAST CEILING: the graph tier holds the whole corpus
    * driver/executor-resident (VectorStore broadcast — the one
    * documented scale ceiling, SURVEY §7.3). When the corpus relation's
    * estimated bytes (parquet stats via plan statistics) exceed
    * `spark.graft.ann.broadcastMaxBytes` (default 4g ≈ the reference's
    * own 10M×200d in-RAM scale), the chooser SKIPS the graph entry and
    * falls to the registered candidate tiers (sharded / IVF-PQ / SQ8) —
    * the scale path — automatically. An explicit
    * `spark.graft.ann.tier=graph` force overrides the ceiling: forcing a
    * tier by name is the operator's assertion that they know the memory
    * cost.
    *
    * A literal query's dimension gates every tier here: the exhaustive
    * plan's expression throws on a mismatch, and the index path must not
    * instead return truncated scores — bailing out makes both routes
    * fail identically. A query RELATION's vectors exist only at runtime
    * (`queryDim` None): the exec checks them and fails loudly, exactly
    * like the exhaustive expression would; a relation instead needs a
    * tier that registered a BATCH generator. */
  private def chooseTier(idName: String, vecName: String, kind: String,
                         corpus: LogicalPlan, fp: String,
                         queryDim: Option[Int]): Option[String] = {
    val pref = SQLConf.get.getConfString("spark.graft.ann.tier", "").trim
    val ceiling = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(SQLConf.get.getConfString(
        "spark.graft.ann.broadcastMaxBytes", "4g"))
    val graphEntry = AnnIndexRegistry
      .lookupSlot(idName, vecName, kind, fp, "graph")
      .collect { case e: AnnIndexRegistry.Entry
        if queryDim.forall(_ == e.rawVecsB.value.dim) => e }
    val graph = graphEntry
      .filter(_ => corpus.stats.sizeInBytes <= BigInt(ceiling))
      .map(_ => "graph")
    def tiers(p: Option[String]) = AnnIndexRegistry
      .lookupTierFor(idName, vecName, kind, fp, p)
      .filter(t => queryDim.fold(t.candidatesBatch != null)(_ == t.dim))
      .map(_.name)
    if (pref == "graph") graphEntry.map(_ => "graph")
    else if (pref.nonEmpty) tiers(Some(pref))
    else graph.orElse(tiers(None))
  }

  /** The query-RELATION form — ONE statement for any number of queries:
    *
    * {{{
    * SELECT qset_id, dset_id, score FROM (
    *   SELECT q.qset_id, d.dset_id,
    *          graft_chamfer_score(q.vec_set, d.vec_set) AS score,
    *          row_number() OVER (PARTITION BY q.qset_id
    *            ORDER BY graft_chamfer_score(q.vec_set, d.vec_set) DESC,
    *                     d.dset_id ASC) AS rnk
    *   FROM query_sets q CROSS JOIN graft_mv_sets d) t
    * WHERE rnk <= k
    * }}}
    *
    * (or a single-vector scorer over a registered vector corpus).
    * Matched against the POST-optimizer shape (this rule runs in the
    * user batch): Project over Filter(rnk ≤ k) over Window(row_number
    * partitioned by the query-side id, ordered by the scorer
    * [, corpus-id ASC]) over [WindowGroupLimit] over Project(score/order
    * aliases) over an unconditioned Inner/Cross Join whose CORPUS side
    * fingerprints to a registered tier. The query side is arbitrary and
    * survives as the rewritten node's child. The outer projection may
    * compute anything over the three routed columns (round, tags,
    * renames); referencing anything else (rnk, raw vectors) bails out to
    * the exhaustive plan. */
  private def rewriteJoin(p: Project, outerList: Seq[NamedExpression],
                          cond: Expression, w: Window): Option[LogicalPlan] = {
    val header = w.windowExpressions match {
      case Seq(al @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(Seq(part: AttributeReference), os, _)), _)) =>
        Some((al, part, os))
      case _ => None
    }
    for {
      (rnkAlias, qsetAttr, orderSpec) <- header
      k <- cond match {
        case LessThanOrEqual(a: AttributeReference,
            Literal(k: Int, IntegerType)) if a.exprId == rnkAlias.exprId =>
          Some(k)
        case LessThan(a: AttributeReference, Literal(k: Int, IntegerType))
            if a.exprId == rnkAlias.exprId => Some(k - 1)
        case _ => None
      }
      if k > 0
      // InferWindowGroupLimit may already have inserted its per-group
      // truncation below the Window — transparent either way
      inner = w.child match {
        case wgl: WindowGroupLimit => wgl.child
        case c => c
      }
      (plist, join) <- inner match {
        case Project(pl, j: Join)
            if (j.joinType == Cross || j.joinType == Inner) &&
              j.condition.isEmpty => Some((pl, j))
        case _ => None
      }
      if orderSpec.forall(defaultNulls)
      w0Pair <- orderSpec.headOption.collect {
        case SortOrder(a: AttributeReference, d @ (Descending | Ascending),
            _, _) => (a, d)
      }
      (w0Attr, w0Dir) = w0Pair
      tieOpt <- orderSpec.drop(1) match {
        case Seq() => Some(None)
        case Seq(SortOrder(a: AttributeReference, Ascending, _, _)) =>
          Some(Some(a))
        case _ => None
      }
      w0Child <- plist.collectFirst {
        case a @ Alias(child, _) if a.exprId == w0Attr.exprId => child
      }
      (scorer, qVec, dVec) <- scorerOf(w0Child, w0Dir).collect {
        case (s, qv: AttributeReference, dv: AttributeReference) => (s, qv, dv)
      }
      sides <-
        if (join.left.outputSet.contains(qVec) &&
            join.right.outputSet.contains(dVec))
          Some((join.left, join.right))
        else if (join.right.outputSet.contains(qVec) &&
            join.left.outputSet.contains(dVec))
          Some((join.right, join.left))
        else None
      (qSide, dSide) = sides
      if qSide.outputSet.contains(qsetAttr) && qsetAttr.dataType == LongType
      dsetAttr <- plist.collect {
        case a: AttributeReference
            if dSide.outputSet.contains(a) && a.dataType == LongType => a
      } match {
        case Seq(one) => Some(one)
        case many => tieOpt.flatMap(t => many.find(_.exprId == t.exprId))
      }
      if tieOpt.forall(_.exprId == dsetAttr.exprId)
      scoreAlias <- plist.collectFirst {
        case a @ Alias(child, _)
            if a.exprId != w0Attr.exprId && child.semanticEquals(w0Child) => a
      }
      if outerList.forall(_.references.subsetOf(AttributeSet(
        Seq(qsetAttr, dsetAttr, scoreAlias.toAttribute))))
      fp <- AnnIndexRegistry.scanFingerprint(dSide)
      tier <-
        if (AnnTopKNode.isSetScorer(scorer))
          AnnIndexRegistry.lookupMvFor(dsetAttr.name, dVec.name, dSide)
            .map(_.name)
        else chooseTier(dsetAttr.name, dVec.name, scorer, dSide, fp, None)
    } yield p.copy(child = AnnTopKNode(
      Seq(qsetAttr, dsetAttr, scoreAlias.toAttribute), qSide, qsetAttr,
      qVec, dsetAttr.name, dVec.name, k, scorer, tier, fp))
  }

  /** The literal form: `SELECT id, <scorer>(vec, <query literal>) AS
    * score FROM corpus [WHERE pred] ORDER BY score LIMIT k`. The literal
    * becomes the node's query side as a one-row `LocalRelation` (read by
    * `executeTake` without a Spark job). The identity check proves the
    * Project sits directly on the REGISTERED relation — a
    * Sample/Join/expression-Project in between, or a different table
    * that happens to share column names, bails out to the exhaustive
    * plan rather than silently searching the whole registered corpus.
    *
    * FILTERED shape: a deterministic predicate between the projection
    * and the scan routes too, for single-vector scorers (post-filter
    * with escalation). The whole Filter subtree is carried and
    * re-executed, so the predicate may reference ANY corpus column
    * (including the vector itself); nondeterministic predicates bail out
    * (they cannot be re-evaluated in a second scan without changing the
    * answer). */
  private def rewriteLiteral(k: Int, sortKey: AttributeReference,
                             dir: SortDirection,
                             projList: Seq[NamedExpression],
                             projChild: LogicalPlan): Option[LogicalPlan] = {
    val (filterCond, scanChild) = projChild match {
      case Filter(c, fc)
          if c.deterministic && SQLConf.get.getConfString(
            "spark.graft.ann.filtered", "true").toBoolean =>
        (Some(c), fc)
      case _ => (None, projChild)
    }
    for {
      scoreExpr <- projList.collectFirst {
        case a @ Alias(child, _) if a.exprId == sortKey.exprId => child
      }
      (scorer, vecAttr, query) <- literalQueryOf(scoreExpr, dir)
      idAttr <- projList.collectFirst {
        case a: AttributeReference if a.exprId != sortKey.exprId => a
      }
      if idAttr.dataType == LongType
      // the set route has no filtered variant
      if filterCond.isEmpty || !AnnTopKNode.isSetScorer(scorer)
      fp <- AnnIndexRegistry.scanFingerprint(scanChild)
      tier <-
        if (AnnTopKNode.isSetScorer(scorer))
          AnnIndexRegistry.lookupMvFor(idAttr.name, vecAttr.name, scanChild)
            .filter(e => query.forall(_.length == e.dim)).map(_.name)
        else chooseTier(idAttr.name, vecAttr.name, scorer, scanChild, fp,
          Some(query.head.length))
    } yield {
      val (qType, qData) =
        if (AnnTopKNode.isSetScorer(scorer))
          (ArrayType(ArrayType(FloatType, false), false),
            new GenericArrayData(query.map(ArrayData.toArrayData).toSeq))
        else (ArrayType(FloatType, false), ArrayData.toArrayData(query.head))
      val qId = AttributeReference("__graft_qid", LongType, nullable = false)()
      val qVec = AttributeReference("__graft_query", qType, nullable = false)()
      AnnTopKNode(projList.map(_.toAttribute),
        LocalRelation(Seq(qId, qVec), Seq(InternalRow(0L, qData))), qId, qVec,
        idAttr.name, vecAttr.name, k, scorer, tier, fp,
        filterCond.map(c =>
          OpaqueSubplan(projChild, "pred=" + c.toString.take(120))))
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!SQLConf.get.getConfString("spark.graft.ann.rewrite", "false").toBoolean) {
      return plan
    }
    plan.transformDown {
      case p @ Project(outerList, Filter(cond, w: Window)) =>
        rewriteJoin(p, outerList, cond, w).getOrElse(p)
      // A Project pushed between the limit and the sort (Catalyst's
      // project-through-limit — e.g. a user wrapping the routed query to
      // stamp a tag column or re-round the score) is TRANSPARENT: the
      // rule matches through it and re-wraps it over the search node, so
      // the common "SELECT extras FROM (<routed top-k>)" shape still
      // routes.
      case limit @ GlobalLimit(Literal(k: Int, _), LocalLimit(_, body)) =>
        val unwrapped = body match {
          case s: Sort => Some((None: Option[Project], s))
          case p @ Project(_, s: Sort) => Some((Some(p), s))
          case _ => None
        }
        unwrapped.flatMap {
          case (wrapper,
              Sort(Seq(o @ SortOrder(sortKey: AttributeReference, dir, _, _)),
                true, Project(projList, projChild), _))
              if projList.length == 2 && defaultNulls(o) =>
            rewriteLiteral(k, sortKey, dir, projList, projChild)
              .map(n => wrapper.map(w => w.copy(child = n): LogicalPlan)
                .getOrElse(n))
          case _ => None
        }.getOrElse(limit)
    }
  }
}

/** Physical planning for [[AnnTopKNode]]. */
object AnnStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AnnTopKNode => AnnTopKExec(n, planLater(n.child)) :: Nil
    case _ => Nil
  }
}

object AnnRewrite {
  /** Make `s` able to route: the graft SQL functions plus [[AnnTopKRule]]
    * and [[AnnStrategy]] (installed once per session). Routing itself
    * stays opt-in via `spark.graft.ann.rewrite`. */
  def install(s: SparkSession): Unit = {
    graft.functions.GraftFunctions.register(s)
    val cls = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cls.experimental.extraOptimizations.contains(AnnTopKRule)) {
      cls.experimental.extraOptimizations =
        cls.experimental.extraOptimizations :+ AnnTopKRule
      cls.experimental.extraStrategies =
        cls.experimental.extraStrategies :+ AnnStrategy
    }
  }
}

/** Physical side of [[AnnTopKNode]], one pipeline for every routed shape
  * (the plan shows the shape — `AnnSearch`, `AnnFilteredTopK`,
  * `SvJoinTopK` or `MvJoinTopK` — as the node name):
  *
  *  1. COLLECT the planned query side — the bounded side of a top-k
  *     search by definition, the same posture as a broadcast exchange
  *     materializing its child. "Bounded" is enforced, not assumed: a
  *     runaway subplan would otherwise OOM the driver, so
  *     `spark.graft.ann.relation.maxQueries` (default 100000) caps it and
  *     `executeTake(cap+1)` stops reading early. NULL queries or
  *     components, duplicate query ids and dimension mismatches fail
  *     loudly: a candidate route cannot reproduce what the exhaustive
  *     plan does with them.
  *  2. Re-resolve the planned tier and prove it still serves the planned
  *     corpus relation.
  *  3. Generate candidates. The graph tier searches its broadcast graph
  *     inside the scoring tasks. A candidate or multivector tier runs its
  *     generator (for a relation, ONE batched job) and its ids are
  *     collected per query, bounded by fetch × queries: the one place
  *     candidates materialize, timed as the tier's measured coarse cost.
  *     ONE query set on a tier with a driver-side search is searched
  *     here, on the driver, with no job.
  *  4. Rescore EXACTLY with the query's own expression: off the broadcast
  *     RAW store on the graph tier, else in ONE pass over the live corpus
  *     — (id, vec) only, IN-filtered to the candidate ids (Parquet
  *     pushdown, up to `IsinMax`), each (query, candidate) pair scored by
  *     the scorer's Catalyst expression over a `JoinedRow`. Scores equal
  *     the exhaustive plan's bit-for-bit; only the candidate SET is
  *     approximate.
  *  5. Keep the top k per query — the matched ORDER BY, ties on the
  *     corpus id ASC — in bounded heaps merged in one partition, like
  *     `TakeOrderedAndProjectExec`. That RDD is this node's output: the
  *     statement's own collect runs the scan (no inner query past the
  *     corpus source, no driver collect, no emit job).
  *
  * NULL-scored corpus rows are dropped by the relation and filtered
  * shapes: the exhaustive sort orders them last, so they only matter
  * when non-null rows run out, which a candidate route cannot reproduce
  * anyway. The literal shapes keep them where the sort direction puts
  * them: last under DESC, first under ASC (l2).
  *
  * FILTERED shape — escalating post-filter. Before any search, a bounded
  * probe (`limit(preFilterMax+1).count()` on the pushed-down filtered
  * scan) detects SELECTIVE predicates: at most
  * `spark.graft.ann.filtered.preFilterMax` surviving rows (default 2k; 0
  * disables) short-circuits to scoring them ALL — exact by construction
  * and cheaper than beam + escalation, the classic
  * brute-force-when-selective strategy. Otherwise each round fetches a
  * candidate stream of target size `c` from the routed tier (graph beam
  * with l=c, or the registered generator; initial c =
  * `spark.graft.ann.filtered.overfetch`·k, default 8), runs step 4's
  * pass over the carried `Filter(pred, scan)` subplan constrained to
  * those ids, COLLECTED (the one shape that must count its survivors),
  * and answers when k survive. Otherwise `c` quadruples and the round
  * repeats; when the tier SATURATES (the beam exhausted the
  * reachable set, or the generator returned fewer than asked) the answer
  * is exact over everything the tier can reach and escalation stops.
  * Tier REACHABILITY is not corpus coverage — a generator tier (IVF-PQ,
  * SQ8) is bounded by its probe parameters and a graph beam by
  * connectivity — so two backstops keep the route honest: (1)
  * `spark.graft.ann.filtered.exact=true` (the certificate mode: the
  * answer then equals the exhaustive plan's, which knn_sql_filtered
  * hash-proves) jumps straight to the saturating fetch on the graph
  * tier, and over a NON-graph tier skips the generator entirely and
  * scores the full filtered scan (a generator's saturating fetch proves
  * nothing about unprobed cells); (2) when escalation ends with fewer
  * than k survivors, the exec falls back to that same exhaustive
  * filtered scan (metric `numExhaustiveFallback`) instead of silently
  * under-returning rows the exhaustive plan would have found. Cost model
  * at scale: each round is one column-pruned, predicate+id-pushed scan
  * plus O(c) exact distances — the predicate's selectivity sets how many
  * rounds run (selective predicates escalate toward the saturating
  * fetch, which equals the exhaustive plan's cost; permissive predicates
  * answer in round one at a tiny fraction of it). */
case class AnnTopKExec(node: AnnTopKNode, child: SparkPlan)
    extends UnaryExecNode {
  import AnnTopKExec._

  override def nodeName: String = node.shape
  override def output: Seq[Attribute] = node.output
  override protected def withNewChildInternal(c: SparkPlan): AnnTopKExec =
    copy(child = c)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numQueries" -> SQLMetrics.createMetric(sparkContext,
      "queries collected"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext,
      "candidates searched or rescored"),
    "numDriverSearches" -> SQLMetrics.createMetric(sparkContext,
      "query sets searched on the driver"),
    "numSurvivors" -> SQLMetrics.createMetric(sparkContext,
      "rows in the answer"),
    "numRounds" -> SQLMetrics.createMetric(sparkContext,
      "escalation rounds (0 = pre-filter short-circuit)"),
    "numPreFilterRows" -> SQLMetrics.createMetric(sparkContext,
      "filtered rows scored exhaustively by the short-circuit"),
    "numExhaustiveFallback" -> SQLMetrics.createMetric(sparkContext,
      "1 when <k survivors forced the exhaustive filtered fallback"))

  override protected def doExecute(): RDD[InternalRow] = {
    val queries = collectQueries()
    metrics("numQueries").add(queries.size)
    val rows =
      if (queries.isEmpty) sparkContext.emptyRDD[ScoredRow]
      else {
        val tier = resolveTier()
        for ((qid, vs) <- queries; v <- vs)
          require(v.length == tier.dim,
            s"query $qid dim ${v.length} != corpus dim ${tier.dim}")
        (tier, node.filter) match {
          case (_, Some(f)) => sparkContext.parallelize(
            filteredTopK(tier, queries.head, f.plan).toIndexedSeq, 1)
          case (GraphTier(e), None) => graphSearched(e, queries)
          case (g: Generator, None) => rescored(g.live(), g.idCol, g.vecCol,
            queries, candidateSets(g, queries, node.k))
        }
      }
    emit(rows, node.output, node.queryId.exprId, metrics("numSurvivors"))
  }

  /** Step 1: the collected, validated query side — (id, vectors); a
    * single-vector query is a one-vector set. */
  private def collectQueries(): Seq[(Long, Array[Array[Float]])] = {
    val cap = SQLConf.get.getConfString(
      "spark.graft.ann.relation.maxQueries", "100000").toInt
    val taken = child.executeTake(cap + 1)
    if (taken.length > cap)
      sys.error(s"query relation exceeds spark.graft.ann.relation" +
        s".maxQueries=$cap — the routed plan collects the query side; " +
        "raise the cap or run with spark.graft.ann.rewrite=false")
    val qIdx = child.output.indexWhere(_.exprId == node.queryId.exprId)
    val vIdx = child.output.indexWhere(_.exprId == node.queryVec.exprId)
    require(qIdx >= 0 && vIdx >= 0,
      "query-side columns vanished from the planned child")
    def floats(a: ArrayData, what: String): Array[Float] = {
      var j = 0
      while (j < a.numElements()) {
        require(!a.isNullAt(j), s"NULL component in $what")
        j += 1
      }
      a.toFloatArray()
    }
    val queries = taken.toSeq.map { r =>
      require(!r.isNullAt(qIdx) && !r.isNullAt(vIdx),
        s"NULL ${if (node.setScorer) "query set" else "query vector"}: " +
          "the routed plan cannot reproduce NULL-score ordering — run " +
          "with spark.graft.ann.rewrite=false")
      val arr = r.getArray(vIdx)
      val vecs =
        if (!node.setScorer) Array(floats(arr, "query vector"))
        else Array.tabulate(arr.numElements()) { i =>
          require(!arr.isNullAt(i), "NULL sub-vector in query set")
          floats(arr.getArray(i), "query sub-vector")
        }
      (r.getLong(qIdx), vecs)
    }
    // candidates are keyed by query id: duplicate ids would silently
    // collapse or merge — fail loudly instead (the exhaustive plan ranks
    // duplicate rows independently, which a keyed candidate route cannot
    // reproduce)
    require(queries.map(_._1).distinct.lengthCompare(queries.length) == 0,
      s"duplicate ${node.queryId.name} in the query relation: the routed " +
        "plan keys candidates by query id — run with " +
        "spark.graft.ann.rewrite=false")
    queries
  }

  /** Step 2: the planned tier, re-resolved from the registry. The
    * planned fingerprint is part of the key, so the lookup itself proves
    * the registration still serves the planned corpus relation. */
  private def resolveTier(): Tier =
    AnnIndexRegistry.lookupSlot(node.idName, node.vecName, node.scorer,
        node.fingerprint, if (node.setScorer) "set" else node.tier) match {
      case Some(e: AnnIndexRegistry.Entry) => GraphTier(e)
      case Some(e: AnnIndexRegistry.CandidateTierEntry) => Generator.of(e)
      case Some(e: AnnIndexRegistry.MvEntry) => Generator.of(e)
      case None => sys.error(s"tier '${node.tier}' for (${node.idName}, " +
        s"${node.vecName}) over the planned relation vanished")
    }

  /** Graph tier: beam search and exact rescore off the broadcast graph
    * and RAW store inside the tasks — ONE task for a literal query, one
    * per slice of a query relation, each query whole in one task so its
    * heap is final there. `spark.graft.ann.relation.exact=true`
    * saturates a relation's beam (l = 2n — the g9_sql_saturated regime),
    * making the answer exact end-to-end: the certificate mode
    * g8_sql_saturated hash-proves. */
  private def graphSearched(e: AnnIndexRegistry.Entry,
                            queries: Seq[(Long, Array[Array[Float]])])
      : RDD[ScoredRow] = {
    val n = e.graphB.value.n
    val l =
      if (node.literal) math.max(e.searchL, 4 * node.k)
      else if (AnnIndexRegistry.relationExact(SparkSession.active)) 2 * n
      else math.min(math.max(e.searchL, 4 * node.k), 2 * n)
    val (k, kind) = (node.k, node.scorer)
    val candidates = metrics("numCandidates")
    sparkContext.parallelize(queries.map { case (id, vs) => (id, vs.head) },
        math.min(queries.size, sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val raw = e.rawVecsB.value
        val visited = new VisitedSet(n)
        val top = new TopK(k, kind == "l2")
        it.foreach { case (qid, qv) =>
          val queue = beam(e, qv, l, visited)
          candidates.add(queue.size)
          for (i <- 0 until queue.size) top.add((qid, queue.id(i).toLong,
            Double.box(exactScore(kind, raw, queue.id(i), qv))))
        }
        top.rows
      }
  }

  /** Step 3 on a candidate or multivector tier: each query's distinct
    * candidate ids, collected. ONE query on a tier with a driver-side
    * search is searched here, in the driver's thread. A candidate tier's
    * wall seconds per query for this are its measured coarse cost, never
    * recorded in the saturating certificate modes. */
  private def candidateSets(g: Generator,
                            queries: Seq[(Long, Array[Array[Float]])],
                            n: Int): Map[Long, Array[Long]] = {
    val spark = SparkSession.active
    val (sets, secs) = graft.Harness.timed {
      if (g.driverSearch != null && queries.lengthCompare(1) == 0) {
        metrics("numDriverSearches").add(1)
        Map(queries.head._1 -> g.driverSearch(queries.head._2))
      } else if (node.literal)
        Map(queries.head._1 -> g.one(spark, queries.head._2, n))
      else g.batch(spark, queries, n).groupMap(_._1)(_._2)
    }
    if (g.timedAs != null && !AnnIndexRegistry.saturating(spark))
      AnnIndexRegistry.recordMeasuredCost(node.idName, node.vecName,
        g.timedAs._1, node.fingerprint, g.timedAs._2, secs / queries.size)
    sets.map { case (q, ids) => q -> ids.distinct }
  }

  /** Steps 4 and 5 over a corpus `source`: its (`idCol`, `vecCol`) rows
    * that are a candidate of some query (`sets`: query id → candidate
    * ids; null = every row for every query) scored and kept in the per-
    * query heaps, merged in one partition. */
  private def rescored(source: DataFrame, idCol: String, vecCol: String,
                       queries: Seq[(Long, Array[Array[Float]])],
                       sets: Map[Long, Array[Long]]): RDD[ScoredRow] = {
    val byId: Map[Long, Array[Int]] =
      if (sets == null) null
      else queries.indices
        .flatMap(i => sets.getOrElse(queries(i)._1, Array.empty[Long]).map(_ -> i))
        .groupMap(_._1)(_._2).map { case (id, qs) => id -> qs.toArray }
    if (byId != null)
      metrics("numCandidates").add(byId.valuesIterator.map(_.length).sum)
    val constrained =
      if (byId != null && byId.size <= IsinMax)
        source.where(col(idCol).isInCollection(byId.keys))
      else source
    val pruned = constrained.select(col(idCol).cast(LongType), col(vecCol))
    val qType =
      if (node.setScorer) ArrayType(ArrayType(FloatType, false), false)
      else ArrayType(FloatType, false)
    scoredPass(pruned.queryExecution.toRdd,
      scorer(node.scorer, BoundReference(0, qType, nullable = false),
        BoundReference(2, pruned.schema(1).dataType, nullable = true)),
      queries.map(_._1).toArray, queries.map(_._2).toArray, node.setScorer,
      byId, node.k, node.scorer == "l2",
      keepNulls = node.literal && node.filter.isEmpty)
  }

  /** FILTERED shape (see the class doc): pre-filter probe, then
    * escalating candidate rounds against the re-executed carried
    * `Filter(pred, scan)` subplan, then the exhaustive backstop. */
  private def filteredTopK(tier: Tier, query: (Long, Array[Array[Float]]),
                           plan: LogicalPlan): Array[ScoredRow] = {
    val spark = SparkSession.active
    def conf(key: String, dflt: String): String =
      spark.conf.getOption(key).getOrElse(dflt)
    val exact = conf("spark.graft.ann.filtered.exact", "false").toBoolean
    val overfetch = conf("spark.graft.ann.filtered.overfetch", "8").toInt
    val preFilterMax = math.min(
      conf("spark.graft.ann.filtered.preFilterMax",
        (2L * node.k).toString).toLong,
      Int.MaxValue.toLong - 1) // the probe limit below must fit an Int
    val (qid, qv) = (query._1, query._2.head)
    val filtered = org.apache.spark.sql.GraftColumnBridge.ofRows(spark, plan)

    /** Top-k among `ids` that survive the carried predicate (`ids` null
      * = every filtered row scores). */
    def survivors(ids: Array[Long]): Array[ScoredRow] =
      rescored(filtered, node.idName, node.vecName, Seq(query),
        if (ids == null) null else Map(qid -> ids)).collect()

    /** One candidate fetch of target size `c` → (ids, saturated). */
    def fetch(c: Int): (Array[Long], Boolean) = tier match {
      case GraphTier(e) =>
        // l = 2n saturates: the beam then explores every reachable node
        // (the same regime g9_sql_saturated certifies for the mv route)
        val n = e.graphB.value.n
        val l = math.min(math.max(c.toLong, e.searchL.toLong), 2L * n).toInt
        val queue = beam(e, qv, l, new VisitedSet(n))
        (Array.tabulate(queue.size)(i => queue.id(i).toLong),
          l >= n || queue.size < l)
      case g: Generator =>
        val ids = candidateSets(g, Seq(query), c)(qid)
        (ids, ids.length < c)
    }

    // the probe stops reading at preFilterMax+1 rows (LocalLimit
    // short-circuit over the pushed-down scan) — bounded cost even when
    // the predicate is permissive
    val probeCnt =
      if (preFilterMax <= 0) Long.MaxValue
      else filtered.select(col(node.idName)).limit((preFilterMax + 1).toInt)
        .count()
    var rows: Array[ScoredRow] = Array.empty
    var round = 0
    if (probeCnt <= preFilterMax || (exact && node.tier != "graph")) {
      // exact mode over a GENERATOR tier scores the full filtered scan:
      // a generator's "returned fewer than asked" is probe-parameter
      // exhaustion, not corpus saturation — only the graph beam's
      // l >= 2n regime proves it explored everything reachable
      rows = survivors(null)
      if (probeCnt <= preFilterMax) metrics("numPreFilterRows").add(probeCnt)
      else metrics("numExhaustiveFallback").add(1)
    } else {
      val maxC = 1 << 26
      var c =
        if (exact) maxC
        else math.max(64L, math.min(overfetch.toLong * node.k, maxC.toLong)).toInt
      var done = false
      while (!done) {
        round += 1
        val (ids, saturated) = fetch(c)
        rows = survivors(ids)
        done = rows.length >= node.k || saturated || round >= MaxRounds ||
          c >= maxC
        if (!done) c = math.min(c.toLong * 4, maxC.toLong).toInt
      }
      if (rows.length < node.k) {
        // the tier ran out of reach (generator probe bound, graph
        // connectivity, MaxRounds) with fewer than k survivors — the
        // exhaustive plan would keep scanning, so match it: one full
        // filtered scan, still pushed-down and column-pruned
        rows = survivors(null)
        metrics("numExhaustiveFallback").add(1)
      }
    }
    metrics("numRounds").add(round)
    rows
  }
}

object AnnTopKExec {
  /** Candidate-id sets up to this size constrain the rescoring scan with
    * an IN filter (which reaches the parquet scan); larger ones are
    * filtered in the scan's tasks only. */
  private val IsinMax = 100000
  /** Filtered shape: escalation rounds before the exhaustive backstop. */
  private val MaxRounds = 6

  /** One answer row: (query id, corpus id, score). The score is boxed:
    * a literal shape keeps NULL scores. */
  private type ScoredRow = (Long, Long, java.lang.Double)

  /** A resolved routed tier; `dim` is the corpus (sub-)vector dimension. */
  private sealed trait Tier { def dim: Int }

  private final case class GraphTier(e: AnnIndexRegistry.Entry) extends Tier {
    def dim: Int = e.rawVecsB.value.dim
  }

  /** A candidate or multivector tier, normalized to collected ids: `one`
    * a single query's candidate ids; `batch` the (query id, candidate
    * id) pairs of a whole query relation, from ONE distributed job;
    * `driverSearch` (null unless the tier has one) a single query's
    * distinct candidate ids, searched on the driver. All are rescored
    * against `live()`, the (possibly refreshed) full-precision corpus.
    * `timedAs` is the (metric, tier name) a candidate tier's coarse cost
    * is recorded under; null for a multivector tier. */
  private final case class Generator(
      live: () => DataFrame, idCol: String, vecCol: String, dim: Int,
      one: (SparkSession, Array[Array[Float]], Int) => Array[Long],
      batch: (SparkSession, Seq[(Long, Array[Array[Float]])], Int) => Array[(Long, Long)],
      driverSearch: Array[Array[Float]] => Array[Long] = null,
      timedAs: (String, String) = null)
      extends Tier

  private object Generator {
    def of(e: AnnIndexRegistry.CandidateTierEntry): Generator =
      Generator(() => e.liveData, e.dataIdCol, e.dataVecCol, e.dim,
        (s, q, n) => longs(e.candidates(s, q.head, n), "d_id").map(_(0)),
        (s, qs, k) => {
          require(e.candidatesBatch != null,
            s"tier '${e.name}' has no batch generator")
          longs(e.candidatesBatch(s, qs.map { case (id, vs) => (id, vs.head) }, k),
            "q_id", "d_id").map(p => (p(0), p(1)))
        },
        timedAs = (e.metricName, e.name))

    def of(e: AnnIndexRegistry.MvEntry): Generator =
      Generator(() => e.liveData, e.dataIdCol, e.dataVecCol, e.dim,
        (s, q, n) => longs(e.candidatesBatch(s, Seq((0L, q)), n), "dset_id")
          .map(_(0)),
        (s, qs, k) => longs(e.candidatesBatch(s, qs, k), "qset_id", "dset_id")
          .map(p => (p(0), p(1))),
        e.driverCandidates)
  }

  /** The collected values of a generator's columns `names` as longs, one
    * array per row; rows with a NULL among them are dropped. */
  private def longs(df: DataFrame, names: String*): Array[Array[Long]] = {
    val idx = names.map(df.schema.fieldIndex).toArray
    df.collect().collect {
      case r if idx.forall(!r.isNullAt(_)) =>
        idx.map(r.getAs[Number](_).longValue)
    }
  }

  /** The routed scorer's own expression, query operand first. */
  private def scorer(kind: String, query: Expression,
                     corpus: Expression): Expression = kind match {
    case "l2" => VecL2SqExpr(query, corpus)
    case "cos" => VecCosineExpr(query, corpus)
    case "chamfer" => VecChamferExpr(query, corpus)
    case "maxsim" => VecMaxSimExpr(query, corpus)
    case _ => VecDotExpr(query, corpus)
  }

  /** The rescoring pass over `rows` of (bigint id, vector): each row
    * that is a candidate of some query (`byId`: corpus id → query
    * indexes; null = every query) scored by `score`, which reads the
    * query at ordinal 0 and the row after it. A NULL score is kept only
    * when `keepNulls`. Each task keeps per-query heaps; one final
    * partition merges them. */
  private def scoredPass(rows: RDD[InternalRow], score: Expression,
                         qids: Array[Long], qvecs: Array[Array[Array[Float]]],
                         setScorer: Boolean, byId: Map[Long, Array[Int]],
                         k: Int, asc: Boolean,
                         keepNulls: Boolean): RDD[ScoredRow] = {
    val every = qids.indices.toArray
    val local = rows.mapPartitions { it =>
      val proj = UnsafeProjection.create(Seq(score))
      val queryRows = qvecs.map { vs =>
        InternalRow(
          if (setScorer) new GenericArrayData(
            vs.map(v => UnsafeArrayData.fromPrimitiveArray(v): Any))
          else UnsafeArrayData.fromPrimitiveArray(vs.head))
      }
      val joined = new JoinedRow
      val top = new TopK(k, asc)
      it.foreach { row =>
        if (!row.isNullAt(0)) {
          val id = row.getLong(0)
          val qs = if (byId == null) every else byId.getOrElse(id, null)
          if (qs != null) qs.foreach { q =>
            val s = proj(joined(queryRows(q), row))
            if (!s.isNullAt(0)) top.add((qids(q), id, Double.box(s.getDouble(0))))
            else if (keepNulls) top.add((qids(q), id, null))
          }
        }
      }
      top.rows
    }
    val one =
      if (local.getNumPartitions == 1) local else local.coalesce(1, shuffle = true)
    one.mapPartitions { it =>
      val top = new TopK(k, asc)
      it.foreach(top.add)
      top.rows
    }
  }

  /** The k best rows per query in the matched ORDER BY's order: score
    * DESC (ASC when `asc`, the l2 shape), then corpus id ASC. Scores
    * compare as Spark's sort compares doubles, and a NULL score sorts as
    * the smallest value, as Spark's default null ordering does: last
    * under DESC, first under ASC. */
  private final class TopK(k: Int, asc: Boolean) {
    private val order: Ordering[ScoredRow] = { (a, b) =>
      val c = (a._3, b._3) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x, y) => SQLOrderingUtil.compareDoubles(x, y)
      }
      val byScore = if (asc) c else -c
      if (byScore != 0) byScore else java.lang.Long.compare(a._2, b._2)
    }
    // per query, the kept rows with the worst at the head
    private val heaps =
      scala.collection.mutable.HashMap.empty[Long, java.util.PriorityQueue[ScoredRow]]

    def add(r: ScoredRow): Unit = if (k > 0) {
      val h = heaps.getOrElseUpdate(r._1,
        new java.util.PriorityQueue[ScoredRow](order.reverse))
      if (h.size < k) h.add(r)
      else if (order.lt(r, h.peek)) { h.poll(); h.add(r) }
    }

    /** Each query's rows in order, queries by id. */
    def rows: Iterator[ScoredRow] =
      heaps.keys.toArray.sorted.iterator.flatMap { q =>
        heaps(q).toArray(new Array[ScoredRow](0)).sorted(order)
      }
  }

  /** One beam search of `q` over a graph entry (driver- or task-side). */
  private def beam(e: AnnIndexRegistry.Entry, q: Array[Float], l: Int,
                   visited: VisitedSet): BeamQueue = {
    val metric = Metrics(e.metricName)
    BeamSearch.searchSingle(e.graphB.value, e.searchVecsB.value, metric,
      if (metric.normalizeAtLoad) VectorStore.normalized(q) else q, l,
      visited)._1
  }

  /** Exact dot / cosine / l2² of corpus row `id` against `q` over the RAW
    * vectors, double-accumulated in array order like VecDotExpr,
    * VecCosineExpr's fused loop and VecL2SqExpr — so routed scores are
    * bit-identical to the exhaustive plan's. */
  private def exactScore(kind: String, raw: VectorStore, id: Int,
                         q: Array[Float]): Double = {
    val off = raw.offset(id)
    val n = raw.dim
    var s = 0.0
    var j = 0
    kind match {
      case "l2" =>
        while (j < n) {
          val d = raw.data(off + j).toDouble - q(j).toDouble
          s += d * d
          j += 1
        }
      case "cos" =>
        var dot = 0.0
        var na = 0.0
        var nb = 0.0
        while (j < n) {
          val u = q(j).toDouble
          val v = raw.data(off + j).toDouble
          dot += u * v; na += u * u; nb += v * v
          j += 1
        }
        s = dot / (math.sqrt(na) * math.sqrt(nb))
      case _ =>
        while (j < n) { s += q(j).toDouble * raw.data(off + j).toDouble; j += 1 }
    }
    s
  }

  /** Step 5's single emitter: (query id, corpus id, score) triples as
    * rows of `output` — the query id where the node emits it, the bigint
    * corpus id, the double score (the only types the rule routes) —
    * counted into `survivors`. It lives here, not on the exec, so the
    * task closure captures only the slot map and the schema, never the
    * exec and the logical subplans its node carries. */
  private def emit(rows: RDD[ScoredRow], output: Seq[Attribute],
                   queryId: ExprId, survivors: SQLMetric): RDD[InternalRow] = {
    val slots = output.map(a =>
      if (a.exprId == queryId) 0 else if (a.dataType == LongType) 1 else 2)
      .toArray
    val schema = output.map(_.dataType).toArray
    rows.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      it.map { case (q, d, s) =>
        survivors.add(1)
        val v = Array[Any](q, d, s)
        proj(new GenericInternalRow(slots.map(v)))
      }
    }
  }
}
