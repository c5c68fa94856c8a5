package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round benchmark main. Prints a FIXED-SIZE summary JSON line
  * `{"metric":"total","value":N,"unit":"sec","reps":R,"calib_sec":C,
  * "ctrl_ratio_vs_floor":M,"worst":{top-5 name:ratio-vs-floor},
  * "failed":N,"failed_queries":[...],"reprobed":[...],"sf":...}` as the
  * LAST stdout line. The per-query map is NOT on that line: the driver
  * captures only the final 2,000 bytes of stdout (the `tail` field
  * length in every BENCH_r*.json), and a 153-query map is ~4 KB — three
  * rounds of driver artifacts landed `parsed: null` because the map
  * outgrew the capture. Per-query minima are emitted instead as N
  * PRECEDING `{"bench_part":i,"of":n,"queries":{...}}` stdout lines of
  * <1,900 bytes each (tools/bench_compare.py reassembles them), and the
  * FULL artifact (per-query minima, raw reps, per-pass calib stamps,
  * per-control ratios) is written to the output file.
  *
  * Every query is FORCED to full evaluation by hashing every column of
  * every row (xxhash64 over the whole row struct) and XOR-folding the
  * hashes: a bare `.count()` would let Catalyst prune unreferenced
  * projections, so pure projection kernels (p1/p2) would never execute.
  * XOR (not sum) because Spark 4 defaults ANSI mode, where summing
  * uniform 64-bit hashes overflows a long and aborts the job mid-stream —
  * a timing of an aborted job is not a measurement. */
object Bench {
  /** Drop block-manager blocks leaked by per-call checkpoints between
    * timed queries. Iterative operators (connected-components rounds,
    * the sharded tier's per-shard candidate materialization) localCheckpoint
    * inside a call and cannot unpersist what they return; across 89
    * queries × 2 passes those orphaned blocks accumulate until heap/GC
    * pressure poisons whichever big-shuffle query runs late in the pass
    * (the r7 sf1 smoke measured 41.8 s in-run vs 9.0 s isolated for the
    * same query). Every query here is self-contained and long-lived
    * index handles hold broadcasts or parquet paths — never persistent
    * RDDs — so clearing between queries is safe. INVARIANT on the handle
    * caches (IndexQueries/AnnQueries, documented there): a cached handle
    * must NEVER retain a localCheckpoint-backed DataFrame — its lineage
    * is truncated, so this eviction would make it permanently
    * unrecomputable (missing-checkpoint-block failures showing up only
    * in Bench/ScaleSmoke runs). Skipping locally-checkpointed RDDs here
    * is NOT an option: the leaked blocks this exists to clear are
    * exactly those checkpoint copies, already consumed and orphaned by
    * the time the query returns. Single-threaded harness loops only
    * (Bench / ScaleSmoke): getPersistentRDDs is JVM-global, so this
    * must never run concurrently with other jobs. */
  def dropLeakedBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  /** Evaluate df completely; returns the XOR-fold of all row hashes. */
  def force(df: DataFrame): Long = {
    val h = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(bit_xor(col("h"))).collect()(0)
    if (h.isNullAt(0)) 0L else h.getLong(0)
  }

  /** CALIBRATION STAMP — one fixed, data-independent micro-workload
    * (CPU: 24M codegen'd hashes; shuffle: 3M rows through a 256-key
    * exchange) timed in the SAME JVM/session as the queries. Machine/VM
    * speed drifts up to ~2× between benchmark sessions (r11 measured a
    * uniform 1.19× elevation on untouched queries); dividing per-query
    * ratios by the calib ratio of the two runs normalizes that drift
    * MECHANICALLY instead of by-hand adjudication. Reported as the min
    * of `reps` runs under `"calib_sec"` in the JSON. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 24L * 1000 * 1000, 1, 32)
      .select(xxhash64(col("id")).as("h"))
      .agg(bit_xor(col("h"))).collect()
    spark.range(0, 3L * 1000 * 1000, 1, 32)
      .groupBy(pmod(xxhash64(col("id")), lit(256)).as("k"))
      .agg(count(lit(1)).as("c"))
      .agg(bit_xor(xxhash64(col("k"), col("c")))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** CONTROL BASKET — untouched pure-expression/scan queries whose cost
    * is machine-bound, not round-over-round code-bound: their min-time
    * ratio vs the committed floors (`BENCH_LOCAL.json`) is a SECOND,
    * workload-shaped normalization alongside the synthetic calib stamp.
    * The r16 window oscillated 2–9× within one pass and the single
    * calib moved 32% inside it — one control cannot separate code from
    * machine; the MEDIAN over five (reported as
    * `"ctrl_ratio_vs_floor"`) can, mechanically: a real regression
    * moves its query but not the basket; a slow host moves the whole
    * basket together. */
  val ControlQueries: Seq[String] = Seq(
    "p1_vec_l2sq", "p2_vec_dot", "p6_vec_cosine", "q1_agg",
    "mm_video_decode")

  /** Parse the committed floor file's `"queries":{...}` map (flat
    * name→seconds — the object never nests). Missing/garbage file →
    * empty: the controls then report -1, never a crash. */
  def readFloors(path: String): Map[String, Double] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val marker = "\"queries\":{"
      val i = s.indexOf(marker)
      if (i < 0) Map.empty
      else {
        val body = s.substring(i + marker.length,
          s.indexOf("}", i + marker.length))
        // exponent part allows a sign: a committed floor below 1ms
        // serializes like 9.5E-4, and a regex that can't match it would
        // make toDouble throw → catch-all returns empty → the floor
        // guard silently deactivates for every later run
        "\"([^\"]+)\":(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Outcome of the floors provenance guard (see [[floorGuardDecision]]).
    * Sealed so main() must handle every arm and BenchGuardSpec can match
    * structurally. */
  private[graft] sealed trait FloorDecision
  /** Keep the committed floors; write this pass to the candidate file. */
  private[graft] final case class Divert(reason: String) extends FloorDecision
  /** Replace the committed floors wholesale. Only reachable for passes
    * whose RAW total does not exceed the committed one (or when there
    * are no usable committed floors to compare against): floors are
    * floors — a raw-slower pass carries no evidence the code got
    * faster, only that the window got slower, and the r21 sessions saw
    * the ctrl-adjusted "better" justification fire twice on 1.3-1.5x
    * degraded windows, each time about to LOOSEN every per-query floor
    * ~20-26% (both manually reverted). Raw-slower evidence survives in
    * the immutable best-candidate file instead. */
  private[graft] case object Replace extends FloorDecision
  /** Surface GREW (names ⊃ floors.keySet): carry every existing per-query
    * floor forward unchanged and floor ONLY `newKeys` from this pass,
    * control-normalized. Wholesale replacement on surface growth was the
    * r18 loophole: two new twin queries made `keySet != names`, the old
    * rule (4) replaced all 153 floors on a 1.23×-slow window, and the 2×
    * violation gate loosened ~16%. */
  private[graft] final case class MergeNew(newKeys: Set[String])
    extends FloorDecision

  /** PURE provenance-guard decision for a default run's floors write.
    * Extracted from main() so the guard's rules are unit-tested
    * (BenchGuardSpec) — two rounds of ADVICE findings were bugs in
    * exactly this decision while it lived untested inline.
    *
    * Rules, in order: (1) failed or non-positive queries never make a
    * floor; (2) a different-scale run never replaces the sf artifact;
    * (3) with usable same-surface floors and a control basket, the
    * pass must be machine-adjusted BETTER (total/ctrlMedian below the
    * committed total) AND raw-not-slower (newTotal <= committed total):
    * the ctrl basket's small queries overcorrect on degraded windows,
    * so "adjusted better, raw slower" is a window artifact, not
    * tightening evidence — such passes divert (their evidence persists
    * in the best-candidate file; a deliberate re-land stays available
    * via SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL.json); (4) with usable
    * floors and a basket, a STRICT SUPERSET surface merges — existing
    * floors are kept and only the new queries are floored from this
    * pass (see [[MergeNew]]); (5) anything else — genuinely different
    * surface (removed keys), no usable floors, no basket — replaces
    * (ScaleSmoke floors must cover every key). */
  private[graft] def floorGuardDecision(
      failedCount: Int, anyNonPositive: Boolean,
      committedSf: Option[String], sfDir: String,
      floorsUsable: Boolean, floors: Map[String, Double],
      names: Set[String], ctrlMedian: Double,
      newTotal: Double): FloorDecision =
    if (failedCount > 0)
      Divert(s"$failedCount failed queries - a partial total is not a floor")
    else if (anyNonPositive)
      Divert("non-positive timing recorded - not a usable floor")
    else if (committedSf.exists(_ != sfDir))
      Divert(s"committed floors are for ${committedSf.get}, this run " +
        s"is $sfDir")
    else if (floorsUsable && floors.keySet == names && ctrlMedian > 0 &&
             floors.values.forall(_ > 0)) {
      val committedTotal = floors.values.sum
      if (newTotal / ctrlMedian >= committedTotal)
        Divert(f"this pass $newTotal%.1f s / ctrl $ctrlMedian%.3f = " +
          f"${newTotal / ctrlMedian}%.1f s machine-adjusted vs " +
          f"committed $committedTotal%.1f s")
      else if (newTotal > committedTotal)
        Divert(f"machine-adjusted better but raw $newTotal%.1f s exceeds " +
          f"committed $committedTotal%.1f s - floors only tighten on " +
          "raw-not-slower passes (ctrl overcorrects on degraded windows)")
      else Replace
    }
    else if (floorsUsable && floors.keySet.subsetOf(names) &&
             floors.keySet != names && ctrlMedian > 0 &&
             floors.values.forall(_ > 0)) {
      val committedTotal = floors.values.sum
      // a superset pass that ALSO wins the better-pass comparison
      // replaces wholesale — it covers the new queries and tightens the
      // old floors in one healthy window (the r19 session lost exactly
      // such a pass to an unconditional merge: its candidate artifact
      // was then clobbered by a later slow pass's divert). The
      // comparison is vs the OLD total while newTotal includes the new
      // queries — a small penalty on the new pass, in the safe
      // direction. A pass that does NOT win (including raw-slower, per
      // rule 3) still merges: old floors carry forward, only the new
      // queries get (normalized) floors.
      if (newTotal / ctrlMedian < committedTotal &&
          newTotal <= committedTotal)
        Replace
      else MergeNew(names -- floors.keySet)
    }
    else Replace

  /** Merged-floors artifact for a [[MergeNew]] decision: the committed
    * per-query floors carried forward verbatim plus the new queries
    * floored from this pass (already control-normalized by the caller).
    * Minimal single-line JSON with exactly the fields the floor
    * consumers read — `"queries"` (readFloors / ScaleSmoke),
    * `"sf"` (the scale check), `"calib_sec"`/`"value"`
    * (bench_compare.py) — with calib carried from the COMMITTED
    * artifact since the floors' provenance window is the committed one,
    * not this pass's. A `"floor_merge"` field records what was added and
    * the ctrl factor so the artifact is self-describing. */
  private[graft] def mergedFloorsJson(
      merged: Map[String, Double], newKeys: Set[String],
      committedCalib: Double, ctrl: Double, sfDir: String): String = {
    def fmt(d: Double) = d.toString
    val qs = merged.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val added = newKeys.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    s"""{"metric":"total","value":${fmt(merged.values.sum)},"unit":"sec",""" +
      s""""calib_sec":${fmt(committedCalib)},""" +
      s""""floor_merge":{"added":$added,"ctrl":${fmt(ctrl)},""" +
      s""""from_pass":"BENCH_LOCAL_candidate.merge.json"},""" +
      s""""queries":$qs,"sf":"$sfDir"}"""
  }

  /** OUTCOME-KEYED candidate file for a default run that did not
    * replace the floors. One shared candidate file was the r19 loss: a
    * WINNING growth pass's full artifact was clobbered by a later slow
    * pass's divert (last writer won), and the session had to curate
    * floors from stdout part lines. Diverts and merges now land on
    * their own names, so neither can overwrite the other's evidence. */
  private[graft] def candidatePath(decision: FloorDecision): String =
    decision match {
      case _: Divert   => "BENCH_LOCAL_candidate.divert.json"
      case _: MergeNew => "BENCH_LOCAL_candidate.merge.json"
      case Replace     => "BENCH_LOCAL.json" // replaces the floors proper
    }

  /** Does this pass beat the recorded best-so-far candidate
    * (machine-adjusted by each pass's own control ratio)? The best file
    * (`BENCH_LOCAL_candidate.best.json`) is IMMUTABLE against worse
    * passes — only a strictly better pass may overwrite it — so the
    * best rejected evidence of a session survives any number of later
    * slow-window diverts. `existingJson` is the current best file's
    * content (None = no best yet → any complete pass wins). */
  private[graft] def bestCandidateWins(existingJson: Option[String],
                                       newTotal: Double,
                                       newCtrl: Double): Boolean = {
    if (newTotal <= 0) return false
    def field(s: String, name: String): Option[Double] =
      ("\"" + name + "\":(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)").r
        .findFirstMatchIn(s).map(_.group(1).toDouble)
    def adjusted(total: Double, ctrl: Double): Double =
      if (ctrl > 0) total / ctrl else total
    existingJson match {
      case None => true
      case Some(s) =>
        val oldTotal = field(s, "value").getOrElse(Double.MaxValue)
        val oldCtrl = field(s, "ctrl_ratio_vs_floor").getOrElse(-1.0)
        adjusted(newTotal, newCtrl) < adjusted(oldTotal, oldCtrl)
    }
  }

  /** Top-`n` ok queries by min-seconds ÷ committed floor — the summary
    * line's `"worst"` field: per-query visibility for exactly the rows
    * the judge adjudicates, without the full map that overflowed the
    * driver's stdout tail three rounds running. Empty when no floors. */
  private[graft] def worstVsFloors(
      mins: Map[String, Double], floors: Map[String, Double],
      n: Int = 5): Seq[(String, Double)] = {
    val ratios = for {
      (name, sec) <- mins.toSeq if sec > 0
      fl <- floors.get(name) if fl > 0
    } yield name -> sec / fl
    ratios.sortBy(-_._2).take(n)
  }

  /** The FINAL stdout line — fixed-size regardless of query count (the
    * driver's capture is the last 2,000 bytes of stdout; BenchGuardSpec
    * pins <1,900 at 200 synthetic queries). Unbounded lists are capped
    * at 25 entries (`failed` carries the true count); per-query minima
    * travel on the preceding [[partLines]] and in the file artifact. */
  private[graft] def summaryLine(
      total: Double, reps: Int, calib: Double, ctrlMedian: Double,
      worst: Seq[(String, Double)], failedNames: Seq[String],
      reprobed: Seq[String], sfDir: String,
      fmt: Double => String): String = {
    def capped(xs: Seq[String]) =
      xs.take(25).map("\"" + _ + "\"").mkString("[", ",", "]")
    val worstJson = worst.map { case (k, r) => "\"" + k + "\":" + fmt(r) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"calib_sec":${fmt(calib)},"ctrl_ratio_vs_floor":${fmt(ctrlMedian)},"worst":$worstJson,"failed":${failedNames.size},"failed_queries":${capped(failedNames)},"reprobed":${capped(reprobed)},"sf":"$sfDir"}"""
  }

  /** Per-query minima as `{"bench_part":i,"of":n,"queries":{...}}` stdout
    * lines, each under `maxBytes` — printed BEFORE the summary line so a
    * bounded tail capture always ends on the parseable summary, and a
    * larger capture (or the local terminal) reassembles full per-query
    * visibility via tools/bench_compare.py. */
  private[graft] def partLines(
      queries: Seq[(String, Double)], fmt: Double => String,
      maxBytes: Int = 1900): Seq[String] = {
    val header = 44 // {"bench_part":NN,"of":NN,"queries":{ ... }}
    val chunks = collection.mutable.ArrayBuffer(
      collection.mutable.ArrayBuffer.empty[String])
    var len = 0
    for ((k, v) <- queries) {
      val entry = "\"" + k + "\":" + fmt(v)
      if (len + entry.length + 1 > maxBytes - header && chunks.last.nonEmpty) {
        chunks += collection.mutable.ArrayBuffer.empty[String]
        len = 0
      }
      chunks.last += entry
      len += entry.length + 1
    }
    val n = chunks.count(_.nonEmpty)
    chunks.filter(_.nonEmpty).zipWithIndex.map { case (c, i) =>
      s"""{"bench_part":${i + 1},"of":$n,"queries":${c.mkString("{", ",", "}")}}"""
    }.toSeq
  }

  /** Queries to RE-PROBE at the end of the timed passes: every ok query
    * whose min-of-reps exceeds `threshold`× its committed floor, worst
    * ratio first, capped at `cap` (a wholly-slow window would otherwise
    * re-run most of the pass; the cap is logged, never silent). The r18
    * driver pass recorded five >2× spikes that were all host transients —
    * a same-JVM re-probe minutes later self-heals those in the artifact,
    * while a real regression reads elevated twice. Threshold 1.4 since
    * r21: the r20 driver pass carried a cluster of 1.4–1.6× phantom
    * elevations (all exonerated by the same binary's 8-core pass) that
    * the old 2.0 gate never re-measured — every adjudication-worthy
    * ratio now self-heals or confirms within the same JVM. */
  private[graft] def reprobeSelection(
      mins: Map[String, Double], floors: Map[String, Double],
      threshold: Double = 1.4, cap: Int = 25): Seq[String] = {
    val over = for {
      // CONTROLS are never re-probed: their elevated reading IS the
      // machine-window signal ctrl_ratio_vs_floor exists to carry —
      // healing a control's min would understate the window's slowness
      // in the very field the round adjudication reads (safe for the
      // floor guard, where a smaller ctrl makes replacement harder,
      // but it corrupts the machine-vs-code disposition).
      (name, sec) <- mins.toSeq
      if sec > 0 && !ControlQueries.contains(name)
      fl <- floors.get(name) if fl > 0 && sec > threshold * fl
    } yield name -> sec / fl
    over.sortBy(-_._2).take(cap).map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Bench measures the SERVING posture of the sharded tier: queries
    // arrive as a stream, so the resident-shard cache is sized to the
    // fixture's shard count (2) and per-call shard load amortizes away.
    // Correctness runs keep the default (1 = strict minimal residency).
    val spark = Harness.session("spark.graft.index.residentShards" -> "2")
    // Untimed warmup: JIT/codegen/footer caches plus the ONE-TIME index
    // build (an offline job in production — searches are measured against
    // a built index, as in the reference) would otherwise be billed to
    // whichever query happens to run first. Warmup failures are printed
    // (never silently swallowed) but don't abort the run.
    for (w <- Seq("q1_agg", "g2_graph_stats", "g9_sharded")) {
      try force(SparkEntry.queries(w)(spark, sfDir))
      catch { case t: Throwable =>
        System.err.println(s"WARMUP FAIL $w: ${t.getClass.getName}: ${t.getMessage}")
      }
    }
    dropLeakedBlocks(spark)
    // Per-query: each query runs `reps` times and the reported timing is
    // the MIN (all raw timings are kept in the JSON under "raw").
    // A single run is hostage to one-off JIT/GC/machine-load spikes — the
    // r5 driver bench recorded 40.6 s for a query that takes 1.6 s — and a
    // gate that can emit that is not a gate. The reps run as ROUND-ROBIN
    // PASSES over the whole query list (pass 1: q1…qN, pass 2: q1…qN), not
    // back-to-back per query: adjacent reps of one query share any
    // sustained machine-load spike, so their min is still poisoned (r6
    // recorded 8 queries slow in BOTH adjacent reps at sf0.1 that ran
    // faster at 10× the data). Separating the reps by a full pass puts
    // minutes between the two timings of any one query, which is what
    // min-of-N needs to actually decorrelate. A failed query records
    // ok=false and seconds=-1 so it can never masquerade as a timing.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // SPARK_GRAFT_BENCH_WARMREPS=N → N UNTIMED passes over the selected
    // queries before the timed reps. Isolation runs (BENCH_ONLY) have a
    // cold-JIT bias the full pass does not: the same query measured
    // 7.6 s isolated vs 5.5 s in-pass in the r17 session purely from
    // JIT/codegen warm-state, which poisons isolated-floor vs
    // full-pass-floor comparisons. Default 0 (the full pass warms
    // itself); set 1 for regression-hunt subsets.
    val warmReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMREPS", "0")
      .toInt.max(0)
    // SPARK_GRAFT_BENCH_ONLY=a,b,c → time just those queries (targeted
    // regression hunts); unset = the full list, as the driver runs it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toIndexedSeq
      .filter(n => only.forall(_.contains(n)))
    // calibration stamps INTERLEAVED through each pass (~4 per pass:
    // start, thirds, end — ~1 s each, never billed to any query): the
    // r16 host drifted faster than one pass (the single per-pass stamp
    // moved 32% between passes while queries swung 2–9× WITHIN one),
    // so a query timing is dispositioned against the stamps that
    // bracket it, not one stamp minutes away. All stamps are kept in
    // the JSON per pass ("calib_by_pass") plus flat ("calib_raw").
    val calibRaw = collection.mutable.ArrayBuffer.empty[Double]
    val calibByPass = collection.mutable.ArrayBuffer.empty[Vector[Double]]
    val raw = collection.mutable.Map.empty[String, Vector[(Double, Boolean)]]
    for (_ <- 1 to warmReps; name <- names) {
      try force(SparkEntry.queries(name)(spark, sfDir))
      catch { case t: Throwable =>
        System.err.println(s"WARMREP FAIL $name: ${t.getClass.getName}: ${t.getMessage}")
      }
      dropLeakedBlocks(spark)
    }
    for (_ <- 1 to reps) {
      val stamps = collection.mutable.ArrayBuffer.empty[Double]
      // a transient calibration failure must not abort the run and
      // discard every completed query timing — queries get the same
      // catch-and-continue treatment below
      def stamp(): Unit =
        try stamps += calibrate(spark)
        catch { case t: Throwable =>
          System.err.println(s"CALIB FAIL: ${t.getClass.getName}: ${t.getMessage}")
        }
      val every = math.max(1, (names.size + 2) / 3)
      for ((name, i) <- names.zipWithIndex) {
      if (i % every == 0) stamp()
      val t0 = System.nanoTime()
      val ok =
        try { force(SparkEntry.queries(name)(spark, sfDir)); true }
        catch { case t: Throwable =>
          System.err.println(s"QUERY FAIL $name: ${t.getClass.getName}: ${t.getMessage}")
          false
        }
      val rec = (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0, ok)
      raw(name) = raw.getOrElse(name, Vector.empty) :+ rec
      dropLeakedBlocks(spark)
      }
      stamp()
      calibByPass += stamps.toVector
      calibRaw ++= stamps
    }
    // the control basket compares THIS run's control minima against the
    // COMMITTED floors (read before any write below, so a full run's
    // own overwrite never feeds back): the judge separates code from
    // machine by this one number instead of hand-adjudicating raws
    val floorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOORS",
      "BENCH_LOCAL.json")
    val floors = readFloors(floorPath)
    // RE-PROBE phase: any ok query whose min-of-reps still exceeds 1.4x its
    // committed floor gets ONE more same-JVM run, minutes after its last
    // rep. A transient host stall (the r18 driver pass recorded five,
    // all adjudicated as machine) self-heals — the re-probe min drops the
    // reported value back under the gate; a real regression reads
    // elevated twice. The re-probe timing is appended to the raw vector
    // (min recomputed); a re-probe FAILURE is logged but never poisons a
    // query that already succeeded in every rep.
    val prelimMins = names.map { n =>
      val rs = raw(n)
      n -> (if (rs.forall(_._2)) rs.map(_._1).min else -1.0)
    }.toMap
    val reprobed = reprobeSelection(prelimMins, floors)
    if (reprobed.nonEmpty)
      System.err.println(s"REPROBE: ${reprobed.size} queries >1.4x floor: " +
        reprobed.mkString(", "))
    for (name <- reprobed) {
      val t0 = System.nanoTime()
      try {
        force(SparkEntry.queries(name)(spark, sfDir))
        raw(name) = raw(name) :+ ((System.nanoTime() - t0) / 1e9, true)
      } catch { case t: Throwable =>
        System.err.println(s"REPROBE FAIL $name: ${t.getClass.getName}: ${t.getMessage}")
      }
      dropLeakedBlocks(spark)
    }
    val results = names.map { name =>
      val rs = raw(name)
      val ok = rs.forall(_._2)
      val sec = if (ok) rs.map(_._1).min else -1.0
      name -> (sec, ok, rs.map(_._1))
    }
    val resultMap = results.toMap
    val ctrlRatios = ControlQueries.flatMap { c =>
      for {
        (sec, ok, _) <- resultMap.get(c) if ok && sec > 0
        fl <- floors.get(c) if fl > 0
      } yield c -> sec / fl
    }
    val ctrlMedian =
      if (ctrlRatios.isEmpty) -1.0 else median(ctrlRatios.map(_._2))
    val mins = results.map { case (k, (sec, _, _)) => k -> sec }.toMap
    val failedNames = results.collect { case (k, (_, false, _)) => k }
    val total = results.collect { case (_, (sec, true, _)) => sec }.sum
    // -1 = every calibration attempt failed (bench_compare treats
    // non-positive as "no stamp")
    val calibMin = if (calibRaw.isEmpty) -1.0 else calibRaw.min
    // FULL artifact line (file only — never stdout: the r16/r17 driver
    // artifacts landed parsed:null because this line outgrew the
    // driver's 2,000-byte stdout tail capture).
    def fullLine(fmt: Double => String): String = {
      val qs = results.map { case (k, (sec, _, _)) => "\"" + k + "\":" + fmt(sec) }
        .mkString("{", ",", "}")
      val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
      val rawJson = "," + results.map { case (k, (_, _, raw)) =>
        "\"" + k + "\":" + raw.map(fmt).mkString("[", ",", "]")
      }.mkString("\"raw\":{", ",", "}")
      val calibAll = calibRaw.map(fmt).mkString("[", ",", "]")
      val calibPasses = calibByPass
        .map(_.map(fmt).mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      val ctrls = ctrlRatios.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val reprobedJson = reprobed.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"calib_sec":${fmt(calibMin)},"calib_raw":$calibAll,"calib_by_pass":$calibPasses,"ctrl_ratio_vs_floor":${fmt(ctrlMedian)},"ctrl_ratios":$ctrls,"queries":$qs$rawJson,"failed":${failedNames.size},"failed_queries":$failedJson,"reprobed":$reprobedJson,"sf":"$sfDir"}"""
    }
    // Full-precision FULL artifact (raws, per-pass stamps, ctrl ratios)
    // goes to the file; stdout gets the 3-decimal COMPACT line so the
    // driver's bounded tail capture can always machine-read it.
    // a filtered (BENCH_ONLY) run must never clobber the full committed
    // baseline — its partial query map would silently shrink every
    // ScaleSmoke floor lookup to "missing"
    val outPathRequested = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "/tmp/graft_bench_partial.json"
      else "BENCH_LOCAL.json")
    // PROVENANCE GUARD on the committed floors: a default full run only
    // REPLACES BENCH_LOCAL.json when it is the BETTER pass — its total,
    // normalized to the committed pass's machine by the control basket,
    // beats the committed total. This mechanizes the keep-the-min-pass
    // provenance rule from docs/BENCH_NOTES.md: in r16 a volatile
    // driver-window pass (218 s, rep swings to 9x) silently clobbered
    // the curated 129 s parity artifact because every default run
    // overwrote unconditionally. A pass with a DIFFERENT query surface
    // always replaces (ScaleSmoke floors must cover every key), as does
    // one with no usable control basket (nothing to judge by), or any
    // run with an explicit SPARK_GRAFT_BENCH_OUT. A rejected pass is
    // kept beside the floors as BENCH_LOCAL_candidate.json for
    // inspection — nothing is discarded.
    val newTotal = results.collect { case (_, (sec, true, _)) => sec }.sum
    val committedSf =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_LOCAL.json")), "UTF-8")
        "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(s).map(_.group(1))
      } catch { case scala.util.control.NonFatal(_) => None }
    // The failed/non-positive checks apply to EVERY default run, floors
    // committed or not: a pass with failures has a deflated total (its
    // -1 entries would both win the better-pass comparison unfairly and,
    // once committed, make floors.values.forall(_ > 0) false forever —
    // permanently disabling the guard for every later run).
    val defaultRun = outPathRequested == "BENCH_LOCAL.json" &&
      !sys.env.contains("SPARK_GRAFT_BENCH_OUT")
    val floorsUsable =
      !sys.env.contains("SPARK_GRAFT_BENCH_FLOORS") && floors.nonEmpty
    val failedCount = results.count { case (_, (_, ok, _)) => !ok }
    def writeFile(path: String, content: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (content + "\n").getBytes("UTF-8"))
      catch { case t: Throwable =>
        System.err.println(s"BENCH_OUT write to $path failed: ${t.getMessage}")
      }
    // A complete (zero-failure) default pass also competes for the
    // IMMUTABLE best-so-far candidate file: only a machine-adjusted
    // BETTER pass may overwrite it, so one good window's evidence
    // survives any number of later slow-window diverts (the r19 loss).
    def maybeWriteBest(): Unit = if (failedCount == 0 && newTotal > 0) {
      val bestPath = "BENCH_LOCAL_candidate.best.json"
      val existing =
        try Some(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(bestPath)), "UTF-8"))
        catch { case scala.util.control.NonFatal(_) => None }
      if (bestCandidateWins(existing, newTotal, ctrlMedian)) {
        System.err.println(f"FLOOR GUARD: best-so-far candidate " +
          f"updated ($newTotal%.1f s at ctrl $ctrlMedian%.3f)")
        writeFile(bestPath, fullLine(_.toString))
      }
    }
    if (!defaultRun)
      writeFile(outPathRequested, fullLine(_.toString))
    else {
      val decision = floorGuardDecision(
        failedCount,
        anyNonPositive = results.exists { case (_, (sec, _, _)) => sec <= 0 },
        committedSf, sfDir, floorsUsable, floors, names.toSet,
        ctrlMedian, newTotal)
      decision match {
      case Divert(why) =>
        System.err.println("FLOOR GUARD: committed BENCH_LOCAL.json " +
          s"kept ($why) - pass written to ${candidatePath(decision)}")
        writeFile(candidatePath(decision), fullLine(_.toString))
        maybeWriteBest()
      case Replace =>
        writeFile(outPathRequested, fullLine(_.toString))
        maybeWriteBest()
      case MergeNew(newKeys) =>
        // surface GREW: committed floors carry forward untouched; only
        // the new queries get floors, normalized by THIS pass's control
        // ratio so a slow window cannot land loose floors for them. The
        // full pass is preserved on its own outcome-keyed name.
        val newFloors = newKeys.toSeq.flatMap { k =>
          mins.get(k).filter(_ > 0).map(sec => k -> sec / ctrlMedian)
        }.toMap
        val committedCalib =
          try {
            val s = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get("BENCH_LOCAL.json")), "UTF-8")
            "\"calib_sec\":(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)".r
              .findFirstMatchIn(s).map(_.group(1).toDouble).getOrElse(-1.0)
          } catch { case scala.util.control.NonFatal(_) => -1.0 }
        System.err.println(s"FLOOR GUARD: surface grew by " +
          s"${newKeys.toSeq.sorted.mkString(", ")} - merging their floors " +
          f"(ctrl-normalized by $ctrlMedian%.3f) into the committed set; " +
          s"full pass written to ${candidatePath(decision)}")
        writeFile("BENCH_LOCAL.json", mergedFloorsJson(
          floors ++ newFloors, newKeys, committedCalib, ctrlMedian, sfDir))
        writeFile(candidatePath(decision), fullLine(_.toString))
        maybeWriteBest()
      }
    }
    val fmt3: Double => String = s => f"$s%.3f"
    partLines(results.map { case (k, (sec, _, _)) => k -> sec }, fmt3)
      .foreach(println)
    println(summaryLine(total, reps, calibMin, ctrlMedian,
      worstVsFloors(mins, floors), failedNames, reprobed, sfDir, fmt3))
    spark.stop()
  }
}
