package graft.index

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The directory lifecycle of every persisted index face (sharded
  * graph, IVF-PQ, SQ8, inverted, band and cell indexes), written once:
  * the in-place staging swap with its crash recovery ([[swap]],
  * [[recoverSwap]]), the generation-pointer MANIFEST, and the versioned
  * writer shell ([[Face]]) that wraps each face's layout code in the
  * writer lease, live resolution and next/publish.
  *
  * The in-place compactions (`compactIndex`, `compactCodes`,
  * `compactBandIndex`, `compactCellIndex`, `compactPostings`, and the
  * sharded tier's tombstone retirement) rewrite a live directory
  * through [[swap]] under a single-writer QUIESCENCE contract that
  * also excludes READERS: a query listing the live dir mid-swap can
  * fail. That is fine for a batch pipeline and impossible for a
  * serving tier — a real 100 TB deployment compacts WHILE serving.
  * (The reference never faces this: it is a single-process RAM engine,
  * `/root/reference/src/index_bipartite.cpp` builds offline and serves
  * from memory.)
  *
  * This layer fixes it with the standard snapshot trick (the
  * Iceberg/Delta manifest posture, reduced to its minimum):
  *
  *  - `<root>/gen<k>/` — one COMPLETE index per generation. A
  *    generation is immutable once published; a compaction builds its
  *    successor in `gen<k+1>` reading `gen<k>` strictly read-only.
  *  - `<root>/MANIFEST` — one tiny file whose FIRST line names the
  *    live generation and whose remaining lines are the retained
  *    predecessor history, newest first (the grace set). Readers
  *    resolve it ONCE per query and then touch only that generation's
  *    files; the pointer flip is one atomic rename-over, so a reader
  *    sees entirely-old or entirely-new, never a mix.
  *  - Retirement keeps exactly the generations the manifest lists
  *    (live + `keepGens` predecessors); everything else — including
  *    partial dirs from crashed compaction attempts, which never
  *    entered a manifest — is deleted at publish. Listing the grace
  *    set IN the manifest (rather than inferring "the newest older
  *    dir") is what keeps a crashed attempt's half-written dir from
  *    ever being mistaken for a grace generation.
  *
  * Guarantee: a reader that resolved the manifest before a publish
  * completes correctly through `keepGens` concurrent compactions
  * (default 1). A query slower than that needs a deeper `keepGens` —
  * size it to (longest analytical scan) / (maintenance period) — or
  * an external reader lease; the retained-history manifest is the
  * mechanism either policy plugs into.
  *
  * ==Reader/writer concurrency==
  * Readers are STRICTLY READ-ONLY: [[live]] never deletes or renames
  * anything. A valid committed `MANIFEST__next` (it names an existing
  * generation dir) is by construction newer than the `MANIFEST`
  * pointer, so readers prefer its content — a publish that crashed
  * between commit and promote therefore already serves the new
  * generation, with no reader ever mutating shared state (two
  * concurrent mutating recoverers could otherwise interleave their
  * delete+rename pairs and leave NO manifest at all — the round-14
  * ADVICE race). Only [[publish]] — on the single writer — promotes
  * the committed next, via one atomic rename-over.
  *
  * ==Writer mutual exclusion==
  * Append/delete/compact stay single-writer among themselves (a
  * delete landing mid-compaction would mask ids in the generation
  * about to be retired). That contract is ENFORCED, best-effort, by
  * [[withWriterLease]]: a create-if-absent `_writer.lock` under the
  * root, taken by [[Face.writing]] around every versioned writer
  * operation, released on completion, breakable after
  * `spark.graft.gen.leaseTimeoutMs` (default 10 min) so a crashed
  * holder cannot wedge maintenance forever. A second writer fails
  * LOUDLY at entry instead of corrupting silently; readers never
  * touch the lock.
  *
  * ==Two commit protocols==
  * `spark.graft.gen.committer` selects how [[publish]] lands a flip:
  *
  *  - `rename` (default) — the single-pointer protocol above: one
  *    atomic rename-over of `MANIFEST`. Requires real rename
  *    semantics (local, HDFS, ABFS — guarded by an allowlist +
  *    `spark.graft.gen.atomicSchemes` opt-in).
  *  - `seqlog` — the CONDITIONAL-PUT commit log for object stores:
  *    each flip appends an immutable `MANIFEST.<seq>` via exclusive
  *    create; the manifest is never renamed or overwritten, and the
  *    exclusive create is a true CAS on the log head — two racing
  *    writers cannot both claim a slot, the loser fails loudly with
  *    zero corruption (stronger than the best-effort lease). Readers
  *    take the highest seq that parses valid, falling back one slot
  *    past a crashed committer's partial file. Requires only a
  *    conditional put (S3 conditional writes, GCS preconditions —
  *    `spark.graft.gen.casSchemes` opt-in; rename-capable stores
  *    qualify automatically).
  *
  * Resolution is SELF-DESCRIBING: seq entries win over the legacy
  * pointer whenever present, so mixed-mode sessions read correctly
  * and a root migrates to seqlog on its first seqlog publish (the
  * legacy pointer stays in place as that publish's crash fallback and
  * goes inert once the first seq commit lands).
  */
object Generations {

  private val ManifestName = "MANIFEST"
  private val NextName = "MANIFEST__next"
  private val NextTmpName = "MANIFEST__next.tmp"
  private val LockName = "_writer.lock"
  private val GenRe = "gen(\\d+)".r
  private val SeqRe = "MANIFEST\\.(\\d{12})".r

  private def seqName(n: Long): String = f"$ManifestName.$n%012d"

  /** Schemes known to provide BOTH primitives this layer is built on:
    * atomic rename-over (the manifest flip) and create-if-absent as a
    * mutual-exclusion fence (the writer lock). Local file, HDFS
    * (+viewfs/webhdfs fronts), and ADLS Gen2 (abfs, hierarchical
    * namespace) qualify; S3A does NOT — its rename is a copy+delete
    * with a window where NO manifest exists, and its
    * `create(overwrite=false)` check-then-write is not a fence. A
    * 100 TB deployment on object storage must either front the
    * MANIFEST root with a store that has real rename semantics or
    * consciously opt in via `spark.graft.gen.atomicSchemes` — the
    * writer entry points fail LOUDLY otherwise, because the failure
    * mode of pretending is silent manifest corruption under
    * concurrency. Readers are unguarded: they only ever read. */
  private val AtomicRenameSchemes =
    Set("file", "hdfs", "viewfs", "webhdfs", "swebhdfs", "abfs", "abfss")

  private def confSchemes(spark: SparkSession, key: String): Set[String] =
    spark.conf.get(key, "").split(",").iterator
      .map(_.trim.toLowerCase).filter(_.nonEmpty).toSet

  private def requireAtomicStore(spark: SparkSession, f: FileSystem,
                                 root: String): Unit = {
    val scheme = Option(f.getScheme).getOrElse("file").toLowerCase
    val extra = confSchemes(spark, "spark.graft.gen.atomicSchemes")
    if (!AtomicRenameSchemes.contains(scheme) && !extra.contains(scheme))
      throw new IllegalStateException(
        s"generation root $root is on filesystem scheme '$scheme', " +
        "which is not known to provide the atomic rename + " +
        "create-if-absent primitives the manifest flip and writer " +
        "lease are built on (e.g. S3A rename is copy+delete and its " +
        "exclusive create is not a fence). Put the index root on a " +
        "store with real rename semantics (local, HDFS, ABFS), or if " +
        "your store genuinely guarantees both, opt in by adding the " +
        "scheme to spark.graft.gen.atomicSchemes — or switch to the " +
        "rename-free CAS commit log (spark.graft.gen.committer=seqlog) " +
        "if the store has conditional-put exclusive create")
  }

  /** The seqlog committer's weaker requirement: EXCLUSIVE CREATE only
    * (a conditional put). It never renames the manifest — commits are
    * create-if-absent writes of immutable `MANIFEST.<seq>` files — so
    * stores without atomic rename qualify the moment they provide a
    * real conditional put: S3 conditional writes (If-None-Match, GA
    * since 2024; surfaced by recent Hadoop S3A as conditional create)
    * and GCS preconditions both do. That capability is a DEPLOYMENT
    * fact this library cannot probe, so it stays a conscious opt-in
    * (`spark.graft.gen.casSchemes`); the rename-capable allowlist and
    * its opt-in qualify automatically (exclusive create is the weaker
    * half of what they already claim). */
  private def requireCasStore(spark: SparkSession, f: FileSystem,
                              root: String): Unit = {
    val scheme = Option(f.getScheme).getOrElse("file").toLowerCase
    val ok = AtomicRenameSchemes.contains(scheme) ||
      confSchemes(spark, "spark.graft.gen.atomicSchemes").contains(scheme) ||
      confSchemes(spark, "spark.graft.gen.casSchemes").contains(scheme)
    if (!ok)
      throw new IllegalStateException(
        s"generation root $root is on filesystem scheme '$scheme', " +
        "which is not known to provide the EXCLUSIVE-CREATE " +
        "(conditional-put) primitive the seqlog manifest committer is " +
        "built on. If the store genuinely refuses an overwrite on " +
        "create (e.g. S3 conditional writes enabled through the S3A " +
        "connector, GCS preconditions), opt in by adding the scheme " +
        "to spark.graft.gen.casSchemes")
  }

  /** Which commit protocol [[publish]] runs: the EXPLICIT argument a
    * caller passed ("" = unspecified), else `spark.graft.gen.committer`
    * (default `rename`). `rename` flips a single MANIFEST pointer with
    * one atomic rename-over; `seqlog` appends an immutable,
    * sequence-numbered `MANIFEST.<seq>` to a commit log via exclusive
    * create — the conditional-put variant for object stores, where
    * rename is copy+delete. Reads are SELF-DESCRIBING (seq entries win
    * when present, else the legacy pointer), so the mode only matters
    * to writers and a root migrates on its first seqlog publish.
    * The explicit parameter exists because the conf is SESSION-GLOBAL:
    * a multi-step build that toggled the conf around itself would
    * silently migrate any OTHER root published on the same session in
    * that window — the faces thread the mode per call instead, and the
    * conf remains only the default. */
  private def committerMode(spark: SparkSession,
                            explicit: String = ""): String =
    (if (explicit.nonEmpty) explicit
     else spark.conf.get("spark.graft.gen.committer", "rename")) match {
      case m @ ("rename" | "seqlog") => m
      case other => throw new IllegalArgumentException(
        s"committer mode must be rename|seqlog, got '$other'")
    }

  private def requireStore(spark: SparkSession, f: FileSystem,
                           root: String, mode: String): Unit =
    if (mode == "seqlog") requireCasStore(spark, f, root)
    else requireAtomicStore(spark, f, root)

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readFile(f: FileSystem, p: Path): Option[String] =
    try {
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try Some(scala.io.Source.fromInputStream(in).mkString)
        finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Parse a manifest body: line 1 = live generation, rest = retained
    * predecessors (newest first). Single-name files from earlier
    * versions parse as a history of one. Garbage lines drop out. */
  private def parseManifest(s: String): Seq[String] =
    s.split("\n").iterator.map(_.trim)
      .filter(_.matches("gen\\d+")).distinct.toSeq

  /** The committed-next content when VALID (its live generation dir
    * exists on disk), else None. A partial/garbage next — a crash
    * mid-write — parses to nothing or names a missing dir and is
    * simply ignored; the old pointer keeps serving. */
  private def validNext(f: FileSystem, root: String): Option[Seq[String]] =
    readFile(f, new Path(s"$root/$NextName")).map(parseManifest)
      .filter(gens => gens.headOption.exists(g =>
        f.exists(new Path(s"$root/$g"))))

  // ===== Manifest resolution cache =====
  //
  // Serving paths (the versioned tier registrations, takedown feeds,
  // maintenance triggers) resolve the manifest per call. On local disk
  // that is a few cheap syscalls; at object-store latency it taxes
  // every routed query at high QPS. The PARSED manifest is therefore
  // cached per root for `spark.graft.gen.manifestCacheMs` (default
  // 2000 ms; <=0 disables). Staleness is bounded by the TTL and
  // absorbed by the grace window — a reader routed to the pre-flip
  // generation for up to the TTL is exactly the keepGens contract —
  // while same-JVM flips are visible IMMEDIATELY: [[publish]] writes
  // its fresh entries through the cache, so a writer never observes
  // its own flip late.

  private val manifestCache =
    new scala.collection.concurrent.TrieMap[String, (Long, Seq[String])]

  // per-root invalidation epochs: a resolve that STARTED before an
  // invalidation must not repopulate the cache with its (possibly
  // pre-flip) result after the invalidation ran — the lease paths'
  // fresh re-checks depend on invalidate-then-resolve actually reading
  // the filesystem. manifest() captures the epoch before its uncached
  // read and only caches if it is unchanged.
  private val cacheEpochs =
    new scala.collection.concurrent.TrieMap[String, Long]

  private def epochOf(root: String): Long =
    cacheEpochs.getOrElse(root, 0L)

  /** Count of UNCACHED manifest resolutions (actual filesystem reads)
    * — the probe the cache-contract spec counts against. */
  private[graft] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong

  /** TEST HOOK — runs between [[manifest]]'s epoch-fence check and its
    * cache put (no-op in production). The fence is itself
    * check-then-act; the spec injects an invalidation exactly in that
    * window to pin the re-check-after-put repair below. */
  private[graft] var cachePutTestHook: String => Unit = _ => ()

  /** Drop the cached manifest for `root` AND fence out in-flight
    * resolves (they skip caching when they observe the epoch moved) —
    * the lease acquisition paths and tests that mutate the manifest
    * file directly rely on the next resolve truly hitting the
    * filesystem. */
  private[graft] def invalidateManifestCache(root: String): Unit = {
    cacheEpochs.updateWith(root)(v => Some(v.getOrElse(0L) + 1L))
    manifestCache.remove(root)
  }

  private def cacheTtlMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.gen.manifestCacheMs", "2000").toLong

  /** The effective manifest — live generation first, then the grace
    * history. READ-ONLY: a valid committed `MANIFEST__next` is newer
    * than the `MANIFEST` pointer and wins (a publish crash between
    * commit and promote already serves the successor); readers never
    * promote, delete, or rename — see the concurrency note above.
    * Resolutions are served from the TTL cache above; an external
    * process's flip is picked up within the TTL. */
  def manifest(spark: SparkSession, root: String): Seq[String] = {
    val ttlMs = cacheTtlMs(spark)
    if (ttlMs <= 0) return manifestUncached(spark, root)
    val now = System.nanoTime()
    manifestCache.get(root) match {
      case Some((deadline, m)) if now - deadline < 0 => m
      case _ =>
        val e0 = epochOf(root)
        val m = manifestUncached(spark, root)
        // never cache "nothing published yet" (the first publish must
        // be visible the moment it lands, even from another process),
        // and never cache PAST an invalidation that ran while we were
        // reading — our result may predate the flip the invalidator is
        // about to re-check
        if (m.nonEmpty && epochOf(root) == e0) {
          cachePutTestHook(root)
          manifestCache.put(root, (now + ttlMs * 1000000L, m))
          // the fence above is itself check-then-act: an invalidation
          // landing between the epoch check and the put has already
          // done its remove, and our put just resurrected a possibly
          // pre-flip manifest. Re-check AFTER the put and undo — a
          // spurious removal (the entry was actually fresh, or a
          // write-through replaced ours meanwhile) only costs one
          // uncached re-read, whereas a stale survivor breaks the
          // lease paths' invalidate-then-resolve guarantee for a full
          // TTL.
          if (epochOf(root) != e0) manifestCache.remove(root)
        }
        else if (m.isEmpty) manifestCache.remove(root)
        m
    }
  }

  /** One LIST + one or two small reads — cheaper than the previous
    * exists-probe chain, and SELF-DESCRIBING across both committers:
    * seqlog entries (immutable `MANIFEST.<seq>`, highest valid wins)
    * take precedence over the legacy rename-mode pointer whenever any
    * exist, because only [[publishSeqlog]] writes them and it seeds
    * from the full resolved state. A partial/garbage top seq file — a
    * committer crashed mid-write, or a reader landing in the
    * create-then-write window on stores without full-object puts —
    * parses invalid and falls back to the next-lower committed seq:
    * bounded staleness, never corruption (on S3-class stores the
    * conditional put lands the whole object atomically and the window
    * does not exist at all). */
  private def manifestUncached(spark: SparkSession,
                               root: String): Seq[String] =
    resolveUncachedOnce(spark, root, retry = true)

  private def resolveUncachedOnce(spark: SparkSession, root: String,
                                  retry: Boolean,
                                  preListed: Option[
                                    Array[org.apache.hadoop.fs.FileStatus]]
                                    = None): Seq[String] = {
    manifestReads.incrementAndGet()
    val f = fs(spark, root)
    val listing = preListed.getOrElse {
      try f.listStatus(new Path(root))
      catch { case _: java.io.FileNotFoundException =>
        return Seq.empty }
    }
    val dirNames = listing.iterator.filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    def validAgainst(gens: Seq[String]): Boolean =
      gens.headOption.exists(dirNames.contains)
    val seqs = listing.iterator.filter(_.isFile)
      .map(_.getPath.getName)
      .collect { case SeqRe(n) => n.toLong }
      .toArray.sorted(Ordering[Long].reverse)
    for (sq <- seqs) {
      val parsed = readFile(f, new Path(s"$root/${seqName(sq)}"))
        .map(parseManifest).getOrElse(Seq.empty)
      if (validAgainst(parsed)) return parsed
    }
    // legacy pointer: a valid committed next is newer and wins
    if (listing.exists(st => st.isFile && st.getPath.getName == NextName)) {
      val n = readFile(f, new Path(s"$root/$NextName")).map(parseManifest)
        .filter(validAgainst)
      if (n.isDefined) return n.get
    }
    val legacy = readFile(f, new Path(s"$root/$ManifestName"))
      .map(parseManifest).getOrElse(Seq.empty)
    // validate the legacy fallback too (fresh exists-probe covers gens
    // created after the LIST): an invalid head on a MIGRATED root
    // means enough publishes retired every listed seq inside the read
    // window — one fresh LIST resolves the new head rather than
    // resurrecting the inert pre-migration pointer
    if (legacy.isEmpty || validAgainst(legacy) ||
        f.exists(new Path(s"$root/${legacy.head}"))) legacy
    else if (retry) resolveUncachedOnce(spark, root, retry = false)
    else legacy
  }

  /** Live generation name (e.g. "gen3"), or None before the first
    * publish. */
  def live(spark: SparkSession, root: String): Option[String] =
    manifest(spark, root).headOption

  /** Live generation DIRECTORY, or None before the first publish. */
  def liveDir(spark: SparkSession, root: String): Option[String] =
    live(spark, root).map(g => s"$root/$g")

  /** Allocate the next generation (name, dir): max existing index + 1.
    * Never reuses a crashed attempt's partial dir — those are retired
    * at the next publish, and monotone numbering keeps a half-written
    * dir from ever being mistaken for a fresh build target. */
  def next(spark: SparkSession, root: String): (String, String) = {
    val f = fs(spark, root)
    val p = new Path(root)
    val maxIdx =
      if (!f.exists(p)) -1
      else f.listStatus(p).iterator
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case GenRe(i) => i.toInt }
        .foldLeft(-1)(math.max)
    val name = s"gen${maxIdx + 1}"
    (name, s"$root/$name")
  }

  /** One ATOMIC rename of `src` onto `dst`, replacing it. Local
    * filesystems go through `java.nio` ATOMIC_MOVE (POSIX rename(2)
    * replaces the destination in one step); everything else through
    * [[FileContext]] with `Options.Rename.OVERWRITE` (atomic on HDFS).
    * Never delete-then-rename: that two-step form has a window with NO
    * manifest, which a reader's open() can land in. */
  private def renameOver(f: FileSystem, spark: SparkSession,
                         src: Path, dst: Path): Unit =
    if (f.getScheme == "file") {
      val s = java.nio.file.Paths.get(f.makeQualified(src).toUri.getPath)
      val d = java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath)
      java.nio.file.Files.move(s, d,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else
      FileContext.getFileContext(f.getUri,
          spark.sparkContext.hadoopConfiguration)
        .rename(src, dst, Options.Rename.OVERWRITE)

  /** Writer-side recovery: promote a stranded VALID committed next
    * (crash between commit and promote) onto the manifest in one
    * atomic rename-over; drop a garbage next. Runs only under the
    * single-writer contract — readers handle the same window
    * read-only via [[validNext]]. */
  private def recoverWriter(f: FileSystem, spark: SparkSession,
                            root: String): Unit = {
    val next = new Path(s"$root/$NextName")
    if (!f.exists(next)) return
    if (validNext(f, root).isDefined)
      renameOver(f, spark, next, new Path(s"$root/$ManifestName"))
    else f.delete(next, false)
  }

  /** Atomically point the manifest at `gen` (which must be a complete,
    * committed generation), then retire every generation dir the new
    * manifest does not list. The new manifest lists `gen` plus its
    * `keepGens` most recent PUBLISHED predecessors — the grace set a
    * reader holding an older manifest may still be scanning
    * (`keepGens < 0` reads `spark.graft.gen.keepGens`, default 1).
    * Generations named by a LIVE reader lease ([[withReaderLease]])
    * are additionally exempt from retirement, however old. Crash
    * anywhere: either the old manifest still serves, or the committed
    * next is already preferred by readers and promoted by the next
    * publish. */
  def publish(spark: SparkSession, root: String, gen: String,
              keepGens: Int = -1, committer: String = ""): Unit = {
    require(gen.matches("gen\\d+"), s"bad generation name: $gen")
    val mode = committerMode(spark, committer)
    val f = fs(spark, root)
    requireStore(spark, f, root, mode)
    require(f.exists(new Path(s"$root/$gen")),
      s"publish: generation dir $root/$gen does not exist")
    val keep =
      if (keepGens >= 0) keepGens
      else spark.conf.get("spark.graft.gen.keepGens", "1").toInt
    // a publish boundary proves the holder is alive: refresh the writer
    // lock's mtime so a legitimate multi-publish maintenance pass
    // spanning leaseTimeoutMs is not broken mid-run by a second writer
    refreshWriterLease(spark, root)
    if (mode == "seqlog")
      publishSeqlog(spark, f, root, gen, keep)
    else
      publishRename(spark, f, root, gen, keep)
    // both boundaries prove life: retirement can itself be slow on a
    // wide root, and the holder must not look stale right after
    refreshWriterLease(spark, root)
  }

  private def publishRename(spark: SparkSession, f: FileSystem,
                            root: String, gen: String, keep: Int): Unit = {
    // a root that migrated to the seqlog protocol must not take rename
    // commits: readers prefer seq entries, so a rename flip would be
    // silently INVISIBLE — fail loudly instead. Migration means at
    // least one seq entry PARSES VALID (names an existing generation
    // dir — the only kind readers ever serve). Seq files that are ALL
    // garbage are debris from a crashed, never-committed seqlog
    // attempt: readers already ignore them, but rename-mode retirement
    // never deletes seq files, so left in place one stray file would
    // wedge every future rename publish with no in-band cleanup —
    // delete the debris here instead (single-writer context: a
    // concurrent seqlog committer on the same root would be both a
    // lease violation and a committer-mode mismatch, each of which
    // fails loudly on its own).
    val listing = f.listStatus(new Path(root))
    val dirNames = listing.iterator.filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    val seqFiles = listing.iterator.filter(st =>
      st.isFile && SeqRe.matches(st.getPath.getName))
      .map(_.getPath).toSeq
    val migrated = seqFiles.exists(p =>
      readFile(f, p).map(parseManifest)
        .exists(_.headOption.exists(dirNames.contains)))
    if (migrated)
      throw new IllegalStateException(
        s"generation root $root carries a seqlog commit log " +
        "(MANIFEST.<seq> entries) — a rename-mode publish here would " +
        "be invisible to readers, who prefer the log. Set " +
        "spark.graft.gen.committer=seqlog for this root (or, to force " +
        "a rename-mode takeover, delete every MANIFEST.<seq> file " +
        "after quiescing all writers)")
    seqFiles.foreach(p => f.delete(p, false))
    recoverWriter(f, spark, root) // heal a crashed prior publish first
    val prior = readFile(f, new Path(s"$root/$ManifestName"))
      .map(parseManifest).getOrElse(Seq.empty)
    val entries = gen +: prior.filterNot(_ == gen).take(keep)
    // commit the new manifest content atomically: full write to a tmp,
    // one rename-over to the committed-next name, one rename-over to
    // the live name — readers can never observe a partial body
    val tmp = new Path(s"$root/$NextTmpName")
    val out = f.create(tmp, true)
    try out.write(entries.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val next = new Path(s"$root/$NextName")
    renameOver(f, spark, tmp, next)
    renameOver(f, spark, next, new Path(s"$root/$ManifestName"))
    cacheWriteThrough(spark, root, entries)
    retire(spark, f, root, entries, seqFloor = Long.MinValue)
  }

  /** The conditional-put committer: append an IMMUTABLE
    * `MANIFEST.<seq>` to a sequence-numbered commit log via exclusive
    * create — the manifest is never renamed (the primitive object
    * stores lack) and never overwritten. The exclusive create is a
    * true compare-and-swap on the log head: two writers racing the
    * same slot cannot both win — the loser's create is REFUSED by the
    * store and surfaces as a loud conflict, so a manifest lost-update
    * is impossible even where the best-effort writer lease failed
    * (two leases broken as stale, a partitioned writer coming back).
    * The lease remains the guard for everything AROUND the commit —
    * concurrent RETIREMENT racing a commit can delete a winner's
    * fresh generation dir, which no pointer CAS can prevent.
    *
    * Crash anywhere: committed seq files are immutable, so the log
    * prefix up to the last full commit keeps serving; a partial top
    * file parses invalid, readers fall back one slot, and the next
    * commit claims the slot ABOVE it (max existing + 1, valid or not).
    * Legacy pointer files are left in place — they are the fallback
    * that makes the MIGRATION publish itself crash-safe — and go inert
    * the moment the first seq commit lands. */
  private def publishSeqlog(spark: SparkSession, f: FileSystem,
                            root: String, gen: String, keep: Int): Unit = {
    // ONE listing serves both the head-slot computation and the fresh
    // history seed — LIST is the expensive metadata op on the object
    // stores this committer targets
    val listing = f.listStatus(new Path(root))
    val maxSeq = listing.iterator
      .filter(_.isFile).map(_.getPath.getName)
      .collect { case SeqRe(n) => n.toLong }
      .foldLeft(0L)(math.max)
    // seed history from the resolved state — including the legacy
    // pointer on the migration publish — with a FRESH read: the commit
    // must chain off the true head, not a TTL-stale cached one
    val prior = resolveUncachedOnce(spark, root, retry = true,
      preListed = Some(listing))
    val entries = gen +: prior.filterNot(_ == gen).take(keep)
    commitSeqlogAt(spark, f, root, maxSeq + 1, entries)
    cacheWriteThrough(spark, root, entries)
    val histKeep = math.max(1,
      spark.conf.get("spark.graft.gen.manifestHistory", "3").toInt)
    retire(spark, f, root, entries, seqFloor = maxSeq + 1 - histKeep)
  }

  /** A genuinely EXCLUSIVE create. Hadoop's LocalFileSystem
    * `create(overwrite=false)` is itself a check-then-act (the same
    * non-fence the store guard names for S3A), so local roots go
    * through nio `CREATE_NEW` — one `open(O_CREAT|O_EXCL)` syscall,
    * atomic on POSIX. Everything else uses the filesystem's own
    * create-if-absent: a real fence on HDFS (namenode-arbitrated) and
    * on any store behind the `casSchemes` opt-in (whose claim is
    * exactly that its create is a conditional put). Throws
    * `IOException` (`FileAlreadyExistsException`) when the name is
    * already claimed. */
  private def createExclusive(f: FileSystem, p: Path): java.io.OutputStream =
    if (f.getScheme == "file")
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(f.makeQualified(p).toUri.getPath),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    else f.create(p, false)

  /** The CAS primitive itself, isolated so the conflict contract is
    * directly testable: claim log slot `seq` or fail LOUDLY. */
  private[graft] def commitSeqlogAt(spark: SparkSession, f: FileSystem,
                                    root: String, seq: Long,
                                    entries: Seq[String]): Unit = {
    val target = new Path(s"$root/${seqName(seq)}")
    val out =
      try createExclusive(f, target) // conditional put: fails when claimed
      catch {
        // ONLY the already-claimed refusal is a lost race; any other
        // IOException (throttling, network, permissions) propagates as
        // the store error it is — misdiagnosing a 503 as "a concurrent
        // writer" sends the operator hunting a phantom second loop and
        // the documented retry-on-conflict spinning on a dead store
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: java.nio.file.FileAlreadyExistsException) =>
          throw new IllegalStateException(
            s"seqlog manifest commit lost the race for $target — a " +
            "concurrent writer claimed the slot first (the " +
            "conditional put refused it). The index is NOT corrupted; " +
            "re-resolve the manifest and retry the maintenance pass. " +
            "Versioned writers are single-writer by contract " +
            "(withWriterLease) — a conflict here means two maintenance " +
            "loops are running against the same root.", e)
      }
    try {
      try out.write(entries.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    } catch {
      // on stores that enforce the conditional put at stream
      // COMPLETION (e.g. S3A conditional create — the PUT carries the
      // If-None-Match), a lost race surfaces here rather than at
      // create; the log is uncorrupted either way (a partial object
      // never parses valid), so surface the same retryable diagnosis
      case e: java.io.IOException =>
        throw new IllegalStateException(
          s"seqlog manifest commit to $target failed in write/close — " +
          "on conditional-put stores this is where a lost race " +
          "surfaces (the PUT is enforced on completion): treat it as " +
          "lost the race, re-resolve the manifest, and retry the " +
          "maintenance pass; on other stores it is a store error. The " +
          "log is uncorrupted either way — a partial entry never " +
          "parses valid.", e)
    }
  }

  /** Write-through: the writer's own flip is visible immediately in
    * this JVM regardless of the resolution-cache TTL. */
  private def cacheWriteThrough(spark: SparkSession, root: String,
                                entries: Seq[String]): Unit = {
    val ttlMs = cacheTtlMs(spark)
    if (ttlMs > 0)
      manifestCache.put(root, (System.nanoTime() + ttlMs * 1000000L, entries))
    else manifestCache.remove(root)
  }

  /** Post-commit retirement: delete generation dirs the new manifest
    * does not list (and no live reader lease pins), seqlog entries
    * below the history floor (immutable and superseded — deleting old
    * log files is safe on any store), and stray reader-lease tmps past
    * the lease TTL. */
  private def retire(spark: SparkSession, f: FileSystem, root: String,
                     entries: Seq[String], seqFloor: Long): Unit = {
    val keepSet = entries.toSet ++ leasedGens(f, root)
    val staleTmpBefore = System.currentTimeMillis() -
      spark.conf.get("spark.graft.gen.readerLeaseMs", "3600000").toLong
    f.listStatus(new Path(root)).foreach { st =>
      val nm = st.getPath.getName
      if (st.isDirectory && nm.matches("gen\\d+") && !keepSet.contains(nm))
        f.delete(st.getPath, true)
      else if (st.isFile) nm match {
        case SeqRe(n) if n.toLong < seqFloor =>
          f.delete(st.getPath, false)
        // a reader that crashed between lease-tmp create and rename
        // left a stray tmp — harmless (never parsed as a lease),
        // cleaned once it is older than any lease it could have become
        case _ if nm.startsWith(ReaderTmpPrefix) &&
                  st.getModificationTime < staleTmpBefore =>
          f.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  // ===== Reader leases =====
  //
  // `keepGens` is a POLICY (retain N predecessors, sized to the
  // longest expected scan); a reader lease is a GUARANTEE for the scan
  // that cannot be sized in advance — a long analytical job registers
  // the generation it resolved, and publish-time retirement skips any
  // generation a live lease names, however many flips happen
  // meanwhile. Leases are tiny `_reader.<uuid>` files under the root
  // carrying `<gen> <expiry-epoch-ms>`; the TTL
  // (`spark.graft.gen.readerLeaseMs`, default 1 h) bounds the damage
  // of a crashed reader (its lease simply expires), and EXPIRED lease
  // files are cleaned by the next publish — the single writer — so
  // readers still never mutate shared state they do not own.

  private val ReaderLeasePrefix = "_reader."
  private val ReaderTmpPrefix = "_rlease_tmp."

  /** Generations named by an UNEXPIRED reader lease. Expired or
    * garbage lease files are deleted here — called only from
    * [[publish]], on the single writer. */
  private def leasedGens(f: FileSystem, root: String): Set[String] = {
    val now = System.currentTimeMillis()
    f.listStatus(new Path(root)).iterator
      .filter(st => st.isFile &&
        st.getPath.getName.startsWith(ReaderLeasePrefix))
      .flatMap { st =>
        readFile(f, st.getPath).map(_.trim.split(" ", 2)) match {
          case Some(Array(g, exp))
              if g.matches("gen\\d+") &&
                 exp.trim.toLongOption.exists(_ > now) => Some(g)
          case _ => f.delete(st.getPath, false); None
        }
      }.toSet
  }

  /** Run `body` against the live generation DIRECTORY under a reader
    * lease: the directory is guaranteed to survive every concurrent
    * publish until `body` returns or the lease TTL
    * (`spark.graft.gen.readerLeaseMs`, default 3600000) expires —
    * whichever comes first. Acquisition re-checks the generation dir
    * AFTER writing the lease (a publish storm could retire it between
    * the manifest read and the lease landing) and retries on the next
    * live generation; the lease file is removed on completion (its
    * owner — the one mutation a reader makes is to its own lease). */
  def withReaderLease[T](spark: SparkSession, root: String)(
      body: String => T): T = {
    val f = fs(spark, root)
    val ttl = spark.conf
      .get("spark.graft.gen.readerLeaseMs", "3600000").toLong
    var attempt = 0
    while (attempt < 5) {
      val gen = live(spark, root).getOrElse(
        sys.error(s"no published generation at $root"))
      val lease =
        new Path(s"$root/$ReaderLeasePrefix${java.util.UUID.randomUUID()}")
      // land the lease ATOMICALLY: full content to a tmp name that
      // never parses as a lease, one rename-over into the _reader.*
      // name. A two-step create-then-write would expose an empty file
      // under the lease prefix, which a concurrent publish's expired-
      // lease cleanup deletes as garbage — voiding the pin mid-scan.
      // createExclusive: UUID names never collide, and the nio path on
      // local stores skips the Checksum sidecar — f.create would leave
      // an orphaned `._rlease_tmp.*.crc` behind after the rename, one
      // per lease, silently widening every future listStatus.
      // On schemes WITHOUT rename (the seqlog/casSchemes posture —
      // object stores land a put as one whole atomic object, so the
      // partial-file window the tmp dance closes does not exist there)
      // the lease is created DIRECTLY under its final name: the commit
      // protocol's no-rename guarantee extends to every root-level
      // coordination file, leases included.
      val leaseBytes =
        s"$gen ${System.currentTimeMillis() + ttl}".getBytes("UTF-8")
      val scheme = Option(f.getScheme).getOrElse("file").toLowerCase
      if (AtomicRenameSchemes.contains(scheme) ||
          confSchemes(spark, "spark.graft.gen.atomicSchemes")
            .contains(scheme)) {
        val tmp =
          new Path(s"$root/$ReaderTmpPrefix${java.util.UUID.randomUUID()}")
        val out = createExclusive(f, tmp)
        try out.write(leaseBytes) finally out.close()
        renameOver(f, spark, tmp, lease)
      } else {
        val out = createExclusive(f, lease)
        try out.write(leaseBytes) finally out.close()
      }
      // membership re-check, UNCACHED, after the lease landed. The
      // ordering invariant this leans on: publish commits its manifest
      // BEFORE taking the lease snapshot that drives retirement. So if
      // the post-lease manifest still lists our generation, any
      // publish that could retire it has not yet snapshotted leases
      // and WILL see ours; if it no longer lists it, a flip raced the
      // acquisition (its retirement may be mid-delete right now) —
      // drop the useless lease and retry on the new head. A bare
      // dir-exists probe is NOT enough: it can pass between a racing
      // publish's lease snapshot and its delete.
      invalidateManifestCache(root)
      if (manifest(spark, root).contains(gen) &&
          f.exists(new Path(s"$root/$gen")))
        try return body(s"$root/$gen")
        finally f.delete(lease, false)
      f.delete(lease, false)
      attempt += 1
    }
    throw new IllegalStateException(
      s"withReaderLease: could not pin a live generation at $root " +
      "after 5 attempts — publishes are outpacing lease acquisition")
  }

  /** Run `body` holding the root's writer lease — the loud-failure
    * enforcement of the single-writer contract [[Face.writing]] wraps
    * every versioned build/append/delete/compact in. Best-effort by design
    * (create-if-absent is the strongest primitive a plain filesystem
    * offers): a misconfigured second maintenance loop, or an ingest
    * stream racing a compaction, now fails AT ENTRY with the holder's
    * identity instead of silently corrupting the index. A lease older
    * than `spark.graft.gen.leaseTimeoutMs` (default 600000) is broken
    * — a crashed holder must not wedge maintenance forever; size the
    * timeout above the longest legitimate compaction. Readers never
    * touch the lock. Re-entrant holds are a caller bug (the faces
    * acquire only at their public entry points). */
  def withWriterLease[T](spark: SparkSession, root: String,
                         what: String, committer: String = "")(
                         body: => T): T = {
    val f = fs(spark, root)
    requireStore(spark, f, root, committerMode(spark, committer))
    f.mkdirs(new Path(root))
    val lock = new Path(s"$root/$LockName")
    val now = System.currentTimeMillis()
    // create FIRST (the uncontended case pays one call, not an
    // exists-probe plus a create); only a failed create — the lock is
    // held — pays the staleness inspection. Same atomic exclusive
    // create as the seqlog commit (O_EXCL locally — LocalFileSystem's
    // own overwrite=false is check-then-act)
    def tryCreate() =
      try Some(createExclusive(f, lock))
      catch { // only "already claimed" means held; store errors propagate
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException => None }
    var out = tryCreate()
    if (out.isEmpty) {
      val timeoutMs = spark.conf
        .get("spark.graft.gen.leaseTimeoutMs", "600000").toLong
      val stale =
        try now - f.getFileStatus(lock).getModificationTime > timeoutMs
        catch { // raced a release between create and getFileStatus
          case _: java.io.FileNotFoundException => false }
      if (stale) breakStaleLock(f, root, timeoutMs)
      out = tryCreate() // once more: after a stale-break, or a release
      if (out.isEmpty) {
        val holder = readFile(f, lock).getOrElse("<unreadable>")
        throw new IllegalStateException(
          s"writer lease at $root is held ($holder) — versioned " +
          "writers are single-writer: stop the other " +
          "append/delete/compact loop, or raise " +
          "spark.graft.gen.leaseTimeoutMs if its holder crashed")
      }
    }
    val o = out.get
    try o.write(s"$what pid=${ProcessHandle.current.pid} t=$now"
      .getBytes("UTF-8"))
    finally o.close()
    // the lease is the cross-process serialization point: a flip
    // published by the PREVIOUS holder (another process) may still sit
    // inside this JVM's resolution-cache TTL, and a versioned writer
    // resolving a stale live generation writes tombstones/appends into
    // a retired dir — silent data loss. Entering the lease therefore
    // drops the cached entry, so the face's first resolve reads the
    // true head; every later resolve inside the lease is safe to cache
    // (no one else can publish while we hold it).
    invalidateManifestCache(root)
    try body
    finally f.delete(lock, false)
  }

  /** Break an apparently-stale writer lock by RENAME-ASIDE, never
    * delete: two breakers racing a check-then-delete could interleave
    * so B deletes A's freshly created lock and both proceed. Rename is
    * atomic on the source, so exactly one breaker moves whatever file
    * sits at the lock name — but that file may no longer be the stale
    * lock it observed: a racing breaker may have already broken it and
    * created a FRESH lock, or the live holder may have refreshed its
    * mtime after the staleness read. The break therefore RE-VERIFIES
    * staleness on the moved file: genuinely stale → delete it, break
    * succeeded; fresh → rename it straight back and report the lock
    * held (if the name was reclaimed in that instant, the displaced
    * fresh lock is dropped — the residual triple-interleave is the
    * documented best-effort boundary; the seqlog CAS, not the lock, is
    * the corruption-proof primitive). Returns true iff a stale lock
    * was actually broken. */
  private[graft] def breakStaleLock(f: FileSystem, root: String,
                                    timeoutMs: Long): Boolean = {
    val lock = new Path(s"$root/$LockName")
    val aside = new Path(
      s"$root/$LockName.stale.${java.util.UUID.randomUUID()}")
    val moved =
      try f.rename(lock, aside)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!moved) return false
    val scheme = Option(f.getScheme).getOrElse("file").toLowerCase
    if (!AtomicRenameSchemes.contains(scheme)) {
      // copy+delete rename (object stores): the aside's mtime is its
      // UPLOAD time, so an mtime re-verify would always read "fresh" —
      // the break would never fire and each restore would re-stamp the
      // dead lock, wedging maintenance permanently. The caller already
      // verified staleness on the ORIGINAL lock (whose mtime the
      // rewrite-based proof-of-life keeps meaningful on these stores),
      // so delete it and accept the residual double-breaker window:
      // on these stores the seqlog CAS, not the lock, is the
      // corruption-proof primitive.
      f.delete(aside, false); return true
    }
    val asideStale =
      try System.currentTimeMillis() -
        f.getFileStatus(aside).getModificationTime > timeoutMs
      catch { case _: java.io.FileNotFoundException => true }
    if (asideStale) { f.delete(aside, false); true }
    else {
      // restore WITHOUT REPLACE: POSIX rename(2) would silently
      // clobber a lock re-created in the window (HDFS rename already
      // refuses an existing destination); if the name was reclaimed,
      // drop the displaced copy — the reclaimer is the live writer
      val restored = renameNoReplace(f, aside, lock)
      if (!restored) f.delete(aside, false)
      false
    }
  }

  /** Rename that FAILS when the destination exists. Local `file` goes
    * through nio `Files.move` without REPLACE_EXISTING (POSIX
    * rename(2) would silently replace); HDFS-class filesystems already
    * refuse an existing destination from `FileSystem.rename`. */
  private def renameNoReplace(f: FileSystem, src: Path,
                              dst: Path): Boolean =
    if (f.getScheme == "file")
      try {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(f.makeQualified(src).toUri.getPath),
          java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath))
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    else
      try f.rename(src, dst)
      catch { case scala.util.control.NonFatal(_) => false }

  /** Refresh the writer lock's mtime — proof of life for a legitimate
    * holder running longer than `leaseTimeoutMs`, so a second writer's
    * stale-break never fires on it. Called automatically at every
    * [[publish]] boundary; a face whose PRE-publish phase alone can
    * exceed the timeout should call this from its progress points (or
    * raise the timeout). No-op when the lock is absent. */
  def refreshWriterLease(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    val lock = new Path(s"$root/$LockName")
    val scheme = Option(f.getScheme).getOrElse("file").toLowerCase
    try if (f.exists(lock)) {
      // setTimes is real on the rename-capable stores; on object
      // stores mtime is the immutable upload time and setTimes is a
      // silent no-op or unsupported — there the refresh must REWRITE
      // the lock (an overwrite put re-stamps the object), preserving
      // the holder identity for the conflict diagnostics
      if (AtomicRenameSchemes.contains(scheme))
        f.setTimes(lock, System.currentTimeMillis(), -1)
      else readFile(f, lock) match {
        // the rewrite is a non-atomic read-then-overwrite, BEST-EFFORT
        // like the lease itself: if the lock is released or broken
        // between the exists/read above and the create below, the
        // rewrite resurrects a lock nobody holds, wedging writers
        // until leaseTimeoutMs (the seqlog CAS bounds the damage to a
        // wedge — never a lost update). A failed read (lock vanished,
        // or unreadable mid-race) must therefore SKIP: rewriting empty
        // content would both resurrect the ghost and blank the holder
        // identity the conflict diagnostics print. The holder loses
        // one proof-of-life beat at worst — the next publish boundary
        // refreshes again.
        case None => ()
        case Some(content) =>
          val out = f.create(lock, true)
          try out.write(content.getBytes("UTF-8")) finally out.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  // ===== In-place staging swap =====

  /** Rewrite the directory `live` in place: `write` fills
    * `<live>__compact_staging`, the live dir (when present) is parked
    * as `<live>__compact_old`, staging is promoted, old is dropped. A
    * crash between the renames leaves old parked with no live dir,
    * which [[recoverSwap]] rolls back; a crash before them leaves only
    * staging debris. Single-writer and QUIESCENT: a reader listing
    * `live` between the two renames finds nothing. */
  def swap(spark: SparkSession, live: String)(write: String => Unit): Unit = {
    val f = fs(spark, live)
    val staging = s"${live}__compact_staging"
    write(staging)
    val lp = new Path(live)
    val old = new Path(s"${live}__compact_old")
    if (f.exists(lp))
      require(f.rename(lp, old), s"compact: cannot move $live aside")
    require(f.rename(new Path(staging), lp),
      s"compact: cannot promote staging for $live")
    f.delete(old, true)
  }

  /** Roll back a [[swap]] that crashed between its renames: a parked
    * `__compact_old` with no live dir is restored, one beside a live
    * dir (crash after promote) is dropped, and staging (never live) is
    * dropped. Readers call this before every read, so two of them can
    * observe the stranded state and race the restoring rename; rename
    * is atomic, so the loser finds `live` restored by the winner and
    * goes on instead of failing its query on a healthy index. */
  def recoverSwap(spark: SparkSession, live: String): Unit = {
    val f = fs(spark, live)
    val lp = new Path(live)
    val old = new Path(s"${live}__compact_old")
    if (f.exists(old)) {
      if (!f.exists(lp)) {
        if (!f.rename(old, lp))
          require(f.exists(lp), s"recover: cannot restore $live")
      } else f.delete(old, true)
    }
    val staging = new Path(s"${live}__compact_staging")
    if (f.exists(staging)) f.delete(staging, true)
  }

  /** Parquet data files under `dir` (recursively; `_`/`.`-prefixed
    * sidecars such as `_tombstones` skipped) and the number of distinct
    * top-level `k=v` partition dirs they sit in — the small-file
    * pressure every face's `maybeCompactVersioned` triggers on.
    * (0, 0) when `dir` is absent. */
  def dataFiles(spark: SparkSession, dir: String): (Int, Int) = {
    val f = fs(spark, dir)
    // one entry per data file: the top-level dir it sits under ("" for
    // files directly in `dir`)
    def walk(p: Path, top: String): Iterator[String] =
      f.listStatus(p).iterator.flatMap { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("_") || nm.startsWith(".")) Iterator.empty
        else if (st.isDirectory) walk(st.getPath, if (top.isEmpty) nm else top)
        else if (nm.endsWith(".parquet")) Iterator.single(top)
        else Iterator.empty
      }
    val p = new Path(dir)
    if (!f.exists(p)) (0, 0)
    else {
      val tops = walk(p, "").toSeq
      (tops.size, tops.filter(_.contains("=")).distinct.size)
    }
  }

  // ===== The versioned shell =====
  //
  // Every persisted face has a generation-versioned twin that serves
  // THROUGH compaction: each generation `<root>/gen<k>` is an ordinary
  // index of that face (its own layout, sidecars and tombstones),
  // immutable once published. Readers resolve the live generation once
  // ([[Face.resolve]]) and touch only that snapshot; appends and
  // deletes land in the live generation under the writer lease; a
  // build writes generation 0 and a compaction writes the folded
  // successor reading the live one strictly read-only, then one atomic
  // manifest flip retires what falls out of grace. The faces supply
  // only their layout code — what to write, append, tombstone or fold;
  // lease, resolution, generation allocation, debris cleanup and
  // publish happen here, so each lifecycle operation (build, append,
  // delete, compact, generation flip) has exactly one place to observe.
  // `committer` is per-call on every operation, append and delete
  // included: the lease's store check derives from it, so a seqlog
  // lifecycle on a CAS-only store never needs the session-global conf.

  /** The versioned lifecycle shell of one face: `kind` names it in the
    * "no published … generation" error ("" for the sharded tier),
    * `face` prefixes its writer-lease labels (`<face>.<op>`). */
  final class Face(kind: String, face: String) {

    private val noun = if (kind.isEmpty) "generation" else s"$kind generation"

    /** The live generation dir; fails before the first publish. */
    def resolve(spark: SparkSession, root: String): String =
      liveDir(spark, root).getOrElse(
        sys.error(s"no published $noun at $root"))

    /** One writer operation on `root`, holding its writer lease. */
    final class Writer private[Face] (spark: SparkSession, root: String,
                                      committer: String) {
      /** The live generation dir, resolved inside the lease. */
      def live: String = resolve(spark, root)

      /** Allocate the next generation, clear any debris a crashed
        * attempt left there, run `write` on its dir, then publish it. A
        * crash before publish leaves the old pointer serving; the
        * partial successor is retired by the next successful publish. */
      def publishNext[T](write: String => T): T = {
        val (gen, dir) = next(spark, root)
        fs(spark, root).delete(new Path(dir), true)
        val out = write(dir)
        publish(spark, root, gen, committer = committer)
        out
      }
    }

    /** `body` under the root's writer lease, labelled `<face>.<op>`. */
    def writing[T](spark: SparkSession, root: String, op: String,
                   committer: String)(body: Writer => T): T =
      withWriterLease(spark, root, s"$face.$op", committer)(
        body(new Writer(spark, root, committer)))

    /** Write generation 0 (or a fresh successor) and publish it. */
    def build[T](spark: SparkSession, root: String, committer: String)(
        write: String => T): T =
      writing(spark, root, "build", committer)(_.publishNext(write))

    /** Append to / tombstone in the live generation dir. */
    def update[T](spark: SparkSession, root: String, op: String,
                  committer: String)(body: String => T): T =
      writing(spark, root, op, committer)(w => body(w.live))

    /** Fold the live generation (first argument, read-only) into the
      * next one (second argument) and publish it. */
    def fold[T](spark: SparkSession, root: String, committer: String)(
        write: (String, String) => T): T =
      writing(spark, root, "compact", committer) { w =>
        val live = w.live
        w.publishNext(write(live, _))
      }
  }
}
