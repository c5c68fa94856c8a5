package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.Generations

/** Cross-PROCESS evidence for the generation layer's coordination
  * claims. Every in-JVM race spec shares one manifest cache and one
  * filesystem view; the lease and CAS contracts are claims about
  * SEPARATE processes with separate caches — so these tests spawn a
  * second JVM ([[TwoProcessMain]], plain `java -cp` with the test
  * classpath) against the same root:
  *
  *  - publish-vs-publish on the seqlog committer: two processes race
  *    the same log slot; the conditional put lets exactly one win and
  *    the loser fails LOUDLY with zero corruption;
  *  - writer-lease mutual exclusion: a second process fails at entry
  *    with the holder's identity while the lock is held, and acquires
  *    cleanly after release;
  *  - reader lease: a generation pinned by another process survives
  *    this process's keepGens=0 publishes until the lease is released.
  */
class ForkedJvmSpec extends AnyFunSuite {
  import TestSpark._

  /** The forked test JVM carries the full test classpath and the
    * JDK17 add-opens Spark needs; pass both through to the child. */
  private def childJvmArgs: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toList
    val opens = in.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", i) => in.lift(i + 1).toSeq
        .flatMap(v => Seq("--add-opens", v))
      case _ => Seq.empty
    }
    opens ++ Seq("-Xmx1g")
  }

  private def launch(logDir: String, args: String*): Process = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = (Seq(javaBin) ++ childJvmArgs ++
      Seq("-cp", cp, "graft.TwoProcessMain") ++ args)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(
      s"$logDir/child_${args.mkString("_").hashCode.abs}.log"))
    pb.start()
  }

  private def awaitFile(p: String, proc: Seq[Process],
                        ms: Long = 180000): String = {
    val t0 = System.currentTimeMillis()
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(p))) {
      proc.foreach { pr =>
        if (!pr.isAlive && pr.exitValue() != 0 &&
            !java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
          sys.error(s"child exited ${pr.exitValue()} before writing $p")
      }
      if (System.currentTimeMillis() - t0 > ms)
        sys.error(s"timeout waiting for $p")
      Thread.sleep(50)
    }
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")
  }

  test("query-pack fixture temp dirs are deleted when their JVM exits") {
    val dir = TempDir("graft_fork_tempdir_")
    val r = s"$dir/r"
    val p = launch(dir, "tempdir", r)
    try {
      assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM did not exit")
      assert(p.exitValue() === 0)
      val made = awaitFile(r, Seq(p))
      assert(made.contains("graft_fork_reaped_"), made)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(made)),
        s"fixture dir $made outlived its JVM")
    } finally p.destroyForcibly()
  }

  test("seqlog CAS across processes: two JVMs race one log slot; exactly one conditional put wins") {
    val dir = TempDir("graft_fork_cas_")
    val root = s"$dir/root"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/gen0"))
    val go = s"$dir/go"
    val r1 = s"$dir/r1"; val r2 = s"$dir/r2"
    val p1 = launch(dir, "cas", root, "60", go, r1)
    val p2 = launch(dir, "cas", root, "60", go, r2)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(go),
        "go".getBytes("UTF-8"))
      val results = Seq(awaitFile(r1, Seq(p1)), awaitFile(r2, Seq(p2)))
      assert(results.sorted === Seq("lost", "win"),
        s"cross-process CAS race results: $results")
      // the winner's commit is intact and resolvable from THIS process
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/MANIFEST.000000000060")),
        "UTF-8") === "gen0")
      Generations.invalidateManifestCache(root)
      assert(Generations.live(spark, root) === Some("gen0"))
    } finally { p1.destroyForcibly(); p2.destroyForcibly() }
  }

  test("writer lease across processes: a second JVM is excluded loudly while held, acquires after release") {
    val dir = TempDir("graft_fork_wlease_")
    val root = s"$dir/root"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    var blocked: String = null
    Generations.withWriterLease(spark, root, "parentHolder.compact") {
      val r = s"$dir/r_blocked"
      val p = launch(dir, "writer", root, r)
      try blocked = awaitFile(r, Seq(p))
      finally { p.waitFor(); p.destroyForcibly() }
    }
    assert(blocked.startsWith("blocked:"),
      s"second process was not excluded: $blocked")
    assert(blocked.contains("parentHolder.compact"),
      s"exclusion did not name the holder: $blocked")
    // released: a fresh child acquires cleanly
    val r2 = s"$dir/r_after"
    val p2 = launch(dir, "writer", root, r2)
    try assert(awaitFile(r2, Seq(p2)) === "acquired")
    finally { p2.waitFor(); p2.destroyForcibly() }
  }

  test("serve-through-re-shard across processes: another JVM's leased searches answer identically through two keepGens=0 flips here") {
    // the face-level form of the reader-lease claim: the OTHER process
    // is not just holding a lease file, it is reading the generation's
    // parquet (vectors, graphs, dead sidecars) through searchSingleDf
    // while THIS process re-shards the index twice with no grace
    // window. Survivor results are flip-invariant (pinned in-JVM by
    // GenerationSpec's re-shard test); what this adds is that a
    // separate process's in-flight scans never observe a mid-retire
    // state — no read error, no divergence, across real file reads.
    import org.apache.spark.sql.functions.col
    import graft.index.ShardedIndex
    import graft.queries.IndexQueries
    val dir = TempDir("graft_fork_serve_")
    val root = s"$dir/root"
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 250)
    ShardedIndex.resetResidencyTracking()
    ShardedIndex.buildVersioned(spark, emb, IndexQueries.FixtureParams,
      nShards = 2, root)
    assert(ShardedIndex.deleteVersioned(spark, root, Seq(5L, 44L)) === 2L)
    val ready = s"$dir/ready"; val stop = s"$dir/stop"
    val result = s"$dir/result"
    val p = launch(dir, "serve", root, sfDir, ready, stop, result)
    spark.conf.set("spark.graft.gen.keepGens", "0")
    try {
      assert(awaitFile(ready, Seq(p)) === "ready")
      // two re-shard flips (2 -> more -> 2) with retirement immediate
      // except where the child's lease pins; survivors unchanged
      val g1 = ShardedIndex.compactVersioned(spark, root,
        IndexQueries.FixtureParams, targetShardRows = 60)
      assert(g1.path === s"$root/gen1" && g1.nShards > 2)
      val g2 = ShardedIndex.compactVersioned(spark, root,
        IndexQueries.FixtureParams, targetShardRows = 125)
      assert(g2.path === s"$root/gen2" && g2.nShards === 2)
      java.nio.file.Files.write(java.nio.file.Paths.get(stop),
        "stop".getBytes("UTF-8"))
      val res = awaitFile(result, Seq(p))
      p.waitFor()
      assert(res.startsWith("ok "),
        s"cross-process leased serving failed: $res")
      assert(res.stripPrefix("ok ").trim.toInt >= 2,
        s"child completed too few iterations to span a flip: $res")
      assert(p.exitValue() === 0, "serve child failed")
    } finally {
      spark.conf.unset("spark.graft.gen.keepGens")
      p.destroyForcibly()
    }
  }

  // The DEAD-process recovery claim, one case per committer: the other
  // protocol tests prove exclusion between LIVE processes; this kills
  // the second JVM with SIGKILL mid-publish — after its commit point
  // (seqlog: the CAS create landed; rename: MANIFEST__next committed),
  // before retirement or lock release — and asserts the test JVM
  // (a) already serves the committed flip read-only, (b) is excluded
  // LOUDLY while the dead holder's lease is fresh, (c) recovers by
  // breaking the timed-out lease, and (d) its next publish CHAINS ON
  // the dead process's committed flip instead of losing it.
  for (committer <- Seq("rename", "seqlog"))
    test(s"kill -9 mid-publish ($committer): dead holder's committed flip survives, lease times out, next publish recovers") {
      val dir = TempDir(s"graft_fork_kill9_${committer}_")
      val root = s"$dir/root"
      def mkGen(n: String): Unit = java.nio.file.Files
        .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
      def exists(n: String) = java.nio.file.Files
        .exists(java.nio.file.Paths.get(s"$root/$n"))
      mkGen("gen0")
      Generations.publish(spark, root, "gen0", committer = committer)
      mkGen("gen1") // the child's flip target must exist to parse valid
      val committed = s"$dir/committed"
      val p = launch(dir, "crashpublish", root, committer, committed)
      try {
        assert(awaitFile(committed, Seq(p)) === "committed")
        p.destroyForcibly() // SIGKILL: no finally blocks, no lock release
        p.waitFor()
        // the dead process's commit is already read-preferred
        Generations.invalidateManifestCache(root)
        assert(Generations.live(spark, root) === Some("gen1"),
          s"$committer: committed flip of the killed publisher not served")
        assert(exists("_writer.lock"),
          "SIGKILL should have left the writer lock in place")
        // fresh lease (default 10 min timeout): loud exclusion naming
        // the dead holder — never silent corruption
        val e = intercept[IllegalStateException] {
          Generations.withWriterLease(spark, root, "parentProbe",
            committer) { fail("must not acquire over a fresh dead lease") }
        }
        assert(e.getMessage.contains("childCrashPublisher"),
          s"exclusion did not name the dead holder: ${e.getMessage}")
        // timed-out lease: the next writer breaks it and publishes,
        // chaining on the dead process's flip (gen1 becomes the grace
        // predecessor, gen0 retires)
        spark.conf.set("spark.graft.gen.leaseTimeoutMs", "500")
        Thread.sleep(600)
        mkGen("gen2")
        Generations.withWriterLease(spark, root, "parentRecovery",
          committer) {
          Generations.publish(spark, root, "gen2", committer = committer)
        }
        assert(Generations.manifest(spark, root) === Seq("gen2", "gen1"),
          s"$committer: recovery publish did not chain on the dead flip")
        assert(!exists("gen0"), "out-of-grace generation not retired")
        assert(!exists("_writer.lock"),
          "recovery did not release the writer lock")
        if (committer == "seqlog") {
          // the dead process's log entry is intact and the recovery
          // claimed the slot ABOVE it
          assert(new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$root/MANIFEST.000000000002")),
            "UTF-8") === "gen1\ngen0")
          assert(new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$root/MANIFEST.000000000003")),
            "UTF-8") === "gen2\ngen1")
        } else {
          // the stranded committed-next was promoted, then flipped over
          assert(!exists("MANIFEST__next"),
            "recovery left the stranded committed-next in place")
          assert(new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$root/MANIFEST")), "UTF-8")
            === "gen2\ngen1")
        }
      } finally {
        spark.conf.unset("spark.graft.gen.leaseTimeoutMs")
        p.destroyForcibly()
      }
    }

  test("kill -9 the reader: a dead JVM's fresh lease still pins; after its TTL the next publish retires generation and lease file") {
    // the symmetric claim to the kill -9 publisher cases: the READER
    // dies mid-scan holding a lease. (a) While the lease is fresh its
    // pinned generation must survive keepGens=0 publishes — a reader
    // that is merely slow is indistinguishable from a dead one, and
    // deleting under it would corrupt an in-flight scan. (b) Once the
    // lease's own TTL passes, the next publish must retire the pinned
    // generation (a dead reader must not wedge storage reclamation
    // forever) and (c) delete the leaked lease file — no unbounded
    // lease-file accumulation from crashed readers.
    val dir = TempDir("graft_fork_kill9_reader_")
    val root = s"$dir/root"
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    def exists(n: String) = java.nio.file.Files
      .exists(java.nio.file.Paths.get(s"$root/$n"))
    def readerLeases(): Long = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try s.filter(_.getFileName.toString.startsWith("_reader.")).count()
      finally s.close()
    }
    mkGen("gen0"); Generations.publish(spark, root, "gen0")
    val leased = s"$dir/leased"
    // 8 s TTL: long enough that the first (fresh-lease) publish below
    // certainly lands inside it, short enough to wait out
    val p = launch(dir, "readerpin", root, "8000", leased)
    try {
      assert(awaitFile(leased, Seq(p)) === s"$root/gen0")
      p.destroyForcibly() // SIGKILL mid-scan: no release, no cleanup
      p.waitFor()
      assert(readerLeases() === 1,
        "SIGKILL should have left the reader lease file in place")
      // (a) the dead-but-fresh lease pins through a keepGens=0 flip
      mkGen("gen1"); Generations.publish(spark, root, "gen1", keepGens = 0)
      assert(exists("gen0"),
        "a fresh lease of a dead reader did not pin its generation")
      // (b)+(c) after the TTL, the next publish retires AND cleans up
      Thread.sleep(8200) // > ttl since acquisition (stamped at acquire)
      mkGen("gen2"); Generations.publish(spark, root, "gen2", keepGens = 0)
      assert(!exists("gen0"),
        "an expired dead-reader lease kept pinning its generation")
      assert(!exists("gen1"), "keepGens=0 grace should retire gen1")
      assert(readerLeases() === 0,
        "the expired dead-reader lease file leaked")
    } finally p.destroyForcibly()
  }

  test("kill -9 mid-ingest-batch: the other JVM dies with the delta landed but unrecorded; serving stays exact and the next batch recovers") {
    // the cross-PROCESS form of ingestVectorBatch's documented crash
    // window (the in-process hook test lives in StreamingSpec): a
    // second JVM runs one streaming ingest micro-batch and is SIGKILLed
    // after appendDelta landed the delta shard but before the caller
    // could record the new ref. What must hold here: (a) the held
    // (pre-append) ref still serves EXACTLY the base corpus — the
    // orphan delta is invisible to it; (b) the redelivered batch
    // against that ref is not a skip: appendDelta re-validates the same
    // dense window and OVERWRITES the orphan delta dir byte-
    // convergently, after which the grown corpus serves completely.
    import org.apache.spark.sql.functions.col
    import graft.index.{ShardedIndex, ShardedIndexRef}
    import graft.queries.IndexQueries
    import graft.streaming.StreamingIngest
    val dir = TempDir("graft_fork_kill9_ingest_")
    val root = s"$dir/root"
    val (nBase, batchEnd) = (200L, 250L)
    val e = Tables.embeddings(spark, sfDir)
    ShardedIndex.resetResidencyTracking()
    ShardedIndex.buildPersisted(spark, e.filter(col("vec_id") < nBase),
      IndexQueries.FixtureParams, 1, root)
    val sig = s"$dir/appended"
    val p = launch(dir, "crashingest", root, sfDir, nBase.toString,
      batchEnd.toString, sig)
    try {
      assert(awaitFile(sig, Seq(p)) === "appended")
      p.destroyForcibly() // SIGKILL: the child's ref update never happens
      p.waitFor()
      val held = ShardedIndexRef(root, 1, IndexQueries.FixtureParams.metric)
      // (a) the held ref is blind to the orphan delta: exactly the base
      // corpus is exposed at saturating budget
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      def exposed(r: ShardedIndexRef): Set[Long] =
        ShardedIndex.searchSingleDf(spark, q, r,
            l = 2 * batchEnd.toInt, k = batchEnd.toInt)
          .select("d_id").distinct().collect().map(_.getLong(0)).toSet
      assert(exposed(held) === (0L until nBase).toSet,
        "held-ref serving saw the dead JVM's unrecorded delta (or lost " +
          "base rows)")
      // (b) at-least-once redelivery against the held ref converges:
      // same dense window, delta dir overwritten, corpus complete
      val batch = e.filter(col("vec_id") >= nBase &&
        col("vec_id") < batchEnd)
      // compactAt raised above this batch's 50/200 delta fraction so
      // the redelivery's ACTION stays observable as a plain append
      // (the fold path has its own lifecycle certificates)
      val (ref1, action) = StreamingIngest.ingestVectorBatch(spark, batch,
        held, IndexQueries.FixtureParams, compactAt = 0.5)
      assert(action === "append",
        s"redelivery after the kill was '$action', not a clean append")
      assert(ShardedIndex.totalRows(spark, ref1) === batchEnd)
      assert(exposed(ref1) === (0L until batchEnd).toSet,
        "recovered index does not serve the full grown corpus")
    } finally p.destroyForcibly()
  }

  test("kill -9 mid-takedown-fan-out: the other JVM dies between faces; replay converges every face and serving stays exact") {
    // the cross-PROCESS form of takedownBatch's non-transactional
    // fan-out window: a second JVM applies one deletion micro-batch to
    // two faces (inverted, then sharded) and is SIGKILLed after face 1
    // — inverted tombstoned, sharded untouched. At-least-once replay
    // from THIS process must converge: the already-deleted face reports
    // 0 new, the missed face applies fully, a second replay reports all
    // zeros, and the sharded face then serves exactly the survivors.
    import org.apache.spark.sql.functions.col
    import graft.index.{ShardedIndex, ShardedIndexRef}
    import graft.operators.InvertedIndex
    import graft.queries.IndexQueries
    import graft.streaming.StreamingIngest
    val dir = TempDir("graft_fork_kill9_takedown_")
    val shardedPath = s"$dir/sharded"
    val invPath = s"$dir/inv"
    val e = Tables.embeddings(spark, sfDir)
    ShardedIndex.resetResidencyTracking()
    ShardedIndex.buildPersisted(spark, e.filter(col("vec_id") < 250),
      IndexQueries.FixtureParams, 1, shardedPath)
    InvertedIndex.append(spark,
      Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text")), invPath)
    val feed = e.filter(col("vec_id") < 250 && col("vec_id") % 13 === 0)
      .select(col("vec_id"))
    val nFeed = feed.count() // ids 0,13,...,247
    val sig = s"$dir/applied"
    val p = launch(dir, "crashtakedown", shardedPath, invPath, sfDir, sig)
    try {
      assert(awaitFile(sig, Seq(p)) === "applied 1")
      p.destroyForcibly() // SIGKILL between face 1 and face 2
      p.waitFor()
      // replay from this process: the dead JVM's applied face converges
      // to zero, the missed face applies fully
      val replay = StreamingIngest.takedownBatch(
        invertedIndexPath = Some(invPath),
        shardedIndexPath = Some(shardedPath))(feed, 1L)
      assert(replay("inverted") === 0L,
        s"face applied by the killed JVM re-deleted: $replay")
      assert(replay("sharded") === nFeed,
        s"face missed by the killed JVM did not apply fully: $replay")
      // a second replay converges everywhere
      val replay2 = StreamingIngest.takedownBatch(
        invertedIndexPath = Some(invPath),
        shardedIndexPath = Some(shardedPath))(feed, 2L)
      assert(replay2.values.forall(_ === 0L),
        s"takedown replay did not converge: $replay2")
      // the sharded face serves exactly the survivors at saturation
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val exposed = ShardedIndex.searchSingleDf(spark, q,
          ShardedIndexRef(shardedPath, 1,
            IndexQueries.FixtureParams.metric),
          l = 500, k = 250)
        .select("d_id").distinct().collect().map(_.getLong(0)).toSet
      assert(exposed ===
        (0L until 250L).filter(_ % 13 != 0).toSet,
        "post-recovery serving does not match the survivor set")
    } finally p.destroyForcibly()
  }

  test("reader lease across processes: a generation pinned by another JVM survives keepGens=0 publishes here") {
    val dir = TempDir("graft_fork_rlease_")
    val root = s"$dir/root"
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    def exists(n: String) = java.nio.file.Files
      .exists(java.nio.file.Paths.get(s"$root/$n"))
    mkGen("gen0"); Generations.publish(spark, root, "gen0")
    val leased = s"$dir/leased"; val release = s"$dir/release"
    val p = launch(dir, "readerlease", root, leased, release)
    try {
      assert(awaitFile(leased, Seq(p)) === s"$root/gen0")
      // this process flips twice at keepGens=0 — grace alone would
      // retire gen0 on the first flip; the OTHER process's lease pins it
      mkGen("gen1"); Generations.publish(spark, root, "gen1", keepGens = 0)
      mkGen("gen2"); Generations.publish(spark, root, "gen2", keepGens = 0)
      assert(exists("gen0"),
        "a reader lease held by another process did not pin its generation")
      // release: the child deletes its lease on the way out, and the
      // next publish here retires the pinned generation
      java.nio.file.Files.write(java.nio.file.Paths.get(release),
        "release".getBytes("UTF-8"))
      awaitFile(release + ".done", Seq(p))
      p.waitFor()
      assert(p.exitValue() === 0, "reader-lease child failed")
      mkGen("gen3"); Generations.publish(spark, root, "gen3", keepGens = 0)
      assert(!exists("gen0"),
        "the released cross-process lease kept pinning its generation")
    } finally p.destroyForcibly()
  }
}
