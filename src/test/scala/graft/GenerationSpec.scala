package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.operators.InvertedIndex
import graft.queries.IndexQueries

/** Serve-through-compaction isolation: the generation-pointer MANIFEST
  * ([[Generations]]) and the versioned sharded/inverted faces built on
  * it. The production posture under test: a reader that resolved the
  * manifest BEFORE a compaction completes correctly while (and after)
  * that compaction runs to completion on the same index — published
  * generations are immutable, the pointer flip is atomic, and the
  * grace window keeps the predecessor on disk through one publish. */
class GenerationSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("manifest pointer: allocate, publish, retire, crash recovery") {
    // this test writes MANIFEST/__next files DIRECTLY (simulating the
    // crash windows of another process), so it runs with the
    // resolution cache off — the cache contract has its own test below
    spark.conf.set("spark.graft.gen.manifestCacheMs", "0")
    try manifestPointerBody()
    finally spark.conf.unset("spark.graft.gen.manifestCacheMs")
  }

  private def manifestPointerBody(): Unit = {
    val root = TempDir("graft_gen_manifest_")
    assert(Generations.live(spark, root + "/nope").isEmpty)
    assert(Generations.next(spark, root) === (("gen0", s"$root/gen0")))
    // publish refuses a generation that does not exist
    intercept[IllegalArgumentException] {
      Generations.publish(spark, root, "gen0")
    }
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    mkGen("gen0")
    Generations.publish(spark, root, "gen0")
    assert(Generations.live(spark, root) === Some("gen0"))
    assert(Generations.next(spark, root) === (("gen1", s"$root/gen1")))
    // publish keeps {new, previous}: the grace generation survives one
    // flip and is retired by the next
    mkGen("gen1"); Generations.publish(spark, root, "gen1")
    def exists(n: String) = java.nio.file.Files
      .exists(java.nio.file.Paths.get(s"$root/$n"))
    assert(exists("gen0") && exists("gen1"))
    mkGen("gen2"); Generations.publish(spark, root, "gen2")
    assert(!exists("gen0") && exists("gen1") && exists("gen2"))
    assert(Generations.live(spark, root) === Some("gen2"))
    // crashed publish, window 1: a GARBAGE next (partial write) is
    // dropped and the old pointer keeps serving
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeNext(s: String): Unit = {
      val out = f.create(
        new org.apache.hadoop.fs.Path(s"$root/MANIFEST__next"), true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    writeNext("gen9")          // names a non-existent generation
    assert(Generations.live(spark, root) === Some("gen2"))
    // readers are READ-ONLY: the garbage next is ignored, not deleted
    // (mutating recovery in every reader was the round-14 ADVICE race)
    assert(exists("MANIFEST__next"))
    // crashed publish, window 2: a VALID committed next is newer than
    // the live pointer and wins, even with the live pointer deleted —
    // still without the reader mutating anything
    mkGen("gen3"); writeNext("gen3")
    f.delete(new org.apache.hadoop.fs.Path(s"$root/MANIFEST"), false)
    assert(Generations.live(spark, root) === Some("gen3"))
    assert(exists("MANIFEST__next"), "reader promoted the next pointer")
    // a crashed compaction's partial dir never collides (monotone
    // numbering) and is retired by the next successful publish, which
    // also promotes the stranded committed next (writer-side recovery)
    mkGen("gen4") // partial debris
    assert(Generations.next(spark, root) === (("gen5", s"$root/gen5")))
    mkGen("gen5"); Generations.publish(spark, root, "gen5")
    assert(!exists("gen4") && exists("gen3") && exists("gen5"))
    assert(!exists("MANIFEST__next"))
    assert(Generations.live(spark, root) === Some("gen5"))
  }

  test("manifest cache: zero reads within the TTL; own flips instant; a foreign flip lands within the TTL") {
    val root = TempDir("graft_gen_mcache_")
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    mkGen("gen0"); Generations.publish(spark, root, "gen0")
    spark.conf.set("spark.graft.gen.manifestCacheMs", "400")
    Generations.invalidateManifestCache(root)
    try {
      val r0 = Generations.manifestReads.get()
      assert(Generations.live(spark, root) === Some("gen0"))
      assert(Generations.live(spark, root) === Some("gen0"))
      assert(Generations.liveDir(spark, root) === Some(s"$root/gen0"))
      assert(Generations.manifestReads.get() === r0 + 1,
        "repeat resolutions within the TTL hit the filesystem")
      // the writer's own flip is visible immediately — publish writes
      // through the cache, costing zero resolution reads
      mkGen("gen1"); Generations.publish(spark, root, "gen1")
      val r1 = Generations.manifestReads.get()
      assert(Generations.live(spark, root) === Some("gen1"))
      assert(Generations.manifestReads.get() === r1,
        "a same-JVM flip was not served from the write-through cache")
      // a FOREIGN flip (another process: manifest rewritten directly)
      // is stale inside the TTL — bounded staleness the grace window
      // absorbs — and picked up after it
      mkGen("gen2")
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = f.create(
        new org.apache.hadoop.fs.Path(s"$root/MANIFEST"), true)
      try out.write("gen2\ngen1".getBytes("UTF-8")) finally out.close()
      assert(Generations.live(spark, root) === Some("gen1"),
        "cached resolution should still serve the pre-flip pointer")
      Thread.sleep(500)
      assert(Generations.live(spark, root) === Some("gen2"),
        "the foreign flip was not picked up after the TTL")
    } finally {
      spark.conf.unset("spark.graft.gen.manifestCacheMs")
      Generations.invalidateManifestCache(root)
    }
  }

  test("manifest grace depth: keepGens retains N predecessors; a slow reader survives two publishes") {
    val root = TempDir("graft_gen_keep_")
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    def exists(n: String) = java.nio.file.Files
      .exists(java.nio.file.Paths.get(s"$root/$n"))
    mkGen("gen0"); Generations.publish(spark, root, "gen0", keepGens = 2)
    // the reader resolves ONCE here (a long analytical scan holding
    // gen0's files) ...
    val held = Generations.liveDir(spark, root).get
    assert(held === s"$root/gen0")
    // ... and two maintenance cycles run before it finishes
    mkGen("gen1"); Generations.publish(spark, root, "gen1", keepGens = 2)
    mkGen("gen2"); Generations.publish(spark, root, "gen2", keepGens = 2)
    assert(exists("gen0"),
      "keepGens=2 must retain the second predecessor a slow reader holds")
    assert(exists("gen1") && exists("gen2"))
    // the third publish finally retires it
    mkGen("gen3"); Generations.publish(spark, root, "gen3", keepGens = 2)
    assert(!exists("gen0") && exists("gen1") && exists("gen2") &&
      exists("gen3"))
    // the conf knob drives the default depth the same way
    spark.conf.set("spark.graft.gen.keepGens", "2")
    try {
      mkGen("gen4"); Generations.publish(spark, root, "gen4")
      assert(exists("gen2") && exists("gen3") && exists("gen4") &&
        !exists("gen1"))
    } finally spark.conf.unset("spark.graft.gen.keepGens")
  }

  test("reader lease: a leased generation survives any number of publishes; expiry and release retire it") {
    val root = TempDir("graft_gen_rlease_")
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    def exists(n: String) = java.nio.file.Files
      .exists(java.nio.file.Paths.get(s"$root/$n"))
    mkGen("gen0"); Generations.publish(spark, root, "gen0")
    // a scan that cannot be sized in advance pins its generation: the
    // dir survives THREE publishes at keepGens=0 (grace alone would
    // have retired it on the first)
    Generations.withReaderLease(spark, root) { dir =>
      assert(dir === s"$root/gen0")
      // the lease landed ATOMICALLY: exactly one fully-formed
      // _reader.* file (gen + expiry), no half-written tmp left behind
      // — a partial lease is what a concurrent publish's cleanup would
      // delete as garbage, voiding the pin
      val lstream = java.nio.file.Files.list(
          java.nio.file.Paths.get(root))
      val names = scala.collection.mutable.Buffer.empty[String]
      try {
        val listed = lstream.iterator()
        while (listed.hasNext) names += listed.next().getFileName.toString
      } finally lstream.close()
      val leases = names.filter(_.startsWith("_reader."))
      assert(leases.size === 1)
      val body = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/${leases.head}")), "UTF-8")
      assert(body.matches("gen0 \\d+"), s"malformed lease body: $body")
      assert(!names.exists(_.startsWith("_rlease_tmp.")),
        "lease tmp not renamed into place")
      (1 to 3).foreach { i =>
        mkGen(s"gen$i")
        Generations.publish(spark, root, s"gen$i", keepGens = 0)
        assert(exists("gen0"),
          s"leased generation retired by publish #$i")
      }
      // the leased snapshot is still fully readable mid-scan
      assert(Generations.live(spark, root) === Some("gen3"))
    }
    // released: the next publish retires it (and the stale gen1/gen2)
    mkGen("gen4"); Generations.publish(spark, root, "gen4", keepGens = 0)
    assert(!exists("gen0") && !exists("gen2") && exists("gen4"))
    // an EXPIRED lease does not block retirement — a crashed reader
    // cannot pin disk forever
    spark.conf.set("spark.graft.gen.readerLeaseMs", "1")
    try {
      intercept[RuntimeException] { // body throws; lease file removed
        Generations.withReaderLease(spark, root) { _ => sys.error("x") }
      }
      // write one directly to simulate the crash (owner never releases)
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = f.create(
        new org.apache.hadoop.fs.Path(s"$root/_reader.crashed"), true)
      try out.write(s"gen4 ${System.currentTimeMillis() + 1}"
        .getBytes("UTF-8")) finally out.close()
      Thread.sleep(50)
      mkGen("gen5"); Generations.publish(spark, root, "gen5", keepGens = 0)
      assert(!exists("gen4"),
        "an expired reader lease still blocked retirement")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/_reader.crashed")),
        "publish did not clean the expired lease file")
    } finally spark.conf.unset("spark.graft.gen.readerLeaseMs")
  }

  test("writer lease: a second writer fails loudly; the index stays serveable; stale leases break") {
    val root = TempDir("graft_gen_lease_")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/gen0"))
    Generations.withWriterLease(spark, root, "test.build") {
      Generations.publish(spark, root, "gen0")
    }
    // writer A holds the lease (a long compaction in flight) ...
    Generations.withWriterLease(spark, root, "writerA.compact") {
      // ... writer B — a misconfigured second maintenance loop — must
      // fail AT ENTRY with the holder's identity, not corrupt silently
      val e = intercept[IllegalStateException] {
        Generations.withWriterLease(spark, root, "writerB.compact") { () }
      }
      assert(e.getMessage.contains("writerA.compact"))
      // readers never touch the lock: serving continues under the lease
      assert(Generations.live(spark, root) === Some("gen0"))
    }
    // release on completion: the next writer proceeds
    Generations.withWriterLease(spark, root, "writerC") { () }
    // a crashed holder's stale lease breaks after the timeout (the
    // outer release then deletes a lock that is already gone — a no-op)
    Generations.withWriterLease(spark, root, "crashed") {
      Thread.sleep(50) // let the lease age past the 1 ms timeout
      spark.conf.set("spark.graft.gen.leaseTimeoutMs", "1")
      try Generations.withWriterLease(spark, root, "after-crash") { () }
      finally spark.conf.unset("spark.graft.gen.leaseTimeoutMs")
    }
    // a failed acquire must NOT delete the holder's live lease on its
    // way out: writerD holds, E fails, D's lease still blocks F
    Generations.withWriterLease(spark, root, "writerD") {
      intercept[IllegalStateException] {
        Generations.withWriterLease(spark, root, "writerE") { () }
      }
      intercept[IllegalStateException] {
        Generations.withWriterLease(spark, root, "writerF") { () }
      }
    }
    // proof-of-life: a long-running holder that reaches a publish
    // boundary refreshes the lock's mtime, so a second writer's
    // stale-break does NOT fire on a live holder past the timeout
    Generations.withWriterLease(spark, root, "longHolder") {
      Thread.sleep(400) // age the lock past the timeout below
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$root/gen1"))
      Generations.publish(spark, root, "gen1") // touches the lock
      spark.conf.set("spark.graft.gen.leaseTimeoutMs", "300")
      try {
        val e = intercept[IllegalStateException] {
          Generations.withWriterLease(spark, root, "impatient") { () }
        }
        assert(e.getMessage.contains("longHolder"),
          "publish-refreshed lock was broken as stale")
      } finally spark.conf.unset("spark.graft.gen.leaseTimeoutMs")
    }
  }

  test("object-store guard: writer entry points fail loudly on a scheme without atomic rename") {
    val local = TempDir("graft_gen_scheme_")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", classOf[NonAtomicMockFs].getName)
    val root = s"mock://${local}"
    // both writer faces refuse: the manifest flip and the writer lock
    // are only correct on stores with real rename + exclusive create
    val e1 = intercept[IllegalStateException] {
      Generations.withWriterLease(spark, root, "w") { () }
    }
    assert(e1.getMessage.contains("'mock'") &&
      e1.getMessage.contains("atomicSchemes"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$local/gen0"))
    val e2 = intercept[IllegalStateException] {
      Generations.publish(spark, root, "gen0")
    }
    assert(e2.getMessage.contains("'mock'"))
    // READERS stay unguarded — resolving a manifest is safe anywhere
    assert(Generations.live(spark, root).isEmpty)
    // the conscious opt-in: a deployment whose store genuinely
    // provides both primitives declares it and proceeds
    spark.conf.set("spark.graft.gen.atomicSchemes", "mock")
    try Generations.withWriterLease(spark, root, "w") { () }
    finally spark.conf.unset("spark.graft.gen.atomicSchemes")
  }

  test("seqlog committer: conditional-put commit log — publish, migration, crash fallback, history retirement") {
    // direct file surgery below (simulating other processes' commits
    // and crashes), so the resolution cache is off
    spark.conf.set("spark.graft.gen.manifestCacheMs", "0")
    spark.conf.set("spark.graft.gen.committer", "seqlog")
    try seqlogBody()
    finally {
      spark.conf.unset("spark.graft.gen.committer")
      spark.conf.unset("spark.graft.gen.manifestCacheMs")
    }
  }

  private def seqlogBody(): Unit = {
    val root = TempDir("graft_gen_seqlog_")
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    def exists(n: String) = java.nio.file.Files
      .exists(java.nio.file.Paths.get(s"$root/$n"))
    // MIGRATION: the root starts with rename-mode history — the first
    // seqlog publish must seed its grace chain from the legacy pointer
    spark.conf.set("spark.graft.gen.committer", "rename")
    mkGen("gen0"); Generations.publish(spark, root, "gen0")
    spark.conf.set("spark.graft.gen.committer", "seqlog")
    mkGen("gen1"); Generations.publish(spark, root, "gen1")
    assert(Generations.live(spark, root) === Some("gen1"))
    assert(exists("MANIFEST.000000000001"),
      "seqlog publish did not append to the commit log")
    assert(exists("gen0"), "migration publish lost the grace chain")
    // the legacy pointer stays as the migration's crash fallback but
    // is INERT: seq entries win even where it disagrees
    assert(exists("MANIFEST"))
    // the manifest is never renamed in seqlog mode: each flip appends
    // a new immutable seq file
    mkGen("gen2"); Generations.publish(spark, root, "gen2")
    assert(exists("MANIFEST.000000000001") && exists("MANIFEST.000000000002"))
    assert(Generations.live(spark, root) === Some("gen2"))
    assert(!exists("gen0") && exists("gen1"), "grace depth broke in seqlog")
    // CRASHED COMMITTER: a partial (empty) top seq file parses invalid
    // — readers fall back one slot, the next commit claims the slot
    // ABOVE the garbage, and the garbage ages out of the history floor
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.create(new org.apache.hadoop.fs.Path(
      s"$root/MANIFEST.000000000007"), true).close()
    assert(Generations.live(spark, root) === Some("gen2"),
      "a partial top seq file was not skipped")
    // ... same for one naming a generation that does not exist
    val bad = f.create(new org.apache.hadoop.fs.Path(
      s"$root/MANIFEST.000000000008"), true)
    try bad.write("gen99".getBytes("UTF-8")) finally bad.close()
    assert(Generations.live(spark, root) === Some("gen2"))
    mkGen("gen3"); Generations.publish(spark, root, "gen3")
    assert(exists("MANIFEST.000000000009"),
      "the next commit did not claim the slot above the garbage")
    assert(Generations.live(spark, root) === Some("gen3"))
    // HISTORY RETIREMENT: old log entries below the floor (default
    // keeps 3) are deleted — immutable files, safe to delete anywhere
    assert(!exists("MANIFEST.000000000001"),
      "history floor did not retire the oldest log entries")
    assert(exists("MANIFEST.000000000009"))
  }

  test("seqlog committer: the conditional put refuses a claimed slot; racing writers never lose an update") {
    spark.conf.set("spark.graft.gen.committer", "seqlog")
    try {
      val root = TempDir("graft_gen_cas_")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$root/gen0"))
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Generations.publish(spark, root, "gen0")
      // the CAS primitive, head-on: the same slot cannot be claimed
      // twice; the loser fails LOUDLY and corrupts nothing
      Generations.commitSeqlogAt(spark, f, root, 50L, Seq("gen0"))
      val e = intercept[IllegalStateException] {
        Generations.commitSeqlogAt(spark, f, root, 50L, Seq("gen0"))
      }
      assert(e.getMessage.contains("lost the race"))
      Generations.invalidateManifestCache(root)
      assert(Generations.live(spark, root) === Some("gen0"))
      // racing writers on the COMMIT itself: 4 threads × 5 commits,
      // read-head-then-claim with retry-on-conflict (the documented
      // recovery). Exclusive create makes a log lost-update
      // impossible: no slot is ever claimed twice, so the head
      // advances by exactly one per success and the raced commits
      // land CONTIGUOUSLY. (Full concurrent publish — commit PLUS
      // retirement — stays single-writer under the lease: retirement
      // racing a commit can delete a winner's fresh generation dir,
      // which no pointer CAS can prevent; that contract is documented
      // and the lease spec holds it.)
      def maxSeq(): Long = {
        val stream = java.nio.file.Files.list(
          java.nio.file.Paths.get(root))
        var mx = 0L
        try {
          val it = stream.iterator()
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            if (n.matches("MANIFEST\\.\\d{12}"))
              mx = math.max(mx, n.stripPrefix("MANIFEST.").toLong)
          }
        } finally stream.close()
        mx
      }
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val conflicts = new java.util.concurrent.atomic.AtomicInteger
      val threads = (0 until 4).map { _ =>
        new Thread(() => try {
          (0 until 5).foreach { _ =>
            var done = false
            while (!done) {
              try {
                Generations.commitSeqlogAt(spark, f, root, maxSeq() + 1,
                  Seq("gen0"))
                done = true
              } catch {
                case e: IllegalStateException
                    if e.getMessage.contains("lost the race") =>
                  conflicts.incrementAndGet() // loud, loses nothing
              }
            }
          }
        } catch { case t: Throwable => errors.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join(300000))
      assert(errors.isEmpty, s"racing committer failed: ${errors.peek()}")
      val stream2 = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      val names = scala.collection.mutable.Buffer.empty[String]
      try {
        val seqs = stream2.iterator()
        while (seqs.hasNext) names += seqs.next().getFileName.toString
      } finally stream2.close()
      val logSeqs = names.collect {
        case n if n.matches("MANIFEST\\.\\d{12}") =>
          n.stripPrefix("MANIFEST.").toLong
      }.sorted
      // 1 initial publish + 1 manual claim + 20 raced commits: every
      // slot unique, the raced ones contiguous above the manual slot
      // (no lost update, no double-claim)
      assert(logSeqs.size === 22, s"log slots: $logSeqs")
      assert(logSeqs.distinct.size === logSeqs.size)
      assert(logSeqs.max === 70L, // 50 (manual) + 20 raced commits
        s"raced commits were not contiguous: $logSeqs")
      Generations.invalidateManifestCache(root)
      assert(Generations.live(spark, root) === Some("gen0"))
    } finally spark.conf.unset("spark.graft.gen.committer")
  }

  test("manifest cache epoch fence: an invalidation racing the cache put cannot strand a pre-flip manifest") {
    // The fence in manifest() is check-then-act: an invalidation can
    // land BETWEEN the epoch check and the put, after its own remove
    // ran — without the re-check-after-put repair, the resolve would
    // repopulate the cache with the pre-flip manifest and serve it
    // stale for a full TTL, breaking the lease paths'
    // invalidate-then-resolve guarantee. The test hook injects exactly
    // that interleaving.
    val root = TempDir("graft_gen_epochrace_")
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    spark.conf.set("spark.graft.gen.manifestCacheMs", "60000")
    try {
      mkGen("gen0"); Generations.publish(spark, root, "gen0")
      Generations.invalidateManifestCache(root)
      mkGen("gen1")
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // one-shot hook: between the fence check (passed, pre-flip) and
      // the put, a foreign flip lands AND its invalidation runs
      Generations.cachePutTestHook = { r =>
        if (r == root) {
          Generations.cachePutTestHook = _ => ()
          val out = f.create(
            new org.apache.hadoop.fs.Path(s"$root/MANIFEST"), true)
          try out.write("gen1\ngen0".getBytes("UTF-8")) finally out.close()
          Generations.invalidateManifestCache(root)
        }
      }
      try {
        // this resolve reads the pre-flip manifest, passes the fence,
        // then the hook fires; its own RETURN value is legitimately
        // stale (it resolved before the flip) ...
        assert(Generations.live(spark, root) === Some("gen0"))
      } finally Generations.cachePutTestHook = _ => ()
      // ... but the stale value must NOT have survived in the cache:
      // the next resolve hits the filesystem and serves the flip
      val r0 = Generations.manifestReads.get()
      assert(Generations.live(spark, root) === Some("gen1"),
        "the raced put stranded a pre-flip manifest in the cache")
      assert(Generations.manifestReads.get() === r0 + 1,
        "the post-race resolve did not hit the filesystem")
    } finally {
      Generations.cachePutTestHook = _ => ()
      spark.conf.unset("spark.graft.gen.manifestCacheMs")
      Generations.invalidateManifestCache(root)
    }
  }

  test("rename publish: garbage seqlog debris is cleaned, a genuinely migrated root still refuses") {
    spark.conf.set("spark.graft.gen.manifestCacheMs", "0")
    try {
      val root = TempDir("graft_gen_seqdebris_")
      def mkGen(n: String): Unit = java.nio.file.Files
        .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
      mkGen("gen0"); Generations.publish(spark, root, "gen0")
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // debris from a crashed, never-committed seqlog attempt: a
      // partial (empty) seq file and one naming a non-existent gen —
      // readers ignore both, and rename-mode publishes must not be
      // permanently wedged by them
      f.create(new org.apache.hadoop.fs.Path(
        s"$root/MANIFEST.000000000003"), true).close()
      val bad = f.create(new org.apache.hadoop.fs.Path(
        s"$root/MANIFEST.000000000004"), true)
      try bad.write("gen99".getBytes("UTF-8")) finally bad.close()
      mkGen("gen1"); Generations.publish(spark, root, "gen1")
      assert(Generations.live(spark, root) === Some("gen1"))
      def exists(n: String) = java.nio.file.Files
        .exists(java.nio.file.Paths.get(s"$root/$n"))
      assert(!exists("MANIFEST.000000000003") &&
        !exists("MANIFEST.000000000004"),
        "rename publish did not clean the garbage seqlog debris")
      // a VALID seq entry (names an existing gen dir) = a migrated
      // root: the rename publish refuses loudly, with the remediation
      val valid = f.create(new org.apache.hadoop.fs.Path(
        s"$root/MANIFEST.000000000005"), true)
      try valid.write("gen1".getBytes("UTF-8")) finally valid.close()
      mkGen("gen2")
      val e = intercept[IllegalStateException] {
        Generations.publish(spark, root, "gen2")
      }
      assert(e.getMessage.contains("seqlog commit log") &&
        e.getMessage.contains("delete every MANIFEST.<seq>"))
      assert(exists("MANIFEST.000000000005"),
        "the refusal must not delete a migrated root's commit log")
    } finally spark.conf.unset("spark.graft.gen.manifestCacheMs")
  }

  test("writer-lease refresh on object-store schemes never resurrects a vanished lock") {
    // the rewrite-based proof-of-life is read-then-overwrite: if the
    // lock was released between the exists probe and the read, the
    // refresh must SKIP — re-creating it would wedge the next writer
    // until leaseTimeoutMs behind a lock nobody holds
    val local = TempDir("graft_gen_norevive_")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", classOf[NonAtomicMockFs].getName)
    val root = s"mock://${local}"
    // no lock at all: refresh is a no-op, nothing appears
    Generations.refreshWriterLease(spark, root)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$local/_writer.lock")),
      "refresh resurrected a lock on an empty root")
  }

  test("seqlog retirement: readers resolve a valid head through every partial-retire state; the legacy seed survives") {
    spark.conf.set("spark.graft.gen.manifestCacheMs", "0")
    spark.conf.set("spark.graft.gen.committer", "seqlog")
    try seqlogRetireBody()
    finally {
      spark.conf.unset("spark.graft.gen.committer")
      spark.conf.unset("spark.graft.gen.manifestCacheMs")
    }
  }

  private def seqlogRetireBody(): Unit = {
    val root = TempDir("graft_gen_seqretire_")
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    def exists(n: String) = java.nio.file.Files
      .exists(java.nio.file.Paths.get(s"$root/$n"))
    // a MIGRATED root: rename-mode seed, then seqlog commits — the
    // legacy MANIFEST is the fallback a reader needs if every listed
    // seq entry vanishes inside its read window
    spark.conf.set("spark.graft.gen.committer", "rename")
    mkGen("gen0"); Generations.publish(spark, root, "gen0")
    spark.conf.set("spark.graft.gen.committer", "seqlog")
    (1 to 6).foreach { i =>
      mkGen(s"gen$i"); Generations.publish(spark, root, s"gen$i")
    }
    // (a) history floor: gen6's commit claims seq 6; with the default
    // manifestHistory=3 the floor is 6 - 3 = 3, so seqs 1..2 retire
    // and 3..6 remain
    assert(!exists("MANIFEST.000000000002") &&
      exists("MANIFEST.000000000003") && exists("MANIFEST.000000000006"))
    // (c) retirement never touches the legacy seed
    assert(exists("MANIFEST"),
      "seqlog retirement deleted the legacy migration seed")
    // (b) CRASH MID-RETIRE, simulated at every partial state: a
    // retiring committer deletes oldest-first; whatever prefix of the
    // retained history is already gone, a reader listing now still
    // resolves a valid head (falls back down the log, then to the
    // legacy seed + fresh-list retry — never an empty or invalid head)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (sq <- 3 to 5) {
      f.delete(new org.apache.hadoop.fs.Path(
        f"$root/MANIFEST.$sq%012d"), false)
      val live = Generations.live(spark, root)
      assert(live === Some("gen6"),
        s"mid-retire reader lost the head after deleting seq $sq: $live")
    }
    // the log is RECOVERABLE after the crash: the next publish chains
    // off the surviving head and retires nothing it should not
    mkGen("gen7"); Generations.publish(spark, root, "gen7")
    assert(Generations.live(spark, root) === Some("gen7"))
    assert(exists("MANIFEST.000000000007") && exists("MANIFEST"))
    // grace chain intact through the crashed retire (gen6 retained)
    assert(exists("gen6") && exists("gen7"))
    // out-of-contract state (reachable only by surgery — retirement
    // always keeps histKeep ≥ 1 seq entries): EVERY seq file deleted.
    // Resolution degrades to the legacy seed WITHOUT throwing (after
    // one validated fresh-list retry) — graceful degradation, never a
    // reader crash; the served chain is the migration-era pointer,
    // which is exactly what the seed exists to provide
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(root))
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.matches("MANIFEST\\.\\d{12}"))
          f.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), false)
      }
    } finally stream.close()
    assert(Generations.manifest(spark, root) === Seq("gen0"),
      "with the whole log gone, resolution must fall to the legacy seed")
  }

  test("writer lease entry drops the cached manifest: a foreign flip inside the TTL cannot misroute a versioned write") {
    val root = TempDir("graft_gen_wfresh_")
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    spark.conf.set("spark.graft.gen.manifestCacheMs", "60000")
    try {
      mkGen("gen0"); Generations.publish(spark, root, "gen0")
      // a FOREIGN flip (another process compacted and published)
      mkGen("gen1")
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = f.create(
        new org.apache.hadoop.fs.Path(s"$root/MANIFEST"), true)
      try out.write("gen1\ngen0".getBytes("UTF-8")) finally out.close()
      // serving paths may stay TTL-stale (grace absorbs it) ...
      assert(Generations.live(spark, root) === Some("gen0"))
      // ... but a WRITER must not: tombstones/appends resolved against
      // a retired generation are silent data loss, so lease entry
      // drops the cached entry and the face's resolve reads the head
      Generations.withWriterLease(spark, root, "fresh-check") {
        assert(Generations.live(spark, root) === Some("gen1"),
          "a versioned writer resolved a TTL-stale head under the lease")
      }
    } finally {
      spark.conf.unset("spark.graft.gen.manifestCacheMs")
      Generations.invalidateManifestCache(root)
    }
  }

  test("reader lease acquisition re-checks membership uncached: a raced flip cannot hand out a dir mid-retirement") {
    val root = TempDir("graft_gen_rfresh_")
    def mkGen(n: String): Unit = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/$n"))
    spark.conf.set("spark.graft.gen.manifestCacheMs", "60000")
    try {
      mkGen("gen0"); Generations.publish(spark, root, "gen0")
      // foreign keepGens=0 flip with retirement still in flight: the
      // new manifest no longer lists gen0, but its dir still exists —
      // the exact window where a bare exists-probe would wrongly pin
      mkGen("gen1")
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = f.create(
        new org.apache.hadoop.fs.Path(s"$root/MANIFEST"), true)
      try out.write("gen1".getBytes("UTF-8")) finally out.close()
      assert(Generations.live(spark, root) === Some("gen0")) // stale
      Generations.withReaderLease(spark, root) { dir =>
        assert(dir === s"$root/gen1",
          "acquisition pinned a generation the manifest no longer lists")
      }
    } finally {
      spark.conf.unset("spark.graft.gen.manifestCacheMs")
      Generations.invalidateManifestCache(root)
    }
  }

  test("stale-break re-verifies on the moved lock: a fresh lock is restored, a genuinely stale one breaks") {
    val root = TempDir("graft_gen_break_")
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lockP = java.nio.file.Paths.get(s"$root/_writer.lock")
    // a FRESH lock (a racing winner's re-create, or a holder that
    // refreshed after this breaker's staleness read): the rename-aside
    // inspects what it actually moved, puts it back, and reports held
    java.nio.file.Files.write(lockP, "holderX".getBytes("UTF-8"))
    assert(!Generations.breakStaleLock(f, root, timeoutMs = 600000),
      "a fresh lock was broken as stale")
    assert(java.nio.file.Files.exists(lockP),
      "the displaced fresh lock was not restored")
    assert(new String(java.nio.file.Files.readAllBytes(lockP),
      "UTF-8") === "holderX", "restore corrupted the holder identity")
    // a genuinely stale lock (old mtime) breaks
    java.nio.file.Files.setLastModifiedTime(lockP,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600000))
    assert(Generations.breakStaleLock(f, root, timeoutMs = 1000),
      "a stale lock did not break")
    assert(!java.nio.file.Files.exists(lockP))
  }

  test("writer-lease refresh rewrites the lock on stores without setTimes semantics") {
    // object stores (the casSchemes/seqlog posture) have immutable
    // mtimes — setTimes is a silent no-op — so proof-of-life there
    // must re-put the lock object, preserving the holder identity
    val local = TempDir("graft_gen_refresh_")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", classOf[NonAtomicMockFs].getName)
    val root = s"mock://${local}"
    val lockP = java.nio.file.Paths.get(s"$local/_writer.lock")
    java.nio.file.Files.write(lockP, "holderY pid=1 t=0".getBytes("UTF-8"))
    val old = System.currentTimeMillis() - 3600000
    java.nio.file.Files.setLastModifiedTime(lockP,
      java.nio.file.attribute.FileTime.fromMillis(old))
    Generations.refreshWriterLease(spark, root)
    assert(java.nio.file.Files.getLastModifiedTime(lockP).toMillis >
      old + 1800000, "refresh did not re-stamp the lock on a " +
      "non-rename-capable scheme")
    assert(new String(java.nio.file.Files.readAllBytes(lockP), "UTF-8")
      === "holderY pid=1 t=0", "rewrite lost the holder identity")
  }

  test("stale-break on object-store schemes deletes without the mtime re-verify") {
    // copy+delete rename gives the moved-aside lock a FRESH upload
    // mtime, so an aside re-verify would always read "not stale" —
    // never breaking, and each restore re-stamping the dead lock (a
    // permanent maintenance wedge). On those schemes the break trusts
    // the caller's staleness read of the ORIGINAL lock (kept
    // meaningful by the rewrite-based proof-of-life) and deletes.
    val local = TempDir("graft_gen_osbreak_")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", classOf[NonAtomicMockFs].getName)
    val root = s"mock://${local}"
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(conf)
    val lockP = java.nio.file.Paths.get(s"$local/_writer.lock")
    java.nio.file.Files.write(lockP, "dead".getBytes("UTF-8"))
    // even with a file mtime that LOOKS fresh post-move (exactly what
    // a copy-based rename produces), the object-store path must break
    assert(Generations.breakStaleLock(f, root, timeoutMs = 600000),
      "object-store stale-break wedged on the copied mtime")
    assert(!java.nio.file.Files.exists(lockP))
    val dstream = java.nio.file.Files.list(java.nio.file.Paths.get(local))
    try {
      val it = dstream.iterator()
      var debris = false
      while (it.hasNext)
        if (it.next().getFileName.toString.contains(".stale."))
          debris = true
      assert(!debris, "stale-break left aside debris")
    } finally dstream.close()
  }

  test("object-store guard: seqlog requires only the conditional put, gated by casSchemes") {
    val local = TempDir("graft_gen_casscheme_")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", classOf[NonAtomicMockFs].getName)
    val root = s"mock://${local}"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$local/gen0"))
    spark.conf.set("spark.graft.gen.committer", "seqlog")
    try {
      // no opt-in: the seqlog writer still refuses an unknown scheme —
      // whether the store's create is a real conditional put is a
      // deployment fact the library cannot probe
      val e = intercept[IllegalStateException] {
        Generations.publish(spark, root, "gen0")
      }
      assert(e.getMessage.contains("casSchemes") &&
        e.getMessage.contains("'mock'"))
      // the conscious opt-in unlocks the FULL writer surface on a
      // store with conditional put but WITHOUT atomic rename — the
      // posture S3-with-conditional-writes lands in
      spark.conf.set("spark.graft.gen.casSchemes", "mock")
      Generations.withWriterLease(spark, root, "cas-writer") {
        Generations.publish(spark, root, "gen0")
      }
      assert(Generations.live(spark, root) === Some("gen0"))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"$local/MANIFEST.000000000001")))
      // rename-mode publish on the same scheme still refuses: the
      // opt-ins are per-primitive, not blanket
      spark.conf.set("spark.graft.gen.committer", "rename")
      val e2 = intercept[IllegalStateException] {
        Generations.publish(spark, root, "gen0")
      }
      assert(e2.getMessage.contains("atomicSchemes"))
    } finally {
      spark.conf.unset("spark.graft.gen.casSchemes")
      spark.conf.unset("spark.graft.gen.committer")
      Generations.invalidateManifestCache(root)
    }
  }

  test("sharded face: a pre-compact reader serves through a concurrent compaction") {
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val root = TempDir("graft_gen_sharded_")
    ShardedIndex.resetResidencyTracking()
    ShardedIndex.buildVersioned(spark, emb.filter(col("vec_id") < 250),
      IndexQueries.FixtureParams, nShards = 2, root)
    ShardedIndex.appendVersioned(spark,
      emb.filter(col("vec_id") >= 250), root, IndexQueries.FixtureParams)
    val victims = Seq(5L, 260L) // one base gid, one delta gid
    assert(ShardedIndex.deleteVersioned(spark, root, victims) === 2L)

    val q = emb.filter(col("vec_id") % 30 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def top10(r: ShardedIndexRef): Map[Long, Seq[Long]] =
      ShardedIndex.searchSingleDf(spark, q, r, l = 600, k = 16)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(t => (-t._3, t._2)).take(10).map(_._2).toSeq)
        .toMap

    // the reader resolves the PRE-compact manifest once
    val r0 = ShardedIndex.resolveVersioned(spark, root, "cosine")
    assert(r0.path === s"$root/gen0" && r0.nDeltas === 1)
    val before = top10(r0)
    assert(before.values.flatten.forall(d => !victims.contains(d)),
      "mask did not hide the victims pre-compact")

    // ... and keeps querying WHILE the compaction runs to completion
    val readerResults =
      new java.util.concurrent.ConcurrentLinkedQueue[Map[Long, Seq[Long]]]
    val readerErrors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reader = new Thread(() =>
      try (1 to 3).foreach(_ => readerResults.add(top10(r0)))
      catch { case t: Throwable => readerErrors.add(t) })
    reader.start()
    val r1 = ShardedIndex.compactVersioned(spark, root,
      IndexQueries.FixtureParams)
    reader.join(300000)
    assert(readerErrors.isEmpty,
      s"concurrent reader failed: ${readerErrors.peek()}")
    readerResults.forEach(m => assert(m === before,
      "concurrent reader diverged mid-compaction"))
    assert(r1.path === s"$root/gen1" && r1.nDeltas === 0)

    // the pre-compact snapshot still answers AFTER the flip (grace)
    assert(top10(r0) === before,
      "pre-compact reader broke after the pointer flip")
    // the new generation serves the identical survivor results, with
    // the mask fully retired into its dead sidecars
    val live = ShardedIndex.resolveVersioned(spark, root, "cosine")
    assert(live.path === s"$root/gen1")
    assert(top10(live) === before, "compaction changed survivor results")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/gen1/_tombstones")))
    assert(ShardedIndex.deletedFraction(spark, live) === 0.0)

    // a second compaction retires gen0 (out of grace) and CARRIES the
    // prior erasures forward through its sidecars. Driven through the
    // maintenance-loop trigger: below threshold = same live ref, no
    // new generation; above = versioned compact.
    assert(ShardedIndex.deleteVersioned(spark, root, Seq(7L)) === 1L)
    val expected = top10(live) // mask semantics on the live snapshot
    assert(ShardedIndex.maybeCompactVersioned(spark, root,
      IndexQueries.FixtureParams) === live,
      "trigger fired below every threshold")
    val r2 = ShardedIndex.maybeCompactVersioned(spark, root,
      IndexQueries.FixtureParams, maxDeletedFrac = 0.001)
    assert(r2.path === s"$root/gen2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/gen0")),
      "out-of-grace generation was not retired")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/gen1")))
    val after2 = top10(ShardedIndex.resolveVersioned(spark, root, "cosine"))
    val gone = victims :+ 7L
    assert(after2.values.flatten.forall(d => !gone.contains(d)),
      "an erased id resurfaced after the second generation flip")
    assert(after2 === expected,
      "second-generation erasure diverged from mask semantics")
  }

  test("sharded face: leased batches serve through a concurrent compaction at keepGens=0") {
    // the production caller path (LifecycleSweep's phased reader loop):
    // each batch resolves AND searches under ShardedIndex
    // .withReaderLease, with NO grace window — the flip retires the
    // predecessor immediately unless a live lease pins it. Every
    // batch, including any in flight across the flip, must answer the
    // identical survivor set with zero errors.
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 250)
    val root = TempDir("graft_gen_leasedserve_")
    ShardedIndex.resetResidencyTracking()
    ShardedIndex.buildVersioned(spark, emb, IndexQueries.FixtureParams,
      nShards = 2, root)
    assert(ShardedIndex.deleteVersioned(spark, root, Seq(5L, 44L)) === 2L)
    val q = emb.filter(col("vec_id") % 30 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def leasedTop10(): Map[Long, Seq[Long]] =
      ShardedIndex.withReaderLease(spark, root, "cosine") { r =>
        ShardedIndex.searchSingleDf(spark, q, r, l = 600, k = 16)
          .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
          .groupBy(_._1).view
          .mapValues(_.sortBy(t => (-t._3, t._2)).take(10).map(_._2).toSeq)
          .toMap
      }
    val before = leasedTop10()
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[Map[Long, Seq[Long]]]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reader = new Thread(() =>
      try (1 to 4).foreach(_ => results.add(leasedTop10()))
      catch { case t: Throwable => errors.add(t) })
    spark.conf.set("spark.graft.gen.keepGens", "0")
    try {
      reader.start()
      val r1 = ShardedIndex.compactVersioned(spark, root,
        IndexQueries.FixtureParams)
      assert(r1.path === s"$root/gen1")
      reader.join(300000)
      assert(errors.isEmpty,
        s"leased reader failed across the keepGens=0 flip: ${errors.peek()}")
      results.forEach(m => assert(m === before,
        "a leased batch diverged across the keepGens=0 flip"))
      // post-flip batches serve the successor, same survivors
      assert(leasedTop10() === before)
      // nothing stays pinned once the readers released: either the
      // flip already retired gen0 (no lease spanned it), or the lease
      // that pinned it has been released and the NEXT publish retires
      // it (publish is when expired/released pins are re-evaluated)
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$root/gen0"))) {
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$root/gen2"))
        Generations.publish(spark, root, "gen2", keepGens = 0)
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$root/gen0")),
          "released leases kept pinning the retired generation")
      }
    } finally spark.conf.unset("spark.graft.gen.keepGens")
  }

  test("dead-sidecar writers: the distributive path produces the driver path's sidecars") {
    // Two identical versioned indexes take the SAME two purge cycles —
    // one under the standing driver-array writer, one forced through
    // the distributive join writer (maxDriverIds=1, the mass-revocation
    // posture) — and every shard's dead sidecar must come out as the
    // same id set, including the second cycle's merge with an EXISTING
    // sidecar and the flip's carry of prior erasures.
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    ShardedIndex.resetResidencyTracking()
    def lifecycle(tag: String): String = {
      val root = TempDir(s"graft_gen_dist_$tag")
      ShardedIndex.buildVersioned(spark, emb,
        IndexQueries.FixtureParams, nShards = 2, root)
      // purge 1: a mass tranche (every third gid)
      assert(ShardedIndex.deleteVersioned(spark, root,
        (0L until 300L by 3).toSeq) === 100L)
      ShardedIndex.compactVersioned(spark, root, IndexQueries.FixtureParams)
      // purge 2: a second wave merging into the existing sidecars
      assert(ShardedIndex.deleteVersioned(spark, root,
        (1L until 300L by 30).toSeq) === 10L)
      ShardedIndex.compactVersioned(spark, root,
        IndexQueries.FixtureParams).path
    }
    val drv = lifecycle("drv")
    spark.conf.set("spark.graft.ann.deadSidecar.maxDriverIds", "1")
    val dist =
      try lifecycle("dist")
      finally spark.conf.unset("spark.graft.ann.deadSidecar.maxDriverIds")
    def deadSet(p: String, s: Int): Set[Long] =
      spark.read.parquet(s"$p/shard$s/dead")
        .select(col("vec_id")).as[Long].collect().toSet
    (0 until 2).foreach { s =>
      assert(deadSet(drv, s).nonEmpty)
      assert(deadSet(dist, s) === deadSet(drv, s),
        s"distributive sidecar diverged from the driver path on shard $s")
    }
    // and the served survivors agree between the two writers
    val q = emb.filter(col("vec_id") % 40 === 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def top5(p: String): Map[Long, Seq[Long]] =
      ShardedIndex.searchSingleDf(spark, q,
          ShardedIndexRef(p, 2, "cosine"), l = 600, k = 8)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(t => (-t._3, t._2)).take(5).map(_._2).toSeq)
        .toMap
    assert(top5(dist) === top5(drv))
  }

  test("parallel shard search: pooled per-shard jobs return the sequential results") {
    // the serving-QPS lever (SWEEP_SERVE_COMPACT: the sequential
    // per-shard job loop binds a many-shard batch) must be a pure
    // scheduling change — same candidates, same scores, same order
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val root = TempDir("graft_gen_parshard_")
    ShardedIndex.resetResidencyTracking()
    ShardedIndex.buildVersioned(spark, emb.filter(col("vec_id") < 250),
      IndexQueries.FixtureParams, nShards = 4, root)
    // a delta shard too: the pooled path must cover both dir kinds
    ShardedIndex.appendVersioned(spark,
      emb.filter(col("vec_id") >= 250), root, IndexQueries.FixtureParams)
    val ref = ShardedIndex.resolveVersioned(spark, root, "cosine")
    val q = emb.filter(col("vec_id") % 25 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def rows(): Set[(Long, Long, Double)] =
      ShardedIndex.searchSingleDf(spark, q, ref, l = 600, k = 16)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .toSet
    spark.conf.set("spark.graft.index.residentShards", "8")
    val seq = rows()
    spark.conf.set("spark.graft.index.parallelShardSearch", "4")
    try assert(rows() === seq,
      "parallel per-shard search diverged from the sequential loop")
    finally {
      spark.conf.unset("spark.graft.index.parallelShardSearch")
      spark.conf.unset("spark.graft.index.residentShards")
    }
  }

  test("versioned re-shard: growth changes the shard count through the flip; erasures carry") {
    // Delta-ingest grows the corpus past the per-shard size target; the
    // in-place compact cannot change shard count for a serving index
    // (readers would race the re-stripe), so the generation flip is
    // where the re-shard happens: autoShards picks the new count, the
    // rebuild re-derives the strided gid contract from scratch, the
    // dead set re-maps to the new (shard, local) split, readers hold
    // the grace generation.
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 400)
    val root = TempDir("graft_gen_reshard_")
    ShardedIndex.resetResidencyTracking()
    ShardedIndex.buildVersioned(spark, emb.filter(col("vec_id") < 200),
      IndexQueries.FixtureParams, nShards = 2, root)
    ShardedIndex.appendVersioned(spark,
      emb.filter(col("vec_id") >= 200), root, IndexQueries.FixtureParams)
    val victims = Seq(11L, 230L)
    assert(ShardedIndex.deleteVersioned(spark, root, victims) === 2L)
    val q = emb.filter(col("vec_id") % 40 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def top10(r: ShardedIndexRef): Map[Long, Seq[Long]] =
      ShardedIndex.searchSingleDf(spark, q, r, l = 800, k = 16)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(t => (-t._3, t._2)).take(10).map(_._2).toSeq)
        .toMap
    val pre = ShardedIndex.resolveVersioned(spark, root, "cosine")
    val before = top10(pre)
    // below the growth trigger: 400 rows / target 100 = 4 != 2 → fires
    val grown = ShardedIndex.maybeCompactVersioned(spark, root,
      IndexQueries.FixtureParams, maxDeltaFrac = 10, maxDeletedFrac = 10,
      maxShardDeletedFrac = 10, targetShardRows = 100)
    assert(grown.path === s"$root/gen1" && grown.nShards === 4,
      s"re-shard produced ${grown.nShards} shards at ${grown.path}")
    assert(grown.nDeltas === 0)
    // identical survivor results across the re-shard; grace intact
    assert(top10(grown) === before, "re-shard changed survivor results")
    assert(top10(pre) === before, "grace generation broke across re-shard")
    // erasures carried: mask retired, victims held out by the re-mapped
    // dead sidecars alone
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${grown.path}/_tombstones")))
    val served = ShardedIndex.searchSingleDf(spark, q, grown, l = 800,
      k = 16).select("d_id").collect().map(_.getLong(0)).toSet
    assert(victims.forall(!served.contains(_)),
      "an erased id resurfaced after the re-shard")
    // stable at the new layout: the trigger is quiet on a re-resolve
    assert(ShardedIndex.maybeCompactVersioned(spark, root,
      IndexQueries.FixtureParams, maxDeltaFrac = 10, maxDeletedFrac = 10,
      maxShardDeletedFrac = 10, targetShardRows = 100) === grown)
  }

  test("inverted face: a pre-compact reader serves through a concurrent compaction") {
    val root = TempDir("graft_gen_inv_")
    val docs = (1L to 40L).map(i =>
      (i, s"term${i % 7} term${i % 5} shared filler${i % 3}"))
      .toDF("doc_id", "text")
    InvertedIndex.buildVersioned(spark, docs, root)
    InvertedIndex.appendVersioned(spark,
      (41L to 60L).map(i => (i, s"term${i % 7} shared extra"))
        .toDF("doc_id", "text"), root)
    assert(InvertedIndex.deleteVersioned(spark, root,
      Seq(3L, 45L)) === 2L)

    val terms = Seq("term1", "shared")
    def ranked(dir: String): Seq[(Long, Double)] =
      InvertedIndex.bm25Query(spark, dir, terms, k = 15)
        .select(col("doc_id"), round(col("score"), 6).as("s"))
        .as[(Long, Double)].collect().toSeq.sortBy(t => (-t._2, t._1))

    val d0 = InvertedIndex.resolveVersioned(spark, root)
    assert(d0 === s"$root/gen0")
    val before = ranked(d0)
    assert(before.nonEmpty && !before.exists(r => Set(3L, 45L)(r._1)))

    val readerResults =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Double)]]
    val readerErrors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reader = new Thread(() =>
      try (1 to 3).foreach(_ => readerResults.add(ranked(d0)))
      catch { case t: Throwable => readerErrors.add(t) })
    reader.start()
    val d1 = InvertedIndex.compactVersioned(spark, root)
    reader.join(300000)
    assert(readerErrors.isEmpty,
      s"concurrent reader failed: ${readerErrors.peek()}")
    readerResults.forEach(r => assert(r === before,
      "concurrent reader diverged mid-compaction"))

    assert(d1 === s"$root/gen1")
    assert(ranked(d0) === before, "pre-compact reader broke post-flip")
    assert(ranked(InvertedIndex.resolveVersioned(spark, root)) === before,
      "compaction changed BM25 results")
    // the compacted generation physically erased the dead docs' content
    assert(spark.read.parquet(s"$root/gen1/postings")
      .filter(col("doc_id").isin(3L, 45L)).count() === 0L)
    // second flip retires gen0; ingest + delete keep working on the
    // live generation, and the maintenance trigger drives the fold:
    // below threshold = same live dir, above = a new generation
    InvertedIndex.appendVersioned(spark,
      Seq((61L, "term1 shared tail")).toDF("doc_id", "text"), root)
    assert(InvertedIndex.deleteVersioned(spark, root, Seq(8L)) === 1L)
    assert(InvertedIndex.maybeCompactVersioned(spark, root) === d1,
      "lexical trigger fired below both thresholds")
    val d2 = InvertedIndex.maybeCompactVersioned(spark, root,
      maxDeletedFrac = 0.001)
    assert(d2 === s"$root/gen2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/gen0")),
      "out-of-grace generation was not retired")
    val after = ranked(InvertedIndex.resolveVersioned(spark, root))
    assert(!after.exists(r => Set(3L, 45L, 8L)(r._1)))
    assert(after.exists(_._1 == 61L), "post-flip ingest lost")
  }
}
