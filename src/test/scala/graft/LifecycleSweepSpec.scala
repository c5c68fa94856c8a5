package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.LifecycleSweep

/** Every [[LifecycleSweep]] arm once at fixture scale, through the same
  * argument parsing and table the main runs, asserting the columns that
  * do not depend on the clock; and the phased reader loop's handshake and
  * teardown. */
class LifecycleSweepSpec extends AnyFunSuite {
  import TestSpark._

  private val KeepGens = "spark.graft.gen.keepGens"

  /** Runs `arm` with `args`, `OUT` standing for a fresh out.tsv, and
    * returns the written table as one column → cell map per row. */
  private def sweep(arm: String, args: String*): Seq[Map[String, String]] = {
    val out = TempDir(s"graft_lifecycle_${arm}_") + "/out.tsv"
    Console.withOut(new ByteArrayOutputStream()) {
      LifecycleSweep.sweep(spark, arm +: args.map(a => if (a == "OUT") out else a))
    }
    val lines = Files.readAllLines(Paths.get(out)).asScala.toSeq
    val header = lines.head.split("\t").toSeq
    lines.tail.map(l => header.zip(l.split("\t", -1)).toMap)
  }

  private def tranche(n: Long, pct: Int): Long = (0L until n).count(_ % 100 < pct)
  private lazy val nEmb = Tables.embeddings(spark, sfDir).count()
  private lazy val nDocs = Tables.documents(spark, sfDir).count()

  test("fold: every versioned face folds its whole corpus and the exact tranche") {
    val rows = sweep("fold", sfDir, "10", "OUT")
    assert(rows.map(_("face")) === Seq("ivfpq", "sq8", "band", "cell"))
    rows.foreach { r =>
      val n = if (r("face") == "band") nDocs else nEmb
      assert(r("rows").toLong === n, r)
      assert(r("del_rows").toLong === tranche(n, 10), r)
    }
  }

  test("revoke: the driver-array and distributive sidecar writers erase the same wave") {
    // the arm itself requires the two writers' dead sidecars to agree
    val rows = sweep("revoke", sfDir, "2", "0.3", "OUT", "fixture")
    assert(rows.map(_("mode")) === Seq("driver", "distributive"))
    assert(rows.map(_("rows").toLong).toSet === Set(nEmb))
    assert(rows.map(_("deleted").toLong).toSet === Set((nEmb + 2) / 3))
  }

  test("reshard: the re-shard fold doubles the shard count, the others keep it") {
    val rows = sweep("reshard", sfDir, "2", "OUT", "fixture")
    assert(rows.map(_("op")) === Seq("inplace", "versioned", "versioned_reshard"))
    rows.foreach { r =>
      val factor = if (r("op") == "versioned_reshard") 2 else 1
      assert(r("shards_to").toInt === factor * r("shards_from").toInt, r)
      assert(r("rows").toLong === nEmb, r)
    }
  }

  test("serve: a leased reader serves every phase of a keepGens=0 compaction at full recall") {
    val prior = spark.conf.getOption(KeepGens)
    val rows = sweep("serve", sfDir, "2", "OUT", "fixture", "1", "seq")
    val phases = rows.map(_("phase")).distinct
    assert(phases.head === "before" && phases.last === "after", phases)
    assert(phases.toSet.subsetOf(Set("before", "during", "after")), phases)
    rows.foreach(r => assert(r("recall").toDouble >= 0.9, r))
    assert(spark.conf.getOption(KeepGens) === prior)
  }

  test("hybrid: every batch matches its phase's quiesced fused answer") {
    val work = TempDir("graft_lifecycle_hybrid_work_")
    val rows = sweep("hybrid", sfDir, "1", work, "OUT", "1")
    assert(rows.map(_("phase")).toSet.intersect(Set("before", "after")).size === 2)
    assert(!rows.exists(_("phase") == LifecycleSweep.Pause))
    rows.foreach(r => assert(r("match") === "1", r))
  }

  test("the phased loop runs its steps between phases at keepGens=0 and no batch in a pause") {
    val prior = spark.conf.getOption(KeepGens)
    val order = Seq("before", "during", "after")
    val rows = LifecycleSweep.phased(spark, 2,
        LifecycleSweep.Pause -> (() => Thread.sleep(50)),
        "during" -> (() => Thread.sleep(50))) { _ =>
      Thread.sleep(5)
      spark.conf.get(KeepGens)
    }
    val phases = rows.map(_._1)
    assert(phases.forall(order.contains), phases)
    assert(phases.map(order.indexOf) === phases.map(order.indexOf).sorted)
    assert(phases.count(_ == "before") >= 2 && phases.count(_ == "after") >= 2)
    assert(rows.map(_._2) === rows.indices)
    assert(rows.forall(_._3 == "0"))
    assert(spark.conf.getOption(KeepGens) === prior)
  }

  test("a failing step surfaces, leaves no reader running and restores keepGens") {
    def readers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "graft-lifecycle-reader" && t.isAlive)
    val prior = spark.conf.getOption(KeepGens)
    val err = intercept[IllegalStateException] {
      LifecycleSweep.phased(spark, 1,
          "during" -> (() => throw new IllegalStateException("step failed"))) { _ =>
        Thread.sleep(5)
      }
    }
    assert(err.getMessage === "step failed")
    assert(readers.isEmpty)
    assert(spark.conf.getOption(KeepGens) === prior)
  }
}
