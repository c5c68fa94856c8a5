package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness the mains share: the TSV table's printed and
  * written forms, its keyed merge (the accretion BuildSweep and VarcSweep
  * rely on), and the scaled-corpus lookup's identity at factor 1. */
class HarnessSpec extends AnyFunSuite {

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  /** Runs `body` and returns what it printed. */
  private def printed(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  test("a table prints its header and rows, and writes the same rows to its file") {
    val path = TempDir("graft_harness_table_") + "/t.tsv"
    val out = printed {
      val t = new Harness.Table("arm", "budget", "recall")
      t.add("roar", 40, "0.9000")
      t.add("hnsw", 40, "0.8500")
      t.write(path)
    }
    val lines = "arm\tbudget\trecall\nroar\t40\t0.9000\nhnsw\t40\t0.8500\n"
    assert(out.startsWith(lines), out)
    assert(read(path) === lines)
    assertThrows[IllegalArgumentException] {
      printed(new Harness.Table("a", "b").add("only one"))
    }
  }

  test("a keyed merge replaces re-run keys, keeps the other rows, and orders factor-major then by arm") {
    val path = TempDir("graft_harness_merge_") + "/m.tsv"
    Files.write(Paths.get(path), Seq(
      "arm\tfactor\tsec",
      "roar_exact\t1\t1.0",
      "sharded\t1\t2.0",
      "roar_exact\t10\t3.0",
      "sharded\t10\t4.0").mkString("", "\n", "\n").getBytes("UTF-8"))
    printed {
      val t = new Harness.Table("arm", "factor", "sec")
      t.add("sharded", 10, "9.0") // re-run key: replaces 4.0
      t.add("roar_ivf", 1, "5.0") // new key: lands between its factor's arms
      t.add("roar_ivf", 2, "6.0") // new factor: lands between 1 and 10
      t.merge(path)(tools.BuildSweep.mergeKey)
    }
    assert(read(path) === Seq(
      "arm\tfactor\tsec",
      "roar_exact\t1\t1.0",
      "roar_ivf\t1\t5.0",
      "sharded\t1\t2.0",
      "roar_ivf\t2\t6.0",
      "roar_exact\t10\t3.0",
      "sharded\t10\t9.0").mkString("", "\n", "\n"))
    // a file with another column list is refused, not merged
    assertThrows[IllegalArgumentException] {
      printed(new Harness.Table("arm", "factor")
        .merge(path)(tools.BuildSweep.mergeKey))
    }
  }

  test("merging no rows leaves the committed SWEEP_BUILD.tsv and SWEEP_VARC.tsv byte-identical") {
    val dir = TempDir("graft_harness_committed_")
    def copy(name: String): (Array[Byte], String) = {
      val bytes = Files.readAllBytes(Paths.get(name))
      val path = s"$dir/$name"
      Files.write(Paths.get(path), bytes)
      (bytes, path)
    }
    val (build, buildPath) = copy("SWEEP_BUILD.tsv")
    printed(new Harness.Table(tools.BuildSweep.Columns: _*)
      .merge(buildPath)(tools.BuildSweep.mergeKey))
    assert(Files.readAllBytes(Paths.get(buildPath)).sameElements(build))

    val (varc, varcPath) = copy("SWEEP_VARC.tsv")
    printed(new Harness.Table(tools.VarcSweep.Columns: _*)
      .merge(varcPath)(tools.VarcSweep.mergeKey))
    assert(Files.readAllBytes(Paths.get(varcPath)).sameElements(varc))
  }

  test("scaledDir at factor 1 is the source dir itself") {
    assert(Harness.scaledDir(TestSpark.spark, "/no/such/corpus", 1) ===
      "/no/such/corpus")
  }

  test("timed returns the body's result and its elapsed seconds") {
    val (r, secs) = Harness.timed { Thread.sleep(20); 42 }
    assert(r === 42)
    assert(secs >= 0.02 && secs < 60, secs)
  }
}
