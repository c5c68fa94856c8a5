package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Fixtures

/** The query packs' child-session memo: one child per (parent, confs),
  * and no parent kept alive by it. */
class FixturesSpec extends AnyFunSuite {
  import TestSpark._

  /** A parent session that only the returned reference can reach, after
    * the memo has made it a child. */
  private def droppedParent(): WeakReference[SparkSession] = {
    val parent = spark.newSession()
    val confs = Seq("spark.sql.shuffle.partitions" -> "3")
    val child = Fixtures.childSession(parent, confs: _*)
    assert(Fixtures.childSession(parent, confs: _*) eq child, "one child per (parent, confs)")
    assert(child ne parent)
    assert(child.conf.get("spark.sql.shuffle.partitions") === "3")
    assert(parent.conf.get("spark.sql.shuffle.partitions") === "4", "parent conf untouched")
    new WeakReference(parent)
  }

  test("a parent the memo has seen is collected once nothing else holds it") {
    val ref = droppedParent()
    var rounds = 0
    while (ref.get != null && rounds < 50) {
      System.gc()
      Thread.sleep(20)
      rounds += 1
    }
    assert(ref.get == null, s"parent still reachable after $rounds gc rounds")
  }
}
