package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfPq, SemDedup, Sq8Ann}

/** A compaction that crashed between its two renames strands the live
  * dir as `__compact_old`. Every reader restores it before reading, so
  * two readers can race the restoring rename; the loser must find the
  * dir restored by the winner and answer its query, not fail on a
  * healthy index. [[LostRaceMockFs]] makes every such restore lose. */
class LostRaceRecoverySpec extends AnyFunSuite {
  import TestSpark._

  private lazy val scheme: Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.lostrace.impl", classOf[LostRaceMockFs].getName)

  /** Park the local dir `live` as `<live>__compact_old`, nothing live. */
  private def strand(live: String): Unit = {
    Files.move(Paths.get(live), Paths.get(s"${live}__compact_old"))
    assert(!Files.exists(Paths.get(live)))
  }

  private def restored(live: String): Unit = {
    assert(Files.exists(Paths.get(live)), s"$live not restored")
    assert(!Files.exists(Paths.get(s"${live}__compact_old")))
  }

  private def cellRows(n: Int) = spark.range(n).select(col("id"),
    array(lit(1.0f), lit(0.0f)).as("vec"), (col("id") % 3).cast("int").as("cell"))

  test("SemDedup.recoverCompact survives losing the restore race") {
    scheme
    val local = s"${TempDir("graft_lostrace_cell_")}/cells"
    cellRows(20).write.partitionBy("cell").parquet(local)
    strand(local)
    SemDedup.recoverCompact(spark, s"lostrace://$local")
    restored(local)
    assert(SemDedup.readCellIndex(spark, s"lostrace://$local").count() === 20)
  }

  test("IvfPq.readIndex serves a stranded index whose restore race it lost") {
    scheme
    val local = s"${TempDir("graft_lostrace_ivfpq_")}/index"
    cellRows(20).select(col("id").as("d_id"),
        array(lit(1), lit(2)).as("codes"), col("cell"))
      .write.partitionBy("cell").parquet(local)
    strand(local)
    assert(IvfPq.readIndex(spark, s"lostrace://$local").count() === 20)
    restored(local)
  }

  test("Sq8Ann.readCodes serves stranded codes whose restore race it lost") {
    scheme
    val local = TempDir("graft_lostrace_sq8_")
    val data = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 30)
      .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
    Sq8Ann.writeIndex(data, local)
    strand(s"$local/codes")
    assert(Sq8Ann.readCodes(spark, s"lostrace://$local").count() ===
      data.count())
    restored(s"$local/codes")
  }
}
