package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The ONE copy of the tombstone-sidecar mechanics every deletable
  * index shares (inverted/band/cell indexes, sharded graph, IVF-PQ and
  * SQ8 codes): an append-only parquet dir of deleted-id rows, with
  *
  *  - COMMITTED-MARKER existence (`_SUCCESS`, not the bare dir): a
  *    crashed first delete leaves a dir holding only `_temporary`,
  *    which must read as "no tombstones" — not hard-fail every query
  *    on the index with a schema-inference error;
  *  - idempotent append: candidates are distinct-ed, anti-joined
  *    against the committed existing set, and only the excess lands
  *    (one flat file per takedown batch) — so crashed or replayed
  *    deletes re-run to convergence and report zero;
  *  - masking: a broadcast-friendly left-anti join that preserves the
  *    caller's column order (a USING join would lead with the key,
  *    and the search faces' output shape is a positional contract).
  *
  * Fixes to the shared posture land HERE once, not six times. The
  * faces keep ownership of semantics that genuinely differ: which ids
  * are deletable (the inverted index restricts to live doclens rows;
  * the sharded tier to the dense gid range), what payload rides the
  * row (the inverted index carries `dl` for exact constants), and
  * when/whether compaction retires the sidecar.
  *
  * ==The compaction concurrency contract (all six faces)==
  * Every in-place compaction here is SINGLE-WRITER and requires
  * QUIESCENCE: exactly one process may compact a given index path at a
  * time, and no query, append, or delete may run against that path
  * while its staging swap ([[graft.index.Generations.swap]]) is in
  * flight — a reader that lists the live dir between rename(live→old)
  * and rename(staging→live) sees a missing path and fails. Writer-side
  * crash recovery is complete ([[graft.index.Generations.recoverSwap]]
  * at each face's next entry, tolerant of the lost rename race between
  * two concurrent RECOVERERS), but reader-vs-compactor concurrency is
  * out of contract FOR THE IN-PLACE FACES: a batch pipeline runs these
  * compactions in the maintenance window or against a quiesced
  * replica, the same discipline as any segment-merging index. A
  * deployment that must SERVE THROUGH a compaction uses the
  * generation-versioned faces instead (every face's
  * `compactVersioned`, all on [[graft.index.Generations.Face]]):
  * published generations are immutable, the compactor builds the
  * successor read-only and flips a MANIFEST pointer atomically, and
  * grace-window retirement keeps `keepGens` predecessors on disk
  * (default 1) — readers need no coordination at all. Writers stay
  * single-writer among themselves in both postures, and on versioned
  * roots that contract is ENFORCED by the best-effort writer lease: a
  * second append/delete/compact fails loudly at entry. */
object Tombstones {

  private def hp(dir: String) = new org.apache.hadoop.fs.Path(dir)

  private def fs(spark: SparkSession, dir: String) =
    hp(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True when `dir` holds a COMMITTED parquet write. */
  def committed(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(
      new org.apache.hadoop.fs.Path(hp(dir), "_SUCCESS"))

  /** Distinct tombstone ROWS (id + any payload columns), or None when
    * nothing was ever committed. */
  def rowsOf(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!committed(spark, dir)) None
    else Some(spark.read.parquet(dir).distinct())

  /** Distinct tombstoned ids under the caller's column name. */
  def idsOf(spark: SparkSession, dir: String,
            idCol: String): Option[DataFrame] =
    rowsOf(spark, dir).map(_.select(col(idCol)).distinct())

  /** `base` minus the tombstoned ids (no-op when none), caller column
    * order preserved. */
  def mask(spark: SparkSession, dir: String, idCol: String,
           base: DataFrame): DataFrame =
    idsOf(spark, dir, idCol) match {
      case None => base
      case Some(t) => base.join(t, Seq(idCol), "left_anti")
        .select(base.columns.map(col).toIndexedSeq: _*)
    }

  /** A literal takedown list as a one-column id relation for `delete`;
    * an empty list deletes nothing and never calls it (no lease, no
    * job). */
  def ofIds(spark: SparkSession, ids: Seq[Long], idCol: String)(
      delete: DataFrame => Long): Long =
    if (ids.isEmpty) 0L
    else {
      import spark.implicits._
      delete(ids.distinct.toDF(idCol))
    }

  /** Append the not-yet-tombstoned `candidates` rows (id + optional
    * payload; the caller has already restricted them to deletable
    * ids). Returns the newly tombstoned count — zero for a replay.
    *
    * ONE job, not a count pass plus a write pass: the candidate
    * anti-join evaluates once, into a STAGING dir, with the new-dead
    * count riding the write (Observation). The no-write-on-noop
    * contract — a replayed or empty delete must leave no committed
    * tombstone dir, because six faces key existence checks off it —
    * is kept by only PROMOTING the staged file into the live dir when
    * the observed count is positive; a zero-count staging is deleted.
    * Promotion is pure fs renames (no second Spark job). Crash
    * posture: a crash before promotion leaves only staging debris
    * (cleared at the next append); a crash after moving the part file
    * has committed exactly the rows a replay will then anti-join away
    * — idempotent convergence either way. */
  def appendNew(spark: SparkSession, dir: String, idCol: String,
                candidates: DataFrame): Long = {
    val fresh = candidates.distinct()
    val newDead = idsOf(spark, dir, idCol) match {
      case None => fresh
      case Some(t) => fresh.join(t, Seq(idCol), "left_anti")
    }
    val f = fs(spark, dir)
    val staging = hp(dir + "__append_staging")
    f.delete(staging, true) // debris from a crashed previous append
    val obs = org.apache.spark.sql.Observation()
    newDead.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .coalesce(1) // one flat file per takedown batch
      .write.mode("overwrite").parquet(staging.toString)
    val n = obs.get("n").asInstanceOf[Long]
    if (n > 0) {
      val live = hp(dir)
      if (!f.exists(live)) {
        // first-ever batch: promote the whole committed staging dir
        require(f.rename(staging, live),
          s"tombstone append: cannot promote staging into $dir")
      } else {
        // later batches: move the part file(s) in — names carry the
        // write job's UUID, so they never collide with existing files.
        // Also ensure the marker lands: an uncommitted live dir (a
        // crashed FIRST delete left only _temporary) must become
        // committed by this append, as mode("append") used to do.
        f.listStatus(staging).foreach { st =>
          val nm = st.getPath.getName
          if (st.isFile && nm.startsWith("part-"))
            require(f.rename(st.getPath,
              new org.apache.hadoop.fs.Path(live, nm)),
              s"tombstone append: cannot move ${st.getPath} into $dir")
          else if (st.isFile && nm == "_SUCCESS" &&
                   !f.exists(new org.apache.hadoop.fs.Path(live, nm)))
            require(f.rename(st.getPath,
              new org.apache.hadoop.fs.Path(live, nm)),
              s"tombstone append: cannot commit marker into $dir")
        }
        f.delete(staging, true)
      }
    } else f.delete(staging, true)
    n
  }
}
