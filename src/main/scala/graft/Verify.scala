package graft
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Engine-side half of the TYPE-DISCIPLINE gate (the oracle-side half
    * is tools/compare_oracle.py's HASH_STABLE_TYPES check): every query
    * output column must be a type whose textual rendering is identical
    * across the compare paths. The r7 red rows were an uncast DuckDB
    * sum() (HUGEINT) — the Spark-side analog would be a DecimalType or
    * binary column sneaking into a new query's output and hashing
    * unstably. Arrays are rejected outright (not just unstable elements):
    * the driver's row-count path sorts the dump with pandas, which cannot
    * order array cells — the r8 `mm_image_decode` red row. Explode to
    * scalar rows at the output boundary instead. Fail the dump loudly. */
  private[graft] def unstableColumns(schema: StructType): Seq[String] = {
    def stable(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | ShortType | ByteType | StringType |
           DoubleType | FloatType | BooleanType | TimestampType |
           DateType => true
      case _ => false
    }
    schema.fields.collect {
      case f if !stable(f.dataType) => s"${f.name}: ${f.dataType.sql}"
    }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDirArg) = args
    val spark = Harness.session("spark.sql.session.timeZone" -> "UTC")
    // SPARK_GRAFT_VERIFY_ONLY=a,b,c → dump + oracle just those queries
    // (fast single-query oracle iteration, the Bench BENCH_ONLY twin);
    // unset = the full surface, as the driver runs it. Subset runs are
    // auto-redirected to <outDir>_only — a partial dump at the
    // requested dir would overwrite a full verify_status.json/
    // oracle_sql.json and read as silently-missing queries on the
    // driver's compare pass (the same guard Bench applies to
    // BENCH_ONLY runs).
    val onlyRaw = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val outDir = onlyRaw match {
      case Some(_) =>
        val redirected = s"${outDirArg}_only"
        System.err.println(
          s"[verify] VERIFY_ONLY set: writing subset to $redirected")
        redirected
      case None => outDirArg
    }
    val only = onlyRaw
    new java.io.File(outDir).mkdirs()
    // Per-query ok/fail is RECORDED (verify_status.json + a loud summary),
    // not just stderr-logged: a regressed query must read as a failure,
    // never as a silently-missing parquet.
    val status = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val ok =
        try {
          val df = fn(spark, sfDir)
          val bad = unstableColumns(df.schema)
          if (bad.nonEmpty) sys.error(
            s"hash-unstable output column type(s): ${bad.mkString(", ")} " +
              "(cast to long/double/string at the output boundary)")
          df.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name"); true
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          false
        }
      // operators may persist intermediates (e.g. SemDedup's corpus
      // cache) — release them between queries, as Bench/ScaleSmoke do
      Bench.dropLeakedBlocks(spark)
      name -> ok
    }
    val statusJson = status.map { case (k, ok) => s""""$k": $ok""" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), statusJson)
    val nFail = status.count(!_._2)
    if (nFail > 0) System.err.println(
      s"[verify] $nFail QUERY FAILURES: ${status.collect { case (k, false) => k }.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
