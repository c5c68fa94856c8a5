package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.index.BuildParams
import graft.queries.IndexQueries

/** The scaffolding every measurement main shares: one local session
  * builder, one wall-clock timer, one scaled-corpus lookup and one TSV
  * table, so the mains under `tools/`, [[Sweep]], [[ScaleSmoke]],
  * [[Bench]] and [[Verify]] hold only what they measure. Their per-run
  * temp dirs come from [[graft.queries.Fixtures.tempDir]], which deletes
  * them at JVM exit. */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, else min(32, available cores). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  /** A `local[cpus]` session with one shuffle partition per core, the UI
    * off and WARN logging, plus the caller's own `confs`. */
  def session(confs: (String, String)*): SparkSession = session(cpus, confs: _*)

  /** [[session]] pinned to `cores`, for a main whose output depends on
    * the partition count (plan text, committed fixture files). */
  def session(cores: Int, confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** RoarGraph build knobs by name: `ref` is the reference's production
    * 100/35/100 (`build_roargraph_index.sh:27-29`), anything else (the
    * default `fixture`) the 2k-vector fixture's 20/8/40. Graph degree must
    * scale with the corpus, so a 10× corpus wants `ref`. */
  def buildParams(name: Option[String]): BuildParams = name match {
    case Some("ref") =>
      IndexQueries.FixtureParams.copy(mSq = 100, mPjbp = 35, lPjpq = 100)
    case _ => IndexQueries.FixtureParams
  }

  /** Runs `body` with `confs` set on `spark`, then puts each key back as
    * it was before (its prior value, or unset), however `body` ends — so
    * one run's confs never leak into the next run on the same session. */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s result and its wall-clock seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Root of the corpora and indexes the sweeps keep across runs:
    * `SPARK_GRAFT_BUILD_WORK`, default /tmp/graft_buildsweep. */
  def workRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_BUILD_WORK", "/tmp/graft_buildsweep")

  /** The corpus at `srcDir` scaled `factor`× by
    * [[ScaleSmoke.scaleTables]]: `srcDir` itself at factor 1, otherwise
    * `<workRoot>/x<factor>`, built on first use and reused by later
    * runs. */
  def scaledDir(spark: SparkSession, srcDir: String, factor: Int): String =
    if (factor == 1) srcDir
    else {
      val dir = s"$workRoot/x$factor"
      if (!Files.exists(Paths.get(dir, "embeddings.parquet")))
        ScaleSmoke.scaleTables(spark, srcDir, dir, factor)
      dir
    }

  /** A TSV result table. The header prints when the table is made and
    * each row prints as it is added, so a long sweep shows partial
    * results; [[write]] or [[merge]] then puts the header and the rows
    * in one file. */
  final class Table(columns: String*) {
    private val header = columns.mkString("\t")
    private val added = ArrayBuffer.empty[String]
    println(header)

    /** Appends and prints one row; cells print with `toString`, so a
      * caller formats its doubles. */
    def add(cells: Any*): Unit = {
      require(cells.size == columns.size,
        s"row has ${cells.size} cells for ${columns.size} columns")
      added += cells.mkString("\t")
      println(added.last)
    }

    /** The header and the rows, to the file at `path`. */
    def write(path: String): Unit = writeFile(path, added.toSeq)

    /** Merges the rows into the TSV at `path` (which need not exist): a
      * row replaces the file's row with the same `key`, the file's other
      * rows stay, and the result is sorted by `key` — so a ladder accretes
      * one expensive point at a time. `key` reads a row's cells by column
      * name. */
    def merge[K: Ordering](path: String)(key: (String => String) => K): Unit = {
      def keyOf(line: String): K = {
        val cells = line.split("\t", -1)
        key(name => cells(columns.indexOf(name)))
      }
      val existing =
        if (!Files.exists(Paths.get(path))) Seq.empty
        else {
          val src = scala.io.Source.fromFile(path, "UTF-8")
          val lines = try src.getLines().toList finally src.close()
          require(lines.headOption.forall(_ == header),
            s"$path has header '${lines.head}', not '$header'")
          lines.drop(1).filter(_.nonEmpty)
        }
      val fresh = added.map(keyOf).toSet
      writeFile(path,
        (existing.filterNot(l => fresh(keyOf(l))) ++ added).sortBy(keyOf))
    }

    private def writeFile(path: String, lines: Seq[String]): Unit = {
      Files.write(Paths.get(path),
        (header +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"wrote $path (${lines.size} rows)")
    }
  }
}
