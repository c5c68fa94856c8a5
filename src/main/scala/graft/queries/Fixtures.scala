package graft.queries

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The query packs' fixture lifecycle: one memo for everything built once
  * per JVM (indexes, broadcasts, child sessions), the temp dirs those
  * fixtures live in, and the child sessions routed statements run in. */
private[graft] object Fixtures {

  /** A memoized value, built by its first reader outside any map lock —
    * so a builder may itself call [[memo]] (a builder run inside
    * `ConcurrentHashMap.computeIfAbsent` that touches the same map throws
    * "Recursive update"). A builder that throws leaves the cell unbuilt
    * and the next reader retries. */
  private final class Cell(build: () => Any) { lazy val value: Any = build() }

  /** Keyed by (kind, dir, params).
    *
    * INVARIANT (Bench.dropLeakedBlocks depends on it): a memoized value
    * holds broadcasts, disk paths, arrays, sessions or plain plans —
    * NEVER a localCheckpoint-backed DataFrame. The bench harness
    * unpersists every persistent RDD between timed queries; a
    * lineage-truncated RDD evicted that way is unrecomputable, so a
    * checkpointed value memoized here would fail with
    * missing-checkpoint-block errors only in Bench/ScaleSmoke runs. */
  private val cells = new ConcurrentHashMap[(String, String, Any), Cell]()

  def memo[T](kind: String, dir: String, params: Any = ())(build: => T): T =
    cells.computeIfAbsent((kind, dir, params), _ => new Cell(() => build))
      .value.asInstanceOf[T]

  /** Dirs made by [[tempDir]], deleted when the JVM exits. */
  private val reaped = ConcurrentHashMap.newKeySet[Path]()
  private lazy val reaper: Unit = sys.addShutdownHook {
    reaped.forEach { d =>
      try {
        val walk = Files.walk(d)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch { case scala.util.control.NonFatal(_) => () } // best-effort
    }
  }

  /** A fresh temp dir, deleted with everything in it at JVM exit: this
    * JVM is its only reader, and repeated bench/verify runs must not
    * accumulate orphaned indexes. */
  def tempDir(prefix: String): String = {
    reaper
    val d = Files.createTempDirectory(prefix)
    reaped.add(d)
    d.toString
  }

  /** The child of `parent` with `confs` set, one per (parent, confs): it
    * shares the SparkContext (broadcasts, cached blocks) but owns its
    * SQLConf, so the confs live only there and the parent's conf is never
    * touched. A child with `spark.graft.ann.rewrite=true` is a routed one
    * and gets the routing rules installed once, at creation. */
  def childSession(parent: SparkSession,
                   confs: (String, String)*): SparkSession =
    memo("session", "", (parent, confs.toMap)) {
      val child = parent.newSession()
      confs.foreach { case (k, v) => child.conf.set(k, v) }
      if (confs.contains("spark.graft.ann.rewrite" -> "true"))
        graft.plans.AnnRewrite.install(child)
      child
    }
}
