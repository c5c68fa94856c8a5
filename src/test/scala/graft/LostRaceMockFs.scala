package graft

import org.apache.hadoop.fs.Path

/** A local filesystem on which every rename of a `__compact_old` dir
  * LOSES its race: the rename happens — as if a concurrent recoverer's
  * identical rename had won it — and the caller is told `false`. That
  * is exactly what the loser of two readers racing to restore a
  * stranded in-place compaction observes. */
class LostRaceMockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("lostrace:///")
  override def getScheme: String = "lostrace"

  override def rename(src: Path, dst: Path): Boolean = {
    val moved = super.rename(src, dst)
    moved && !src.getName.endsWith("__compact_old")
  }
}
