package graft

/** A spec's scratch dir, made through [[graft.queries.Fixtures.tempDir]]:
  * the test JVM deletes it when it exits, so repeated test runs do not
  * fill the temp dir with indexes nobody reads again. */
object TempDir {
  def apply(prefix: String): String = graft.queries.Fixtures.tempDir(prefix)
}
