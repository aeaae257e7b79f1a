package graft

/** Local-filesystem helpers for the harness/test surface (scratch and
  * fixture resets). Table and state dirs are deleted through the
  * session's Hadoop FileSystem ([[graft.sources.Warehouse.deleteDir]]),
  * never through this.
  */
object FsUtil {

  /** Recursively delete a directory tree; no-op when absent. The walk
    * stream is closed (it holds open directory handles).
    */
  def rmTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      val walk = java.nio.file.Files.walk(f.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => p.toFile.delete())
      finally walk.close()
    }
  }
}
