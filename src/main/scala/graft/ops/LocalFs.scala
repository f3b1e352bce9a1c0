package graft.ops

/** Local-filesystem tree operations shared by the write-once layouts,
  * the index-maintenance swaps, the staged sink, and the test rigs.
  * Local-FS only by design — the local[n] rig's twin of what a cluster
  * port does through the Hadoop FileSystem API.
  */
object LocalFs {

  /** Recursively delete `root` (no-op if it does not exist). Entries that
    * vanish mid-walk are skipped, not errors: a task's own abort can
    * delete its staged file while the driver's abort clears the tree.
    */
  def deleteTree(root: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(root)) return
    val st = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.toVector.reverseIterator
        .foreach(java.nio.file.Files.deleteIfExists)
    } finally st.close()
  }
}
