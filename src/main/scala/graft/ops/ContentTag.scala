package graft.ops

/** Content-sensitive dataset identity and the one write-once derived
  * layout built under it (MV summaries, ANN indexes, the JSONL corpus,
  * the dup-cluster stores, the compaction copy).
  *
  * [[of]] is md5 over the dataset dir PATH plus a (file name, size,
  * mtime) fingerprint of the named source parquet trees. The path alone
  * is a stale-data hazard: an in-process rewrite of the dir would keep
  * serving the derived copy of the OLD bytes. Folding file metadata in
  * makes a rewrite mint a new tag, which rebuilds the derived layout;
  * superseded copies linger in the tmpdir (bounded by the number of
  * in-process rewrites — rare outside tests) rather than risking a
  * wrong serve.
  *
  * The reuse rule, written here once — every [[buildOnce]] caller
  * follows it and no caller has its own:
  *  - a layout lives at `<java.io.tmpdir>/<name>/<tag>`;
  *  - it is reused, in this JVM or a later one, only when its marker
  *    `<root>.built` exists BESIDE the root. Nothing inside the root is a
  *    witness: Spark's `_SUCCESS` is absent when
  *    `mapreduce.fileoutputcommitter.marksuccessfuljobs` is off, and a
  *    build that swaps its whole root (`DupClusterStore.swapRoot`) leaves
  *    its own commit marker there between steps;
  *  - otherwise the root and its `.staging`/`.old` swap siblings are
  *    cleared, the layout is built whole, and the marker is written
  *    last. A build interrupted at any step leaves no marker, so the
  *    next call clears it and starts over — there is no partial resume.
  *
  * Local-FS walk matches the local[n] rig; a cluster port swaps in the
  * Hadoop FileSystem listing (same (path, size, mtime) triple). An
  * unlistable table (remote URI, permissions, concurrent delete)
  * degrades to the path-only contribution — never an error.
  */
object ContentTag {

  def of(dir: String, tables: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(dir.getBytes("UTF-8"))
    tables.foreach { t =>
      try {
        val p = java.nio.file.Paths.get(s"$dir/$t.parquet")
        // walk the FULL tree (not just the top level): a partitioned
        // layout rewritten in place below the first level must change
        // the fingerprint too
        val files: Seq[java.nio.file.Path] =
          if (java.nio.file.Files.isDirectory(p)) {
            val st = java.nio.file.Files.walk(p)
            try {
              import scala.jdk.CollectionConverters._
              st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
                .toVector.sortBy(_.toString)
            } finally st.close()
          } else if (java.nio.file.Files.exists(p)) Seq(p)
          else Seq.empty
        files.foreach { f =>
          md.update((f.toString + "|" + java.nio.file.Files.size(f) + "|" +
            java.nio.file.Files.getLastModifiedTime(f).toMillis)
            .getBytes("UTF-8"))
        }
      } catch { case scala.util.control.NonFatal(_) => /* path-only tag */ }
    }
    md.digest.take(8).map("%02x".format(_)).mkString
  }

  /** The derived layout `<java.io.tmpdir>/<name>/<tag>` (`tag` from
    * [[of]]), built by `build(root)` under the reuse rule above; returns
    * the root. One lock covers the check, the clear, the build and the
    * marker, so two in-JVM callers never build the same root at once.
    */
  private[graft] def buildOnce(name: String, tag: String)(
      build: String => Unit): String = synchronized {
    val root = s"${sys.props("java.io.tmpdir")}/$name/$tag"
    val marker = java.nio.file.Paths.get(s"$root.built")
    if (!java.nio.file.Files.exists(marker)) {
      val (live, staged, old) = CoreOps.siblings(root)
      Seq(live, staged, old).foreach(p =>
        LocalFs.deleteTree(java.nio.file.Paths.get(p.toString)))
      build(root)
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.createFile(marker)
    }
    root
  }
}
