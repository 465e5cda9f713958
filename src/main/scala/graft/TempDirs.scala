package graft

/** Recursive temp-tree delete, shared by the query registry's temp
  * dirs and cached-artifact cleanup — ONE implementation so a
  * future fix (symlink handling, NFS retry) lands everywhere at once
  * (this was three divergent copies before r17's review pass). Depth-
  * first via name-count sort; the walk stream is closed explicitly
  * because Files.walk holds directory handles. */
private[graft] object TempDirs {
  def deleteTree(base: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(base)) return
    val st = java.nio.file.Files.walk(base)
    try st.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    finally st.close()
  }

  def deleteTree(dir: String): Unit =
    deleteTree(java.nio.file.Paths.get(dir))
}
