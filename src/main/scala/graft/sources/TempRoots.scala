package graft.sources

/** Recursive delete of a staged temp root — the ONE shared implementation
  * of the staged-temp-root lifecycle's cleanup step (the q377/q383/q386/
  * q389/q390/q391 discipline: localCheckpoint the result, then delete the
  * root so no side effects escape a query function) and of the streaming
  * harness's transient-checkpoint teardown. Throws on I/O failure by
  * default so a leaked root is loud; pass `swallow = true` where cleanup
  * is explicitly best-effort (transient stream checkpoints). */
object TempRoots {
  def deleteRecursively(root: java.nio.file.Path, swallow: Boolean = false): Unit = {
    import scala.jdk.CollectionConverters._
    try {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    } catch { case t: Throwable => if (!swallow) throw t }
  }
}
