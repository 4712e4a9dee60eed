package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE shared implementation of the staged-query lifecycle: a query that
  * stages files (a VersionedLayer root, a stream's drop folder) or sinks a
  * stream to a memory table runs its body inside [[scoped]], which
  * localCheckpoints the result and then releases everything the body
  * staged — so no side effect escapes a query function, on success or on a
  * failure partway through. [[deleteRecursively]] is the delete step, also
  * used directly for the streaming harness's transient checkpoints. */
object TempRoots {

  /** What one staged query holds until its result is checkpointed: temp
    * dirs and memory-sink names, both released by [[scoped]]. */
  final class Scope private[TempRoots] {
    private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]
    private val sinks = scala.collection.mutable.ArrayBuffer.empty[String]

    /** A fresh directory in the default temp dir, deleted when the scope ends. */
    def dir(prefix: String): Path = synchronized {
      val d = Files.createTempDirectory(prefix)
      dirs += d
      d
    }

    /** A memory-sink name `<query>_sink_<n>`, unique in the JVM (bench reps
      * re-run a query in one session), whose temp view the scope drops. */
    def sink(query: String): String = synchronized {
      val name = s"${query}_sink_${sinkSeq.incrementAndGet()}"
      sinks += name
      name
    }

    private[TempRoots] def release(spark: SparkSession): Seq[Throwable] = synchronized {
      def attempt(step: => Unit): Option[Throwable] =
        try { step; None } catch { case t: Throwable => Some(t) }
      sinks.toSeq.flatMap(n => attempt(spark.catalog.dropTempView(n))) ++
        dirs.toSeq.flatMap(d => attempt(deleteRecursively(d)))
    }
  }

  private val sinkSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `body(scope).localCheckpoint()`, then every sink view the body named is
    * dropped and every dir it made is deleted. A failed release throws when
    * the body succeeded and is added as suppressed to the body's exception
    * when it did not. */
  def scoped(spark: SparkSession)(body: Scope => DataFrame): DataFrame = {
    val scope = new Scope
    val out = try body(scope).localCheckpoint()
    catch {
      case t: Throwable =>
        scope.release(spark).foreach(t.addSuppressed)
        throw t
    }
    scope.release(spark) match {
      case Seq() => out
      case first +: rest => rest.foreach(first.addSuppressed); throw first
    }
  }

  /** Recursive delete of `root`. Throws on I/O failure by default so a
    * leaked root is loud; pass `swallow = true` where cleanup is explicitly
    * best-effort (transient stream checkpoints). */
  def deleteRecursively(root: Path, swallow: Boolean = false): Unit = {
    import scala.jdk.CollectionConverters._
    try {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    } catch { case t: Throwable => if (!swallow) throw t }
  }
}
