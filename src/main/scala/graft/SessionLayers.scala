package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-materialised layers: the silver tables and trained models
  * that several queries share (shingle pair counts, LSH candidates, term
  * frequencies, NB scores, winnow fingerprints, entity labels, ANN models
  * and seeded cells).
  * A production pipeline persists each of them once next to the corpus and
  * every downstream query reads it; here the first caller per key builds
  * the layer and every later caller gets the same object.
  *
  *  - The key is (layer, Spark application id, dir, params). The
  *    application id keeps a layer from leaking across sessions (checkpoint
  *    blocks die with their context); dir and params keep two corpora or
  *    two model shapes apart.
  *  - Each key holds a lazy cell. The map lock covers only finding or
  *    inserting the cell; the build (Spark jobs) runs outside it, inside the
  *    cell's lazy val. Different keys build in parallel, the callers of one
  *    key wait for its single build, and a build may call the registry for
  *    another key.
  *  - A build that throws evicts its cell, so the next caller builds afresh
  *    instead of re-running a dead closure.
  *  - At most [[MaxEntries]] cells are held; the least recently used goes
  *    first. Eviction only forgets the cell: it unpersists nothing, because
  *    an evicted frame may still back a query running on another thread.
  *  - `-Dgraft.noEdgeCache=1` bypasses the registry: every call builds, and
  *    [[frame]] hands back the un-checkpointed plan: the fresh-compute
  *    reference the layer specs compare against. Builds are deterministic,
  *    so the bypass changes no result. */
object SessionLayers {

  /** A full sf0.01 graft.Verify pass touches 11 distinct keys on its one
    * dir, each built once; twice that holds two dirs' layers, so a
    * single-dir pass evicts nothing. */
  val MaxEntries = 22

  private final class Cell(build: => Any) { lazy val value: Any = build }

  private val cells = new java.util.LinkedHashMap[Any, Cell](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Any, Cell]): Boolean =
      size() > MaxEntries
  }

  private def bypassed: Boolean = sys.props.get("graft.noEdgeCache").contains("1")

  /** A shared frame, `localCheckpoint`ed on build (the fresh plan under the
    * bypass). */
  def frame(s: SparkSession, layer: String, dir: String, params: Any*)(
      fresh: => DataFrame): DataFrame =
    if (bypassed) fresh else value(s, layer, dir, params: _*)(fresh.localCheckpoint())

  /** A shared driver-side value, such as a trained model's arrays. */
  def value[V](s: SparkSession, layer: String, dir: String, params: Any*)(compute: => V): V = {
    if (bypassed) return compute
    val key = (layer, s.sparkContext.applicationId, dir, params)
    val cell = cells.synchronized {
      val hit = cells.get(key)
      if (hit != null) hit else { val c = new Cell(compute); cells.put(key, c); c }
    }
    try cell.value.asInstanceOf[V]
    catch {
      case t: Throwable =>
        cells.synchronized { if (cells.get(key) eq cell) cells.remove(key) }
        throw t
    }
  }
}
