package graft

import org.apache.spark.sql.functions.col

/** Dev-only write-amplification ledger for the CDC index maintainers:
  * builds each maintainer's standing index slice, MERGEs its batch slice,
  * and prints standing/delta/carried/rewritten ROWS straight from the
  * version manifests — the direct measurement of the file-pruned merge's
  * write IO, isolated from compute (the ScaleCheck wall-clock sweeps mix
  * the two). `rewritten ≈ delta` while `standing` doubles is the claim the
  * 100 TB cost model's write side rests on; before the manifest layer the
  * same measurement read `rewritten = standing + delta` (full-snapshot
  * copy-on-write per commit). Not part of the driver contract.
  *
  * Usage: runMain graft.MergeAmp [corpusDir ...] (defaults to sf0.1). */
object MergeAmp {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    import graft.sources.{Tables, TempRoots, VersionedLayer}

    def ledger(tag: String, dir: String,
               standing: org.apache.spark.sql.DataFrame,
               batch: org.apache.spark.sql.DataFrame,
               keys: Seq[String]): Unit = {
      val rootPath = java.nio.file.Files.createTempDirectory(s"graft_amp_$tag")
      val root = rootPath.toString
      try {
        val deltaRows = batch.count()
        val v1 = VersionedLayer.write(standing, root)
        val t0 = System.nanoTime()
        val v2 = VersionedLayer.merge(batch, root, keys)
        val wall = (System.nanoTime() - t0) / 1e9
        val before = VersionedLayer.fileEntries(spark, root, v1)
        val after = VersionedLayer.fileEntries(spark, root, v2)
        val prevPaths = before.map(_.path).toSet
        val carried = after.filter(e => prevPaths(e.path)).map(_.rows).sum
        val rewritten = after.filterNot(e => prevPaths(e.path)).map(_.rows).sum
        val standingRows = before.map(_.rows).sum
        // write amplification = rows physically written per delta row; the
        // pre-manifest layer's value here was (standing + delta) / delta
        println(f"[amp] $dir%-22s $tag%-14s standing=$standingRows%9d  delta=$deltaRows%8d  " +
          f"rewritten=$rewritten%9d  carried=$carried%9d  " +
          f"ampl=${rewritten.toDouble / math.max(deltaRows, 1)}%6.2fx  merge=$wall%6.2f s")
      } finally TempRoots.deleteRecursively(rootPath)
    }

    /** Takedown ledger: standing index key-sorted-compacted into `files`
      * files, then deleteKeys of a scattered id set — reports how many
      * files/rows the delete physically rewrote vs carried. Scattered
      * deletes touch every file holding a takedown id; the sorted many-file
      * layout is what bounds that (at deployment: thousands of files, a
      * bounded takedown set → ~|takedown| file rewrites). */
    def deleteLedger(tag: String, dir: String,
                     standing: org.apache.spark.sql.DataFrame,
                     takedownIds: org.apache.spark.sql.DataFrame,
                     keyCols: Seq[String], files: Int): Unit = {
      val rootPath = java.nio.file.Files.createTempDirectory(s"graft_amp_$tag")
      val root = rootPath.toString
      try {
        VersionedLayer.write(standing, root)
        val vc = VersionedLayer.compact(spark, root, targetFiles = files, sortBy = keyCols)
        val before = VersionedLayer.fileEntries(spark, root, vc)
        val t0 = System.nanoTime()
        val vd = VersionedLayer.deleteKeys(takedownIds, root, keyCols)
        val wall = (System.nanoTime() - t0) / 1e9
        val after = VersionedLayer.fileEntries(spark, root, vd)
        val prevPaths = before.map(_.path).toSet
        val afterPaths = after.map(_.path).toSet
        val carried = after.filter(e => prevPaths(e.path)).map(_.rows).sum
        val rewritten = after.filterNot(e => prevPaths(e.path)).map(_.rows).sum
        val touched = before.count(e => !afterPaths(e.path))
        println(f"[amp] $dir%-22s $tag%-14s standing=${before.map(_.rows).sum}%9d  " +
          f"files=${before.size}%3d  touched=$touched%3d  " +
          f"rewritten=$rewritten%9d  carried=$carried%9d  delete=$wall%6.2f s")
      } finally TempRoots.deleteRecursively(rootPath)
    }

    for (dir <- dirs) {
      val docs = Tables.read(spark, dir, "documents")
      val lsh = operators.Dedup.lshIndexRows(docs).localCheckpoint()
      ledger("lsh_q389", dir,
        lsh.filter(!(col("doc_id") % 10 === 7)),
        lsh.filter(col("doc_id") % 10 === 7), Seq("doc_id", "band_id"))
      // bounded takedown (~50 scattered ids) against a 1024-file sorted
      // layout: touched files ≈ |takedown|, rewritten fraction ≈
      // touched/files — constant as the corpus scales, the deployment claim
      val nDocs = docs.count()
      deleteLedger("lsh_takedown", dir, lsh,
        docs.filter(col("doc_id") % math.max(nDocs / 50, 1) === 7).select(col("doc_id")),
        Seq("doc_id"), files = 1024)
      val ann = operators.Similarity.annIndexRows(spark, dir, col("vec_id") % 10 =!= 0)
        .localCheckpoint()
      val annBatch = operators.Similarity.annIndexRows(spark, dir, col("vec_id") % 10 === 0)
        .localCheckpoint()
      ledger("ann_q386", dir, ann, annBatch, Seq("vec_id", "b"))
      val fp = operators.Curation.dedupIndexOf(docs.filter(col("doc_id") % 10 =!= 0))
        .localCheckpoint()
      val fpBatch = operators.Curation.dedupIndexOf(docs.filter(col("doc_id") % 10 === 0))
        .localCheckpoint()
      ledger("fp_q383", dir, fp, fpBatch, Seq("fp"))
    }
    spark.stop()
  }
}
