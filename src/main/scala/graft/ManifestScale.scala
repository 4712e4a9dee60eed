package graft

/** Dev-only manifest-scale evidence (round-19 verdict task 6): the
  * VersionedLayer's one-JSON-per-version manifest scales with the
  * version's FILE COUNT, and the layer's 100 TB story rested on a prose
  * caveat ("bound file count operationally with compact"). This main
  * measures the actual curve — manifest bytes, write (≈ commit stage)
  * latency and read (≈ snapshot resolution) latency at 1k/10k/50k/100k
  * synthetic file entries through the production JSON writer/reader — so
  * BASELINE.md can state WHERE the shape stops being cheap and what the
  * successor looks like (Delta's parquet-checkpointed log: same manifest
  * CONTENT, columnar container, incremental tail). No table data is
  * involved; the probe is pure metadata. Not part of the driver contract.
  *
  * Usage: runMain graft.ManifestScale [fileCount ...] */
object ManifestScale {
  def main(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.toSeq.map(_.toInt)
                 else Seq(1000, 10000, 50000, 100000)
    val spark = GraftSession.local("2")
    for (n <- counts) {
      val rootPath = java.nio.file.Files.createTempDirectory("graft_manifest_scale")
      try {
        // min-of-3: filesystem latencies on a shared host whipsaw; bytes
        // are exact and identical across reps
        val reps = (1 to 3).map(_ =>
          graft.sources.VersionedLayer.manifestProbe(spark, rootPath.toString, n))
        val bytes = reps.head._1
        println(s"""{"tool":"manifest_scale","files":$n,"manifest_bytes":$bytes,""" +
          s""""write_ms":${reps.map(_._2).min},"read_ms":${reps.map(_._3).min}}""")
      } finally graft.sources.TempRoots.deleteRecursively(rootPath, swallow = true)
    }
    spark.stop()
  }
}
