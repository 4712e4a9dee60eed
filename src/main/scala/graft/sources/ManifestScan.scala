package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Serve a parquet scan DIRECTLY from manifest metadata — no file listing.
  *
  * `spark.read.parquet(paths*)` builds an InMemoryFileIndex over the paths,
  * which re-fetches every file's status from the filesystem on EVERY call
  * (one namenode/inode round trip per file, or — past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold`, default 32 — a
  * whole Spark listing job). The VersionedLayer manifest already knows each
  * committed file's exact length (recorded at staging time from the same
  * directory listing that fed the footer stats), and committed data files
  * are immutable by the layer's contract, so the listing re-derives
  * information the manifest is the authority for. This is the defining
  * scale argument for manifest-based table formats (optimization guide §6:
  * "table formats with manifest metadata avoid directory listing
  * altogether"): at deployment file counts a 100k-file version costs a
  * full listing job per read/commit on the path route, and zero fs
  * metadata calls on this one.
  *
  * The scan is the SAME ParquetFileFormat execution path `spark.read`
  * resolves to — identical column pruning, filter pushdown, split planning
  * (driven by the same file lengths) and `input_file_name()` — so query
  * results are bit-identical; only the metadata source changes. Statistics
  * (`sizeInBytes`) are the same sum of file lengths an InMemoryFileIndex
  * would report, so join-strategy choices are unchanged. */
private[sources] object ManifestScan {

  private final class ManifestFileIndex(files: Array[FileStatus], root: Path)
      extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files))
    override def inputFiles: Array[String] = files.map(_.getPath.toString)
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** One unpartitioned parquet relation over `(absolute path, length)`
    * entries with the given data schema. Lengths must be the files' exact
    * on-disk sizes (they drive split planning and the footer seek). */
  def scan(spark: SparkSession, root: Path,
           files: Seq[(Path, Long)], dataSchema: StructType): DataFrame = {
    val statuses = files.map { case (p, len) =>
      // blockSize/mtime are not consulted by split planning or the parquet
      // reader; only path + length matter for an immutable committed file
      new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, p)
    }.toArray
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val relation = HadoopFsRelation(
      location = new ManifestFileIndex(statuses, root),
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(session)
    session.baseRelationToDataFrame(relation)
  }
}
