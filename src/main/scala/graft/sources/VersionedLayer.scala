package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, input_file_name, lit, max, min, struct, when}
import org.apache.spark.sql.types._

/** Dependency-free versioned table layer reproducing the Delta-format
  * semantics the reference actually relies on (`glue/etl_api.py:25,38,49`
  * persists every layer `format("delta")` with `mode("overwrite")`):
  * atomic snapshot publish — readers never observe a half-written layer —
  * plus version time travel, multi-writer commit arbitration, and (since
  * round 19) MANIFEST-BASED versions with per-file key stats, so MERGE
  * rewrites only the files a delta actually touches instead of copying the
  * whole table per commit. (The offline build environment carries no
  * Delta/Iceberg jars; this reconstructs the reader-visible contract on
  * plain parquet.)
  *
  * Layout under `root/`:
  *   - `_data/<uuid>/part-*.parquet`  immutable data files. Each write
  *                      operation stages its output under a writer-unique
  *                      pool directory; once referenced by a committed
  *                      manifest a file is never modified, only dropped by
  *                      [[vacuum]] when no retained version references it.
  *                      One physical file can back MANY versions — that
  *                      sharing is what makes incremental commits O(delta);
  *   - `_manifests/N`   version manifests (JSON): the table schema plus the
  *                      list of data files composing version N, with per-
  *                      file row counts and min/max column stats;
  *   - `_claims/N`      claim files — the arbitration log (who owns N);
  *   - `_commits/N`     commit markers — the publication log. A version is
  *                      readable iff its commit marker exists; everything
  *                      else (`_staged-*` manifests, unmarked `_manifests/N`,
  *                      unreferenced `_data` pools) is invisible writer
  *                      debris until [[vacuum]];
  *   - `_txn/<app>-<id>` streaming replay cursors ([[idempotentMergeBatch]]).
  *
  * Commit protocol (Delta-style optimistic arbitration, filesystem-only):
  *   1. stage: the writer materializes any NEW data files under
  *      `_data/<uuid>` and its manifest under `root/_staged-<uuid>` — no
  *      two writers ever touch the same staging path;
  *   2. claim: it tries to create `_claims/N` exclusively. Exclusive create
  *      is the filesystem's compare-and-swap — atomic on HDFS (the NameNode
  *      serializes namespace mutations) and on POSIX via O_EXCL (local
  *      filesystems go through `java.nio` precisely because the Hadoop
  *      local-FS shim's create is check-then-act, not atomic). Which N
  *      depends on what the snapshot was derived from:
  *      - a commit derived from a base version ([[merge]], [[deleteKeys]],
  *        [[compact]]) may only claim N = base+1. Losing that race means
  *        another writer claimed N after the base was read, so the writer
  *        waits, re-reads the base and claims again; once the base has
  *        advanced it drops what it staged and re-derives first — Delta's
  *        conflict check, made exact by the dense log
  *        ([[serializableCommit]]);
  *      - a blind [[write]] claims N = (highest claimed-or-committed) + 1.
  *        Losing the race just advances N and retries the (cheap) claim —
  *        blind overwrites commute, so data files and manifest are never
  *        re-staged, and the write lands past a crashed writer's claim;
  *   3. publish: owning N, the writer clears any uncommitted `_manifests/N`
  *      debris a crashed predecessor left, renames its staged manifest to
  *      `_manifests/N`, and creates `_commits/N`. Both steps are
  *      uncontended — only ever executed by the unique claim winner of N.
  *
  * Consequences readers can rely on:
  *   - concurrent writers serialize: every commit gets a distinct version,
  *     and the highest committed marker is the published snapshot
  *     (blind-overwrite snapshots commute — the same answer Delta gives
  *     concurrent `mode("overwrite")` writers after its own retry loop);
  *     a derived commit includes every commit before it, so racing keyed
  *     writers lose no update;
  *   - a reader that resolved version N keeps reading N's immutable files
  *     even while N+1 lands (snapshot isolation);
  *   - a writer that dies at ANY step leaves the committed state — and
  *     every reader — untouched (atomicity): it leaves an unreferenced
  *     `_data` pool, a `_staged-*` manifest, a dangling claim, or an
  *     unmarked `_manifests/N`, all invisible. A dangling claim at base+1
  *     does block derived commits until [[vacuum]] clears it;
  *   - old snapshots stay readable by version until [[vacuum]] (time travel).
  *
  * Honest scope notes: on object stores without atomic exclusive-create
  * (raw S3) the claim step needs a consistent store or a commit service —
  * the same deployment constraint every filesystem-log table format has.
  * [[vacuum]] must not run concurrently with writers (it may collect an
  * in-flight writer's staging debris) — the standard retention caveat.
  * A manifest holds one JSON entry per data file (about 184 B each), so
  * its size and its write and read time grow linearly with the version's
  * file count. Bound file count operationally with [[compact]] (the same
  * discipline Delta needs before its parquet checkpoints); past that the
  * successor is Delta's checkpointed-log shape (same manifest content,
  * columnar container + incremental tail), not a different algorithm. */
object VersionedLayer {

  /** Per-file manifest entry: the data file's root-relative path, its row
    * count, and min/max stats for `statsCols` (values serialized through a
    * string cast; a column IN `statsCols` but ABSENT from `mins`/`maxs` is
    * all-null in that file — which a keyed merge can skip outright, since
    * null keys never equi-match). Stats exist for IO pruning only; the
    * exact semi-join in [[merge]] makes pruning conservative-safe even when
    * stats are missing (such files are simply always candidates).
    *
    * `partition` is the file's hive-layout values when the layer was
    * written with `layoutBy` (decoded strings; [[HiveNullPartition]] stands
    * for a null value) — these columns are NOT in the data file and are
    * reconstructed as literals at read. Layout values also appear in
    * `statsCols`/`mins`/`maxs` (min = max = the value), so the merge/delete
    * stats envelope prunes on a layout key exactly as on a data column.
    *
    * `bytes` is the file's exact on-disk length, recorded at staging time —
    * what lets [[readFiles]] build the scan from the manifest alone with
    * zero filesystem listing ([[ManifestScan]]). Always positive: the
    * reader refuses a manifest entry without it. */
  case class FileMeta(path: String, rows: Long, statsCols: Seq[String],
                      mins: Map[String, String], maxs: Map[String, String],
                      partition: Map[String, String], bytes: Long)

  private case class Manifest(schema: StructType, files: Seq[FileMeta],
                              layout: Seq[String] = Nil)

  /** Hive's directory name for a null partition value. */
  private val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"

  private val MaxClaimAttempts = 1000
  /** A derived commit's retry bound and its wait for a race winner's commit
    * marker ([[serializableCommit]]): about 6 s of waiting behind a claim
    * nobody publishes before the commit gives up naming it. */
  private val DerivedCommitAttempts = 30
  private val LostRaceWaitMs = 200L
  /** Stats are collected for the first 32 orderable atomic columns —
    * Delta's `dataSkippingNumIndexedCols` default, same rationale: stats
    * collection reads the new files back column-pruned, and unbounded wide
    * tables shouldn't pay for columns nobody merges on. */
  private val MaxStatsCols = 32
  /** A min/max string longer than this is dropped (the column reverts to
    * stats-not-collected for that file): full document texts in a manifest
    * would bloat it for columns nobody keys on, and a truncated max is not
    * a valid upper bound without Delta's increment-last-char dance. */
  private val MaxStatsLen = 256

  private val om = new ObjectMapper()

  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(conf(spark))

  private def claimDir(root: String) = new Path(root, "_claims")
  private def commitDir(root: String) = new Path(root, "_commits")
  private def manifestDir(root: String) = new Path(root, "_manifests")
  private def dataDir(root: String) = new Path(root, "_data")

  private def listVersionFiles(f: FileSystem, d: Path): Seq[Long] =
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .flatMap(n => scala.util.Try(n.toLong).toOption).sorted

  /** Exclusive create — the arbitration CAS. True = this writer owns the
    * file. HDFS `create(overwrite=false)` is namespace-atomic; the Hadoop
    * local shim's is check-then-act, so local paths use O_EXCL via nio. */
  private def createExclusive(f: FileSystem, p: Path): Boolean =
    try {
      f match {
        case _: LocalFileSystem | _: RawLocalFileSystem =>
          java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath))
        case _ =>
          f.create(p, false).close()
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }

  /** Committed versions in ascending order — the publication log. */
  def committedVersions(spark: SparkSession, root: String): Seq[Long] =
    listVersionFiles(fs(spark, root), commitDir(root))

  /** Currently published version, if any write ever committed. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    committedVersions(spark, root).lastOption

  /** All manifest versions present on disk (committed or not — uncommitted
    * ones are crashed/in-flight writers' claims, invisible to [[read]]). */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    listVersionFiles(fs(spark, root), manifestDir(root))

  // ---------------------------------------------------------------- manifests

  private def writeManifestFile(f: FileSystem, p: Path, man: Manifest): Unit = {
    val rootNode = om.createObjectNode()
    rootNode.put("schema", man.schema.json)
    if (man.layout.nonEmpty) {
      val lay = rootNode.putArray("layout")
      man.layout.foreach(lay.add)
    }
    val arr = rootNode.putArray("files")
    for (e <- man.files) {
      val n = arr.addObject()
      n.put("path", e.path)
      n.put("rows", e.rows)
      n.put("bytes", e.bytes)
      val sc = n.putArray("statsCols")
      e.statsCols.foreach(sc.add)
      val mn = n.putObject("min")
      e.mins.foreach { case (k, v) => mn.put(k, v) }
      val mx = n.putObject("max")
      e.maxs.foreach { case (k, v) => mx.put(k, v) }
      if (e.partition.nonEmpty) {
        val pv = n.putObject("partition")
        e.partition.foreach { case (k, v) => pv.put(k, v) }
      }
    }
    val out = f.create(p, false)
    try out.write(om.writeValueAsBytes(rootNode))
    finally out.close()
  }

  /** Parse version `version`'s manifest. An entry without a positive `bytes`
    * length is refused: split planning skips a zero-length file, so the
    * scan would silently return too few rows. */
  private def readManifest(spark: SparkSession, root: String, version: Long): Manifest = {
    val f = fs(spark, root)
    val in = f.open(new Path(manifestDir(root), version.toString))
    val json = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
    val node = om.readTree(json)
    val schema = DataType.fromJson(node.get("schema").asText).asInstanceOf[StructType]
    val layout = Option(node.get("layout"))
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
    val files = node.get("files").elements().asScala.map { n =>
      def strMap(field: String): Map[String, String] = Option(n.get(field)) match {
        case None => Map.empty
        case Some(obj) => obj.fieldNames().asScala.map(k => k -> obj.get(k).asText).toMap
      }
      val path = n.get("path").asText
      val bytes = Option(n.get("bytes")).map(_.asLong).getOrElse(0L)
      if (bytes <= 0L)
        throw new IllegalStateException(
          s"manifest $version under $root lists $path without a positive byte length")
      FileMeta(path, n.get("rows").asLong,
        n.get("statsCols").elements().asScala.map(_.asText).toSeq,
        strMap("min"), strMap("max"), strMap("partition"), bytes)
    }.toSeq
    Manifest(schema, files, layout)
  }

  /** Manifest entries of a version — for IO accounting and lifecycle
    * audits: a path shared between two versions' manifests is a CARRIED
    * file (zero write IO at the later commit); a path new to a version was
    * rewritten/appended by that commit. */
  def fileEntries(spark: SparkSession, root: String, version: Long): Seq[FileMeta] =
    readManifest(spark, root, version).files

  /** Data files of a version (root-relative paths), for file-count/size
    * accounting. */
  def dataFiles(spark: SparkSession, root: String, version: Long): Seq[String] =
    fileEntries(spark, root, version).map(_.path)

  // --------------------------------------------------------------- data files

  /** Types whose parquet-footer statistics are mapped into manifest stats
    * (see [[footerStats]]'s correctness contract). Everything else —
    * timestamps (session-timezone rendering), decimals (scale plumbing),
    * arrays/structs/maps/binary — gets no stats: merges on such keys stay
    * correct via the exact discovery join, just unpruned. */
  private def isStatsType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         StringType | BooleanType | DateType => true
    case _ => false
  }

  private def absRoot(spark: SparkSession, root: String): String =
    fs(spark, root).makeQualified(new Path(root)).toUri.getPath

  private def relativize(fileUri: String, rootAbs: String): String = {
    val p = new Path(fileUri).toUri.getPath
    require(p.startsWith(rootAbs + "/"), s"data file $p escapes layer root $rootAbs")
    p.drop(rootAbs.length + 1)
  }

  /** Decode one hive path segment value (`%XX` escapes, as Hive/Spark's
    * `escapePathName` produces). */
  private def unescapePathName(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          val hex = s.substring(i + 1, i + 3)
          try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
          catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Parse the layout values encoded in a staged file's pool-relative path
    * (`band_id=3/part-…`): one `k=v` directory per layout column, in layout
    * order — exactly what `DataFrameWriter.partitionBy` produces. */
  private def partitionOfPath(poolRel: String, layout: Seq[String]): Map[String, String] = {
    val segs = poolRel.split('/').dropRight(1)
    require(segs.length == layout.size,
      s"staged file $poolRel does not match layout ${layout.mkString(",")}")
    layout.zip(segs).map { case (c, seg) =>
      val eq = seg.indexOf('=')
      require(eq > 0 && unescapePathName(seg.take(eq)) == c,
        s"staged segment $seg does not encode layout column $c")
      c -> unescapePathName(seg.drop(eq + 1))
    }.toMap
  }

  /** Every file under `dir`, by a `listStatus` walk (hive-layouted pools
    * nest files under k=v dirs). Not `listFiles`: it builds a
    * `LocatedFileStatus` per file, which loads the file's permission, and
    * Hadoop's local filesystem does that with an `ls -ld` subprocess when
    * libhadoop is absent. */
  private def listFilesRec(f: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    f.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) listFilesRec(f, st.getPath) else Seq(st)
    }

  /** Stage `df` as immutable parquet files under a fresh `_data/<uuid>`
    * pool and return their manifest entries. Per-file row counts and
    * min/max stats come from the PARQUET FOOTERS ([[footerStats]]) — a
    * driver-side metadata read of KBs per file, NOT a second pass over the
    * data (a read-back would re-scan everything a 100 TB blind write just
    * wrote). With a non-empty `layout`, files are hive-partitioned under
    * the pool (`partitionBy`), the partition values are recorded on each
    * entry, and each layout column gains min = max = value stats (the
    * partition-prune lever for the stats envelope AND [[readPartitions]]).
    * Returns the entries and the pool path (so a writer that loses a
    * pinned-version race can delete exactly what it staged). */
  private def stageDataFiles(df: DataFrame, root: String,
                             layout: Seq[String] = Nil): (Seq[FileMeta], Path) = {
    val spark = df.sparkSession
    layout.foreach(c => require(df.columns.contains(c),
      s"layout column $c is not a column of the staged frame"))
    // A StringType layout value that is empty (or the literal hive null
    // sentinel) would be written to the __HIVE_DEFAULT_PARTITION__ directory
    // and read back as NULL — silent corruption, and a keyed delete on that
    // column would skip files genuinely holding empty-string keys (a missed
    // takedown). Fail the write instead. The check is one bounded job and
    // only runs for string layout columns (no current caller uses one).
    val stringLayout = layout.filter(c =>
      df.schema(df.schema.fieldIndex(c)).dataType == StringType)
    if (stringLayout.nonEmpty) {
      val bad = df.filter(stringLayout.map(c =>
        col(c) === "" || col(c) === HiveNullPartition).reduce(_ || _))
        .limit(1).count()
      require(bad == 0L,
        s"layout column(s) ${stringLayout.mkString(",")} contain empty-string or " +
          s"'$HiveNullPartition' values, which hive path encoding conflates with null")
    }
    val pool = new Path(dataDir(root), UUID.randomUUID().toString)
    if (layout.isEmpty) df.write.mode("overwrite").parquet(pool.toString)
    else df.write.mode("overwrite").partitionBy(layout: _*).parquet(pool.toString)
    val f = fs(spark, root)
    val rootAbs = absRoot(spark, root)
    val statsFields = df.schema.fields.toSeq
      .filter(fd => !layout.contains(fd.name) && isStatsType(fd.dataType))
      .take(MaxStatsCols)
    val poolAbs = f.makeQualified(pool).toUri.getPath
    val parts = listFilesRec(f, pool)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(st => st.getPath.toUri.getPath)
    // footer reads are independent driver-side IO — parallelize on a
    // bounded pool so a many-file commit (sorted compact, wide blind
    // write) doesn't serialize hundreds of thousands of metadata reads
    val exec = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, parts.size)))
    val entries = try {
      val futs = parts.map { st =>
        exec.submit(new java.util.concurrent.Callable[Option[FileMeta]] {
          def call(): Option[FileMeta] = {
            val (rows, statsCols, mins, maxs) = footerStats(st.getPath, conf(spark), statsFields)
            if (rows == 0) None // empty part files are never referenced
            else {
              val fileAbs = st.getPath.toUri.getPath
              require(fileAbs.startsWith(poolAbs + "/"),
                s"staged file $fileAbs escapes pool $poolAbs")
              require(st.getLen > 0L, s"staged file $fileAbs has no length")
              val part =
                if (layout.isEmpty) Map.empty[String, String]
                else partitionOfPath(fileAbs.drop(poolAbs.length + 1), layout)
              // layout values double as min = max stats so the merge/delete
              // envelope prunes on layout keys; null partitions get NO
              // bounds (statsCols membership alone marks them all-null,
              // which a keyed path skips — null keys never equi-match)
              val layStats = part.filter { case (c, _) =>
                isStatsType(df.schema(df.schema.fieldIndex(c)).dataType)
              }
              val layNull = layStats.collect { case (c, HiveNullPartition) => c }
              val layBounds = layStats.filter { case (_, v) =>
                v != HiveNullPartition && v.length <= MaxStatsLen }
              Some(FileMeta(relativize(st.getPath.toString, rootAbs), rows,
                statsCols ++ (layBounds.keys ++ layNull).toSeq.sorted,
                mins ++ layBounds, maxs ++ layBounds, part, st.getLen))
            }
          }
        })
      }
      futs.flatMap { fut =>
        try fut.get() // ordered: futures mapped over the sorted listing
        catch {
          // surface the real footer-read failure, not the Future wrapper
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally exec.shutdownNow() // on failure, cancel in-flight reads too
    (entries, pool)
  }

  /** Per-file (rowCount, statsCols, mins, maxs) from the parquet footer.
    * CORRECTNESS CONTRACT: a wrong bound here would let the merge prune a
    * file it must rewrite, so only primitive/logical type combinations
    * whose footer statistics provably match Spark's ordering and string-
    * cast round trip are mapped — plain INT32/INT64 (and date days),
    * FLOAT/DOUBLE (dropped when a bound is NaN: parquet's NaN handling is
    * undefined), BOOLEAN, and UTF8 binary (compared as unsigned bytes,
    * Spark's own UTF8String order). Anything else — decimals, timestamps,
    * int96, nested paths, absent or truncated-away statistics — simply
    * yields NO stats for that column: the file stays a permanent merge
    * candidate and the exact discovery join keeps correctness (pruning is
    * an optimization, never an oracle). Cross-validated against a Spark
    * min/max read-back in VersionedLayerSpec. */
  private def footerStats(file: Path, hconf: org.apache.hadoop.conf.Configuration,
                          statsFields: Seq[StructField])
      : (Long, Seq[String], Map[String, String], Map[String, String]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hconf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val parquetSchema = footer.getFileMetaData.getSchema
      val mins = scala.collection.mutable.Map[String, String]()
      val maxs = scala.collection.mutable.Map[String, String]()
      val collected = scala.collection.mutable.ArrayBuffer[String]()
      for (fd <- statsFields) {
        val idx = parquetSchema.getFields.asScala.indexWhere(t => t.getName == fd.name)
        val primitive = idx >= 0 && parquetSchema.getType(idx).isPrimitive
        if (primitive) {
          val pt = parquetSchema.getType(idx).asPrimitiveType()
          // (convert, compare) for the provably-safe combinations; None = unmappable
          val mapped: Option[(AnyRef => String, (AnyRef, AnyRef) => Int)] =
            (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation, fd.dataType) match {
              case (PrimitiveType.PrimitiveTypeName.INT32, _, IntegerType) |
                   (PrimitiveType.PrimitiveTypeName.INT32, _, ShortType) |
                   (PrimitiveType.PrimitiveTypeName.INT32, _, ByteType) =>
                Some((v => v.toString,
                  (a, b) => Integer.compare(a.asInstanceOf[java.lang.Integer], b.asInstanceOf[java.lang.Integer])))
              case (PrimitiveType.PrimitiveTypeName.INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation, DateType) =>
                Some((v => java.time.LocalDate.ofEpochDay(v.asInstanceOf[java.lang.Integer].longValue()).toString,
                  (a, b) => Integer.compare(a.asInstanceOf[java.lang.Integer], b.asInstanceOf[java.lang.Integer])))
              case (PrimitiveType.PrimitiveTypeName.INT64, _, LongType) =>
                Some((v => v.toString,
                  (a, b) => java.lang.Long.compare(a.asInstanceOf[java.lang.Long], b.asInstanceOf[java.lang.Long])))
              case (PrimitiveType.PrimitiveTypeName.FLOAT, _, FloatType) =>
                Some((v => v.toString,
                  (a, b) => java.lang.Float.compare(a.asInstanceOf[java.lang.Float], b.asInstanceOf[java.lang.Float])))
              case (PrimitiveType.PrimitiveTypeName.DOUBLE, _, DoubleType) =>
                Some((v => v.toString,
                  (a, b) => java.lang.Double.compare(a.asInstanceOf[java.lang.Double], b.asInstanceOf[java.lang.Double])))
              case (PrimitiveType.PrimitiveTypeName.BOOLEAN, _, BooleanType) =>
                Some((v => v.toString,
                  (a, b) => java.lang.Boolean.compare(a.asInstanceOf[java.lang.Boolean], b.asInstanceOf[java.lang.Boolean])))
              case (PrimitiveType.PrimitiveTypeName.BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation, StringType) =>
                Some((v => v.asInstanceOf[Binary].toStringUsingUTF8,
                  (a, b) => java.util.Arrays.compareUnsigned(
                    a.asInstanceOf[Binary].getBytes, b.asInstanceOf[Binary].getBytes)))
              case _ => None
            }
          mapped.foreach { case (render, cmp) =>
            var ok = true
            var lo: AnyRef = null
            var hi: AnyRef = null
            for (b <- blocks if ok) {
              val chunk = b.getColumns.asScala.find(c =>
                c.getPath.size() == 1 && c.getPath.toDotString == fd.name)
              chunk match {
                case Some(c) =>
                  val s: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
                  if (s == null || s.isEmpty || !s.isNumNullsSet) ok = false
                  else if (s.hasNonNullValue) {
                    val (mn, mx) = (s.genericGetMin.asInstanceOf[AnyRef], s.genericGetMax.asInstanceOf[AnyRef])
                    val nan = Seq(mn, mx).exists {
                      case d: java.lang.Double => d.isNaN
                      case fl: java.lang.Float => fl.isNaN
                      case _ => false
                    }
                    if (nan) ok = false
                    else {
                      if (lo == null || cmp(mn, lo) < 0) lo = mn
                      if (hi == null || cmp(mx, hi) > 0) hi = mx
                    }
                  } else if (s.getNumNulls != b.getRowCount) ok = false // stats absent, not all-null
                case None => ok = false
              }
            }
            if (ok) {
              val (loS, hiS) = (Option(lo).map(render), Option(hi).map(render))
              if (loS.forall(_.length <= MaxStatsLen) && hiS.forall(_.length <= MaxStatsLen)) {
                collected += fd.name
                loS.foreach(mins(fd.name) = _) // absent when the column is all-null
                hiS.foreach(maxs(fd.name) = _)
              }
            }
          }
        }
      }
      (rowCount, collected.toSeq, mins.toMap, maxs.toMap)
    } finally reader.close()
  }

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Assemble a DataFrame over manifest entries. Unpartitioned entries scan
    * with the full schema; hive-layouted entries scan with the schema MINUS
    * their layout columns (those are not in the files) and reconstruct them
    * as typed literals per partition group — one union branch per distinct
    * partition tuple, each branch a plain pruned parquet scan. Mixed
    * manifests (some files layouted, some not — never produced today, but
    * representable) read correctly by grouping.
    *
    * Each branch is served by [[ManifestScan]] from the entries' staged
    * lengths: the scan plans from the manifest alone — no per-file status
    * fetch, no listing Spark job past the parallel-discovery threshold (at
    * 100k-file versions that listing job is a full cluster round trip per
    * snapshot resolution). */
  private def readFiles(spark: SparkSession, root: String, schema: StructType,
                        files: Seq[FileMeta]): DataFrame = {
    val rootQ = fs(spark, root).makeQualified(new Path(root))
    def branch(es: Seq[FileMeta], dataSchema: StructType): DataFrame =
      ManifestScan.scan(spark, rootQ,
        es.map(e => (new Path(rootQ, e.path), e.bytes)), dataSchema)
    if (files.isEmpty) emptyDf(spark, schema)
    else if (files.forall(_.partition.isEmpty)) branch(files, schema)
    else {
      val groups = files.groupBy(_.partition).toSeq
        .sortBy { case (p, _) => p.toSeq.sorted.mkString(",") }
      groups.map { case (part, es) =>
        val dataSchema = StructType(schema.fields.filterNot(f => part.contains(f.name)))
        val scan = branch(es, dataSchema)
        val withPart = part.foldLeft(scan) { case (df, (c, v)) =>
          val dt = schema(schema.fieldIndex(c)).dataType
          df.withColumn(c,
            (if (v == HiveNullPartition) lit(null) else lit(v)).cast(dt))
        }
        withPart.select(schema.fieldNames.toIndexedSeq.map(col): _*)
      }.reduce(_.unionByName(_))
    }
  }

  // ------------------------------------------------------------------ publish

  /** Stage the manifest, win a version number, publish. `pinned = None`
    * claims the next free number with retry — [[write]]'s rule (blind
    * overwrites commute, any slot is fine); `pinned = Some(n)` is the
    * derived-commit rule ([[serializableCommit]]) — the commit must land
    * exactly at base+1 or not at all, so a lost CAS returns None and the
    * caller re-derives from the advanced base. */
  private def publish(spark: SparkSession, root: String, man: Manifest,
                      pinned: Option[Long]): Option[Long] = {
    val f = fs(spark, root)
    val staged = new Path(root, s"_staged-${UUID.randomUUID()}")
    writeManifestFile(f, staged, man)
    f.mkdirs(claimDir(root))
    val won: Option[Long] = pinned match {
      case Some(n) =>
        if (createExclusive(f, new Path(claimDir(root), n.toString))) Some(n) else None
      case None =>
        def nextFree: Long =
          (listVersionFiles(f, claimDir(root)) ++ listVersionFiles(f, commitDir(root)))
            .maxOption.getOrElse(0L) + 1
        var n = nextFree
        var attempts = 0
        while (!createExclusive(f, new Path(claimDir(root), n.toString))) {
          attempts += 1
          if (attempts >= MaxClaimAttempts)
            throw new IllegalStateException(
              s"could not claim a version under $root after $MaxClaimAttempts attempts")
          n = math.max(nextFree, n + 1)
        }
        Some(n)
    }
    won match {
      case Some(n) =>
        f.mkdirs(manifestDir(root))
        val dest = new Path(manifestDir(root), n.toString)
        if (f.exists(dest)) f.delete(dest, false) // crashed predecessor's unmarked debris
        if (!f.rename(staged, dest))
          throw new IllegalStateException(s"failed to move $staged to $dest")
        f.mkdirs(commitDir(root))
        f.create(new Path(commitDir(root), n.toString), false).close()
        Some(n)
      case None =>
        f.delete(staged, false)
        None
    }
  }

  /** Atomic snapshot overwrite: stage `df`'s files + manifest as the next
    * version and publish it. Returns the committed version number. Safe
    * under writer crashes (debris stays invisible; a retry claims the next
    * free number) and under concurrent writers (the claim CAS arbitrates —
    * see the commit protocol above). The only commit that claims the next
    * free number: it reads no base, so it lands past any held claim.
    *
    * `layoutBy` gives the layer a persistent hive-partitioned layout
    * (`partitionBy` under each `_data` pool): [[merge]]/[[deleteKeys]]
    * rewrites and [[compact]] PRESERVE it, every layout value is a per-file
    * min = max stat (so keyed maintenance on a layout column prunes from
    * the manifest alone), and [[readPartitions]] serves a partition-pruned
    * probe that reads ONLY the matching files — the q200/q388 admission
    * shape: a single-band probe of an 8-band LSH index scans 1/8 of it. */
  def write(df: DataFrame, root: String, layoutBy: Seq[String] = Nil): Long = {
    val (entries, _) = stageDataFiles(df, root, layoutBy)
    publish(df.sparkSession, root, Manifest(df.schema, entries, layoutBy), None).get
  }

  // -------------------------------------------------------------------- merge

  /** The stats-envelope phase runs whenever ≥2 stats-bearing files exist.
    * On the merge path it is JOB-FREE since round 21: the delta's key
    * bounds come from its staged files' parquet footers
    * ([[boundsFromEntries]] — metadata staging reads anyway) and the
    * per-file interval check runs driver-side through the engine's own
    * cast/ordering; only the delete path (whose key set is never staged)
    * still pays one min/max agg. It never touches the base. An earlier
    * threshold of 64 skipped it at small file counts on the inverted theory
    * that discovery was cheaper; the real consequence was that a pure
    * append (the nightly CDC case) paid a key-column scan of EVERY base
    * file instead of pruning all of them from stats — the fixture-scale
    * per-commit residual the round-19 audit isolated in the
    * q389/q391/q392/q396 closes. */
  private val EnvelopeMinFiles = 2

  /** The delta's first-key envelope for the stats prune, as CATALYST-internal
    * values of the key's type. `BoundsUnknown` = could not be derived without
    * a job ([[touchedFilePaths]] falls back to one min/max agg);
    * `BoundsAllNull` = provably no non-null delta key exists (nothing can
    * equi-match); `BoundsRange` = the typed [lo, hi] envelope. */
  private sealed trait KeyBounds
  private case object BoundsUnknown extends KeyBounds
  private case object BoundsAllNull extends KeyBounds
  private case class BoundsRange(lo: Any, hi: Any) extends KeyBounds

  /** Parse a manifest stats string back to the column type with the ENGINE'S
    * OWN cast (catalyst `Cast` in TRY mode, evaluated driver-side — the same
    * code a `col.cast(dt)` plan executes, null on an un-castable string, no
    * driver re-implementation to drift). Returns a catalyst-internal value. */
  private def castStatString(v: String, dt: DataType): Option[Any] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    Option(Cast(Literal.create(v, StringType), dt, Some("UTC"), EvalMode.TRY).eval(null))
  }

  /** The engine's own ordering for a stats-typed column's internal values —
    * `TypeUtils.getInterpretedOrdering` is what Spark's comparison operators
    * execute interpreted, so driver-side interval checks order exactly as a
    * Spark filter would. */
  private def statsOrdering(dt: DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** Derive the delta's key envelope from ALREADY-STAGED manifest entries —
    * the parquet footers `stageDataFiles` read anyway — so the stats prune
    * costs ZERO Spark jobs on the merge path (the round-20 CommitProfile
    * finding: the bounds agg plus the LocalRelation interval filter were
    * ~1.4 s of per-commit driver/plan overhead at fixture scale, paid even
    * when the manifest already proved pruning impossible). Entries whose k0
    * stats were not collected (unmappable type, truncated bound) yield
    * `BoundsUnknown` and the caller falls back to the one-agg path —
    * conservative, never wrong. */
  private def boundsFromEntries(entries: Seq[FileMeta], k0: String,
                                k0Type: DataType): KeyBounds =
    if (entries.isEmpty) BoundsAllNull // empty delta: no key can equi-match
    else if (entries.exists(e => !e.statsCols.contains(k0))) BoundsUnknown
    else {
      // k0 collected everywhere; entries with no bounds are all-null files
      val ranged = entries.filter(e => e.mins.contains(k0) && e.maxs.contains(k0))
      if (ranged.isEmpty) BoundsAllNull
      else {
        val parsed = ranged.map(e =>
          (castStatString(e.mins(k0), k0Type), castStatString(e.maxs(k0), k0Type)))
        if (parsed.exists(p => p._1.isEmpty || p._2.isEmpty)) BoundsUnknown
        else {
          val ord = statsOrdering(k0Type)
          BoundsRange(parsed.map(_._1.get).min(ord), parsed.map(_._2.get).max(ord))
        }
      }
    }

  /** Which base files can contain a key present in `delta` — the file-prune
    * core. Two phases, both delta-bounded:
    *   1. stats prune (engaged from [[EnvelopeMinFiles]] stats-bearing
    *      files): per-file [min,max] of the FIRST key column against the
    *      delta's key envelope. The envelope arrives job-free from the
    *      staged delta's own footers where the caller could derive it
    *      ([[boundsFromEntries]]); otherwise ONE min/max agg collects it.
    *      The per-file interval check runs driver-side through the engine's
    *      own cast and interpreted ordering ([[castStatString]] /
    *      [[statsOrdering]] — the exact code a Spark filter executes, so
    *      numeric / date / string orderings cannot drift), replacing the
    *      LocalRelation filter whose per-commit plan compile the round-20
    *      CommitProfile measured as pure overhead. Files whose stats were
    *      not collected stay candidates (conservative); files whose first
    *      key column is entirely null can never equi-match and are skipped.
    *   2. exact discovery: a key-columns-only scan of the candidates,
    *      semi-joined against the delta's distinct keys (AQE broadcasts the
    *      delta side when small) — `input_file_name()` names the files that
    *      genuinely hold a matched key. This is Delta's MERGE touched-file
    *      join; it reads only the key columns (a few percent of the bytes)
    *      of only the stats-surviving files.
    * Pruning on the first key column alone is conservative-correct for
    * composite keys: a full-key match implies a first-component match. */
  private def touchedFilePaths(spark: SparkSession, root: String, man: Manifest,
                               delta: DataFrame, keyCols: Seq[String],
                               deltaBounds: KeyBounds = BoundsUnknown): Set[String] = {
    val k0 = keyCols.head
    val k0Type = man.schema(man.schema.fieldIndex(k0)).dataType
    val (collected, uncollected) = man.files.partition(_.statsCols.contains(k0))
    val (ranged, allNullKey) = collected.partition(e => e.mins.contains(k0) && e.maxs.contains(k0))
    val _ = allNullKey // null keys never equi-match: those files are never touched
    val rangeCandidates: Seq[FileMeta] =
      if (ranged.isEmpty) Seq.empty
      else if (ranged.size < EnvelopeMinFiles) ranged // discovery opens them all
      else {
        val bounds: Option[(Any, Any)] = deltaBounds match {
          case BoundsRange(lo, hi) => Some((lo, hi))
          case BoundsAllNull => None
          case BoundsUnknown =>
            // fallback: one agg job collects the delta's typed key bounds.
            // The key is aggregated CAST TO THE TABLE'S k0 type first: a
            // coercible-but-narrower delta key (Int keys deleting from a
            // Long-keyed table) would otherwise hand createToCatalystConverter
            // — an identity pass-through for primitives — the wrong box, and
            // statsOrdering(k0Type) would throw ClassCastException where the
            // old in-plan formulation coerced fine (round-21 ADVICE item).
            val r = delta.select(col(k0).cast(k0Type).as(k0))
              .agg(min(col(k0)).as("__dlo"), max(col(k0)).as("__dhi")).head()
            if (r.isNullAt(0)) None // all-null delta keys never equi-match
            else {
              val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
                .createToCatalystConverter(k0Type)
              Some((conv(r.get(0)), conv(r.get(1))))
            }
        }
        bounds match {
          case None => Seq.empty
          case Some((dlo, dhi)) =>
            val ord = statsOrdering(k0Type)
            ranged.filter { e =>
              val lo = castStatString(e.mins(k0), k0Type)
              val hi = castStatString(e.maxs(k0), k0Type)
              // un-castable stats: stay candidates; else interval overlap
              lo.isEmpty || hi.isEmpty ||
                (ord.compare(hi.get, dlo) >= 0 && ord.compare(lo.get, dhi) <= 0)
            }
        }
      }
    val candidates = uncollected.filter(_.rows > 0) ++ rangeCandidates
    if (candidates.isEmpty) Set.empty
    else {
      val rootAbs = absRoot(spark, root)
      val scan = readFiles(spark, root, man.schema, candidates)
        .select(keyCols.map(col) :+ input_file_name().as("__graft_file"): _*)
      // no dropDuplicates: a LEFT SEMI join is set-semantic on its probe
      // side, so deduping the delta keys only added an exchange + aggregate
      // per commit (the broadcast hash relation dedups keys internally)
      val deltaKeys = delta.select(keyCols.map(delta(_)): _*)
      // Dedup file names PER PARTITION and union driver-side instead of a
      // global `.distinct()` (round-22, guide §2.4 remove shuffles outright):
      // the distinct added one exchange — a whole extra AQE stage, plan and
      // job PER COMMIT — to dedup at most (files × partitions) short strings
      // that a driver-side toSet dedups for free. mapPartitions keeps the
      // collected payload bounded by files-per-partition, never rows.
      import spark.implicits._
      scan.join(deltaKeys, keyCols, "left_semi")
        .select(col("__graft_file")).as[String]
        .mapPartitions(it => it.toSet.iterator)
        .collect()
        .map(relativize(_, rootAbs)).toSet
    }
  }

  private def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(target.fields.toSeq.map(f =>
      (if (have.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)): _*)
  }

  /** Derive the next version's manifest from base + delta, rewriting ONLY
    * the touched files: untouched base files are carried into the new
    * manifest BY REFERENCE (zero IO — the copy-on-write granularity is the
    * file, not the table). A pure insert (key-disjoint delta — the CDC
    * maintainers' nightly case) therefore writes O(delta) bytes. Returns
    * the manifest and the staged data pools (for lost-race cleanup).
    *
    * Staging order (the round-21 job-free envelope): the DELTA is staged
    * FIRST, its pool adopted directly into the manifest, and its parquet
    * footers — which staging reads anyway for manifest stats — provide the
    * stats envelope's key bounds with NO extra Spark job
    * ([[boundsFromEntries]]). A pure append therefore runs TWO actions
    * (delta stage + discovery) where the previous shape ran three-plus
    * (bounds agg + interval-filter plan + discovery + stage); an update
    * commit stages the touched files' survivors as a SECOND pool instead of
    * re-writing the delta into a combined one — same rows, same bytes,
    * fewer per-commit plans. Snapshot content is identical either way (the
    * q393 ledger's carried/rewritten row sums are file-composition-proof). */
  private def mergedSnapshot(spark: SparkSession, root: String, man: Manifest,
                             delta: DataFrame, keyCols: Seq[String]): (Manifest, Seq[Path]) = {
    keyCols.foreach(k => require(
      man.schema.fieldNames.contains(k) && delta.columns.contains(k),
      s"merge key column $k must exist on both the table and the delta"))
    // union schema, delta columns first — the same order and widening the
    // previous full-rewrite merge produced via unionByName (additive schema
    // evolution: a column new in the delta widens the table with nulls for
    // pre-existing rows; a column the delta dropped arrives null on the
    // delta's rows). Fast path (round-22, guide §1.2 per-commit fixed cost):
    // when the delta's schema IS the table's schema — every steady-state CDC
    // batch — the union is the identity, so skip analyzing a fresh
    // union-plan per commit (the unionByName result for equal schemas is
    // field-for-field the same StructType).
    val unionSchema =
      if (delta.schema == man.schema) man.schema
      else delta.limit(0)
        .unionByName(emptyDf(spark, man.schema), allowMissingColumns = true).schema
    // a type-WIDENING commit (int -> long, ...) would leave carried files'
    // physical type behind the manifest schema; that rare commit forces a
    // full rewrite rather than betting on reader-side type promotion
    val widened = man.schema.fields.exists(f =>
      unionSchema.find(_.name == f.name).exists(_.dataType != f.dataType))
    if (widened) {
      val rewritten = delta.unionByName(
        readFiles(spark, root, man.schema, man.files)
          .join(delta.select(keyCols.map(delta(_)): _*), keyCols, "left_anti"),
        allowMissingColumns = true)
      val (entries, pool) = stageDataFiles(alignTo(rewritten, unionSchema), root, man.layout)
      (Manifest(unionSchema, entries, man.layout), Seq(pool))
    } else {
      // the staged delta keeps the layer's layout: new files land
      // hive-partitioned like the standing ones, so incremental maintenance
      // never erodes the partition-pruned probe path
      val (deltaEntries, deltaPool) = stageDataFiles(alignTo(delta, unionSchema), root, man.layout)
      val k0 = keyCols.head
      val bounds = boundsFromEntries(deltaEntries, k0,
        man.schema(man.schema.fieldIndex(k0)).dataType)
      val touched = touchedFilePaths(spark, root, man, delta, keyCols, bounds)
      val (rewrittenFiles, carried) = man.files.partition(e => touched.contains(e.path))
      if (rewrittenFiles.isEmpty)
        (Manifest(unionSchema, carried ++ deltaEntries, man.layout), Seq(deltaPool))
      else {
        // no dropDuplicates: LEFT ANTI is set-semantic on its probe side
        // (and null keys never equi-match regardless) — deduping only
        // added an exchange + aggregate per touched-file rewrite
        val survivors = readFiles(spark, root, man.schema, rewrittenFiles)
          .join(delta.select(keyCols.map(delta(_)): _*), keyCols, "left_anti")
        val (survEntries, survPool) =
          stageDataFiles(alignTo(survivors, unionSchema), root, man.layout)
        (Manifest(unionSchema, carried ++ deltaEntries ++ survEntries, man.layout),
          Seq(deltaPool, survPool))
      }
    }
  }

  /** Materialize the delta for the duration of a merge (Delta's
    * materializeSource discipline): the pruned merge consumes the delta in
    * up to three actions — staging write, touched-file discovery, survivor
    * anti-join — and without pinning it each would recompute the delta's
    * lineage (q392's per-micro-batch PQ encode, 3×), and a non-
    * deterministic delta could even DIVERGE between discovery and write.
    * One pin also serves every attempt of a commit that loses a race and
    * re-derives ([[serializableCommit]]). The persist itself costs no extra
    * job: it is lazy, and the staging write (the commit's first action
    * since the round-21 stage-first restructure) populates the cache as it
    * writes. Deltas the caller already persisted are used as-is (and not
    * unpersisted behind the caller's back). */
  private def withMaterializedDelta[T](delta: DataFrame)(body: DataFrame => T): T = {
    val ownPin = delta.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    // Round-22 measured and REJECTED alternative (guide §1.1's "the ideal
    // plan is usually slower at first"): pinning with a lazy localCheckpoint
    // instead of persist — to truncate the delta's lineage under the 2-3
    // per-commit QueryExecutions — consistently cost MORE than the lineage
    // re-traversal it saved at commit scale (same-window reps=5 A/B:
    // q396 3.12→4.01 s, q390 2.31→2.81 s; checkpoint finalization adds its
    // own post-job choreography and recompute-missing-partitions jobs).
    // persist keeps the single-computation guarantee with none of that.
    val pinned = if (ownPin)
      delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else delta
    try body(pinned)
    finally if (ownPin) { pinned.unpersist(false); () }
  }

  /** Keyed upsert (MERGE semantics, whole-row update): publish a new
    * version holding `delta`'s rows plus every published row whose key is
    * absent from `delta` — matched keys take the delta row, unmatched delta
    * keys insert. A missing/empty layer makes the delta the first snapshot.
    * Returns the committed version.
    *
    * Scale shape — the commit's IO is FILE-PRUNED copy-on-write:
    *   - read side: one key-columns-only scan of the stats-surviving
    *     candidate files plus one anti-join over just the touched files
    *     (AQE broadcasts a small delta, so the base never shuffles);
    *   - write side: only touched files are rewritten; every other file is
    *     carried by reference. A nightly insert-mostly delta against a
    *     10 TB standing index writes ~the delta, not ~10 TB — the write-
    *     amplification fix the round-18 audit demanded. Keys uniformly
    *     spread across every file (e.g. content hashes in a table of few
    *     large files) still degrade toward a full rewrite — at scale,
    *     key-local layout (range-partitioned ids) or many-file layout is
    *     what keeps the touched set small, exactly as with Delta's MERGE.
    *
    * Concurrency contract: the merge derives its snapshot from the version
    * it read and may only publish at that base+1 ([[serializableCommit]]).
    * Two mergers that read the same base race for one claim; the loser
    * re-reads the advanced base and re-derives, so the winner's rows are
    * kept — racing merges and deletes are serializable and commit densely
    * and in order (asserted in VersionedLayerSpec with racing threads).
    * The rule has two costs:
    *   - a lost race re-derives AND re-stages against the moved base — only
    *     the touched files' rewrite (file pruning applies on every attempt),
    *     with the delta materialized once for all attempts;
    *   - a writer that crashed holding claim base+1 blocks the merge until
    *     [[vacuum]] clears the claim: after 30 attempts 200 ms apart (one
    *     derivation, since the base never moves) the merge throws a
    *     diagnostic naming it.
    * A concurrent blind [[write]] never waits: it lands past any held claim,
    * and when it wins the race it supersedes earlier merges by design (it is
    * later in the serial order and replaces the table). */
  def merge(delta: DataFrame, root: String, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val spark = delta.sparkSession
    withMaterializedDelta(delta) { d =>
      serializableCommit(spark, root, "merge") {
        case None =>
          val (entries, p) = stageDataFiles(d, root)
          (Manifest(d.schema, entries), Seq(p))
        case Some(v) =>
          mergedSnapshot(spark, root, readManifest(spark, root, v), d, keyCols)
      }
    }
  }

  /** The pinned-claim optimistic-retry loop every derived commit
    * ([[merge]], [[deleteKeys]], [[compact]]) publishes through: derive a
    * snapshot from the CURRENT base, try to publish at exactly base+1 (the
    * claim CAS arbitrates), on a lost race wait for the winner's marker and
    * try again. The derivation is kept while the base stays the same (a
    * claim not yet published, or held by a crashed writer, leaves nothing
    * new to derive from); when the base has moved its staged pools are
    * dropped and the snapshot is re-derived from the advanced base.
    * Versions therefore commit densely and in order, which is what makes
    * "my base is the latest commit" a serializability proof: when this
    * writer owns claim base+1 and base is the newest commit marker, no
    * unseen commit can slot between them. Liveness is bounded, not
    * unconditional (the same trade every filesystem-log format makes): a
    * claim owner that died before publishing holds base+1 hostage, and the
    * loop gives up after [[DerivedCommitAttempts]], drops its pools and
    * throws a diagnosis naming the dangling claim ([[vacuum]] collects it).
    * `derive` receives the base version (None = empty layer) and returns
    * the staged manifest plus the pools it staged (empty when the
    * derivation staged nothing — a no-op delete carries every file by
    * reference). */
  private def serializableCommit(spark: SparkSession, root: String, what: String)
                                (derive: Option[Long] => (Manifest, Seq[Path])): Long = {
    val f = fs(spark, root)
    def drop(pools: Seq[Path]): Unit = pools.foreach(p => f.delete(p, true))
    var attempts = 0
    var won: Option[Long] = None
    var derived: Option[(Option[Long], Manifest, Seq[Path])] = None
    while (won.isEmpty && attempts < DerivedCommitAttempts) {
      val base = latestVersion(spark, root)
      val man = derived match {
        case Some((b, m, _)) if b == base => m
        case stale =>
          stale.foreach(d => drop(d._3))
          val (m, pools) = derive(base)
          derived = Some((base, m, pools))
          m
      }
      won = publish(spark, root, man, Some(base.getOrElse(0L) + 1))
      if (won.isEmpty) {
        // lost the claim: another writer owns base+1. Give the winner a
        // beat to publish; the next attempt re-derives if the base moved.
        if (latestVersion(spark, root).getOrElse(0L) < base.getOrElse(0L) + 1)
          Thread.sleep(LostRaceWaitMs)
        attempts += 1
      }
    }
    if (won.isEmpty) derived.foreach(d => drop(d._3))
    won.getOrElse(throw new IllegalStateException(
      s"$what lost the commit race $DerivedCommitAttempts times under $root; " +
        s"if no concurrent writer is live, a crashed writer's dangling claim " +
        s"${latestVersion(spark, root).getOrElse(0L) + 1} is blocking the log — vacuum reclaims it"))
  }

  /** Exactly-once-EFFECT Structured Streaming sink: merge each micro-batch
    * into the layer and skip batch ids the layer already absorbed — Delta's
    * `txnAppId`/`txnVersion` idempotent-writer pattern rebuilt on this
    * layer's log. Use as
    * `stream.writeStream.foreachBatch(VersionedLayer.idempotentMergeBatch(root, keys, appId) _)`.
    *
    * Replay protection: a marker `_txn/<appId>-<batchId>` is exclusively
    * created AFTER the merge commits, so the crash window (merge committed,
    * marker missing) re-applies the merge on restart — harmless, because
    * re-merging the identical delta is content-idempotent (the snapshot at
    * a duplicate version is content-equal; asserted in the spec). Marker-
    * first would instead DROP a batch when the crash lands between marker
    * and merge — the unrecoverable side of the trade. Markers are per
    * `appId`: distinct streams into one layer keep independent replay
    * cursors. [[vacuum]] leaves `_txn` untouched (retention of replay
    * cursors must outlive snapshot retention — a restarted query may replay
    * a batch older than the oldest kept snapshot). */
  def idempotentMergeBatch(root: String, keyCols: Seq[String], appId: String)
                          (batch: DataFrame, batchId: Long): Unit =
    idempotentBatch(root, appId, batchId, batch.sparkSession) {
      merge(batch, root, keyCols); ()
    }

  /** [[deleteKeys]] as an exactly-once-EFFECT streaming sink — the
    * takedown-request STREAM: each micro-batch of keys is deleted from the
    * layer under the same `_txn` replay-cursor protocol as
    * [[idempotentMergeBatch]] (marker after commit; the crash-window
    * re-delete of an already-deleted key set is content-idempotent — the
    * anti-join of keys no file contains publishes a no-op version). */
  def idempotentDeleteBatch(root: String, keyCols: Seq[String], appId: String)
                           (batch: DataFrame, batchId: Long): Unit =
    idempotentBatch(root, appId, batchId, batch.sparkSession) {
      // the takedown stream's documented deployment runs NEXT TO the CDC
      // merge stream on the same layer (q391/q392 + q396); both commit at
      // base+1 only, so a racing merge can never resurrect a takedown
      // (spec-pinned with racing threads)
      deleteKeys(batch, root, keyCols); ()
    }

  private def idempotentBatch(root: String, appId: String, batchId: Long,
                              spark: SparkSession)(commit: => Unit): Unit = {
    val f = fs(spark, root)
    val marker = new Path(new Path(root, "_txn"), s"$appId-$batchId")
    if (!f.exists(marker)) {
      commit
      f.mkdirs(new Path(root, "_txn"))
      createExclusive(f, marker) // a racing replica's loss means it already marked
      ()
    }
  }

  /** Keyed delete (file-pruned copy-on-write): publish a new version
    * without any row whose `keyCols` match a row of `keys` — the takedown /
    * right-to-be-forgotten primitive a training-data pipeline must serve.
    * Same two-phase pruning as [[merge]]: only files that can hold a
    * matched key are rewritten (as their anti-join survivors); every other
    * file is carried by reference, so deleting a bounded takedown set from
    * a 10 TB index writes ~the touched files, not the table. `keyCols` need
    * not be the table's merge key — deleting on a PREFIX (e.g. `doc_id`
    * alone from a `(doc_id, band_id)` index) removes every row of that
    * prefix. Deleting keys present in no file publishes a no-op version
    * (same file set — the audit trail of a takedown that matched nothing).
    * CONCURRENCY: the same one rule as [[merge]] — the delete derives from
    * the version it read and publishes only at base+1, so a merge (or
    * another delete) that slipped in first costs a lost CAS and the delete
    * re-derives from the advanced base. Deleted keys can never be
    * resurrected by a racing merge, and a racing merge's rows are never
    * dropped by a stale delete derivation (the q391/q392 + q396 matrix: a
    * CDC merge stream racing a takedown stream; spec-pinned with racing
    * merge+delete threads). Same bounded wait behind a crashed writer's
    * claim as [[merge]]. Requires a published version (an empty layer has
    * nothing to delete). Returns the committed version. */
  def deleteKeys(keys: DataFrame, root: String, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    val spark = keys.sparkSession
    withMaterializedDelta(keyColumns(keys, keyCols)) { k =>
      serializableCommit(spark, root, "deleteKeys") { base =>
        deletedSnapshot(spark, root, publishedBase(root, base), k, keyCols)
      }
    }
  }

  /** The base a derived commit that needs existing rows starts from. */
  private def publishedBase(root: String, base: Option[Long]): Long =
    base.getOrElse(throw new IllegalStateException(s"no published version under $root"))

  // no dropDuplicates: the bounds agg, the left-semi discovery and the
  // left-anti rewrite give the same result with repeated keys
  private def keyColumns(keys: DataFrame, keyCols: Seq[String]): DataFrame =
    keys.select(keyCols.map(keys(_)): _*)

  /** Derive the post-delete manifest from base version `v`: files that can
    * hold a matched key are rewritten as their anti-join survivors, every
    * other file is carried by reference; zero matches carries the whole
    * file set (the no-op audit version) and stages nothing. */
  private def deletedSnapshot(spark: SparkSession, root: String, v: Long,
                              k: DataFrame, keyCols: Seq[String]): (Manifest, Seq[Path]) = {
    val man = readManifest(spark, root, v)
    keyCols.foreach(c => require(
      man.schema.fieldNames.contains(c) && k.columns.contains(c),
      s"delete key column $c must exist on both the table and the key set"))
    val touched = touchedFilePaths(spark, root, man, k, keyCols)
    val (doomed, carried) = man.files.partition(e => touched.contains(e.path))
    if (doomed.isEmpty) (Manifest(man.schema, man.files, man.layout), Seq.empty)
    else {
      val survivors = readFiles(spark, root, man.schema, doomed)
        .join(k, keyCols, "left_anti")
      val (newEntries, pool) = stageDataFiles(survivors, root, man.layout)
      (Manifest(man.schema, carried ++ newEntries, man.layout), Seq(pool))
    }
  }

  /** Compact the published snapshot into `targetFiles` parquet files and
    * publish the rewrite as a NEW version (contents identical — asserted in
    * the spec; prior versions stay time-travelable until [[vacuum]]). The
    * rewrite is derived from the version it read, so it commits through the
    * same base+1 rule as [[merge]]: a merge that lands between the read and
    * the publish makes the compact re-derive from the merged version
    * instead of overwriting it. The
    * small-file problem is operational reality at scale — and MORE so with
    * file-pruned merges, whose appended deltas accumulate small files by
    * design: a week of incremental merges leaves thousands of files whose
    * per-file open/footer cost dominates scans, and compaction trades one
    * rewrite for every future read. Default shape uses `coalesce` (not
    * `repartition`) — narrowing file count must not shuffle the data.
    *
    * `sortBy` (Delta's OPTIMIZE ZORDER in its 1-D form) instead
    * range-partitions the rewrite on those columns, giving the compacted
    * files DISJOINT key ranges: that restores the per-file stats pruning
    * that [[merge]]/[[deleteKeys]] rely on even for hash-valued keys
    * (fingerprints), whose incremental appends otherwise overlap every
    * file's range and degrade a keyed update toward a full rewrite. The
    * sorted shape pays ONE shuffle of the table — the periodic-maintenance
    * trade: nightly appends stay O(batch), the weekly sorted compact
    * re-localizes the layout. */
  def compact(spark: SparkSession, root: String, targetFiles: Int = 1,
              sortBy: Seq[String] = Nil): Long = {
    val n = math.max(targetFiles, 1)
    serializableCommit(spark, root, "compact") { base =>
      // compaction preserves the layer's hive layout; with a layout,
      // `targetFiles` bounds files PER PARTITION VALUE (each write task
      // splits by partition dir), which is the bound that matters — scans
      // and probes are per-partition
      val man = readManifest(spark, root, publishedBase(root, base))
      val snap = readFiles(spark, root, man.schema, man.files)
      val shaped =
        if (sortBy.isEmpty) snap.coalesce(n)
        else snap.repartitionByRange(n, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      val (entries, pool) = stageDataFiles(shaped, root, man.layout)
      (Manifest(shaped.schema, entries, man.layout), Seq(pool))
    }
  }

  /** Snapshot diff — change-data-capture BETWEEN committed versions, the
    * reader-side analogue of Delta's change data feed reconstructed from
    * plain snapshots: one full-outer join of the two versions on `keyCols`
    * classifies every key as `insert` (only in `to`), `delete` (only in
    * `from`), or `update` (both, any non-key column changed; unchanged rows
    * are dropped). Returns the `to`-side row for inserts/updates and the
    * `from`-side row for deletes, with a `_change` column.
    *
    * Change detection compares the full row structs — null-safe (`<=>`), so
    * null→value and value→null transitions register as updates. Scale: ONE
    * shuffled equi-join on the key (both snapshots partition on it); at
    * 100 TB a log-based CDF is cheaper when available, but snapshot diff is
    * the tool that works on ANY two versions — including across a vacuum
    * gap or after a blind overwrite, where a change log has no lineage. */
  def diff(spark: SparkSession, root: String, fromV: Long, toV: Long,
           keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diff needs at least one key column")
    val from = read(spark, root, Some(fromV))
    val to = read(spark, root, Some(toV))
    require(from.columns.sorted.sameElements(to.columns.sorted),
      s"schema changed between v$fromV and v$toV; diff requires aligned columns")
    val cols = from.columns.toSeq
    val f = from.select(keyCols.map(col) :+ struct(cols.map(col): _*).as("_f"): _*)
    val t = to.select(keyCols.map(col) :+ struct(cols.map(col): _*).as("_t"): _*)
    f.join(t, keyCols, "full_outer")
      .withColumn("_change",
        when(col("_f").isNull, lit("insert"))
          .when(col("_t").isNull, lit("delete"))
          .when(!(col("_f") <=> col("_t")), lit("update")))
      .filter(col("_change").isNotNull)
      .select(coalesce(col("_t"), col("_f")).as("_row"), col("_change"))
      .select(cols.map(c => col(s"_row.$c")) :+ col("_change"): _*)
  }

  /** Read the published snapshot, or a specific committed version (time
    * travel). Uncommitted manifest debris is not readable. */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val man = resolvedManifest(spark, root, version)
    readFiles(spark, root, man.schema, man.files)
  }

  /** Partition-pruned read of a hive-layouted layer: only the files whose
    * layout values match EVERY `filters` entry are scanned — file selection
    * happens in the MANIFEST, so a single-band probe of an 8-band index
    * never opens (or even lists) the other 7 bands' files. Filter values
    * are the decoded partition strings `partitionBy` wrote (`"3"` for a
    * bigint 3, `"2020-01-01"` for a date); [[HiveNullPartition]] matches
    * nothing (a null layout value never equi-matches a probe). Keys must be
    * layout columns of the version read. */
  def readPartitions(spark: SparkSession, root: String, filters: Map[String, String],
                     version: Option[Long] = None): DataFrame = {
    require(filters.nonEmpty, "readPartitions needs at least one layout filter")
    val man = resolvedManifest(spark, root, version)
    filters.keys.foreach(k => require(man.layout.contains(k),
      s"$k is not a layout column of this layer (layout: ${man.layout.mkString(",")})"))
    val hit = man.files.filter(e =>
      filters.forall { case (k, v) =>
        v != HiveNullPartition && e.partition.get(k).contains(v) })
    readFiles(spark, root, man.schema, hit)
  }

  private def resolvedManifest(spark: SparkSession, root: String,
                               version: Option[Long]): Manifest = {
    val committed = committedVersions(spark, root)
    val v = version match {
      case Some(x) =>
        if (!committed.contains(x))
          throw new IllegalStateException(s"version $x is not committed under $root")
        x
      case None => committed.lastOption.getOrElse(
        throw new IllegalStateException(s"no published version under $root"))
    }
    readManifest(spark, root, v)
  }

  /** Drop all versions older than the `keepLast` most recent committed ones
    * (never the published one): their manifests, claim/commit log entries,
    * writer debris (`_staged-*` manifests, dangling claims), and — because
    * data files are SHARED across versions — every data file no retained
    * manifest references. Time travel to vacuumed versions stops working,
    * and vacuum must not run concurrently with writers — same contract as
    * Delta's VACUUM. `_txn` replay cursors are never collected (see
    * [[idempotentMergeBatch]]). */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 1): Unit = {
    val f = fs(spark, root)
    val keep = committedVersions(spark, root).takeRight(math.max(keepLast, 1)).toSet
    val referenced: Set[String] =
      keep.flatMap(v => readManifest(spark, root, v).files.map(_.path))
    for (v <- versions(spark, root) if !keep.contains(v))
      f.delete(new Path(manifestDir(root), v.toString), false)
    for (d <- Seq(claimDir(root), commitDir(root)); v <- listVersionFiles(f, d)
         if !keep.contains(v))
      f.delete(new Path(d, v.toString), false)
    val r = new Path(root)
    if (f.exists(r))
      for (st <- f.listStatus(r) if st.getPath.getName.startsWith("_staged-"))
        f.delete(st.getPath, true)
    val dd = dataDir(root)
    val rootAbs = absRoot(spark, root)
    if (f.exists(dd))
      for (pool <- f.listStatus(dd) if pool.isDirectory) {
        for (file <- listFilesRec(f, pool.getPath)
             if !referenced.contains(relativize(file.getPath.toString, rootAbs)))
          f.delete(file.getPath, true)
        pruneEmptyDirs(f, pool.getPath)
        ()
      }
  }

  /** Delete directories left empty by vacuumed files (partition dirs, then
    * the pool itself); returns true when `d` was deleted. */
  private def pruneEmptyDirs(f: FileSystem, d: Path): Boolean = {
    var remaining = 0
    for (st <- f.listStatus(d))
      if (!(st.isDirectory && pruneEmptyDirs(f, st.getPath))) remaining += 1
    remaining == 0 && f.delete(d, false)
  }
}
