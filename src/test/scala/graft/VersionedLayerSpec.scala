package graft

import java.nio.file.Files
import graft.sources.VersionedLayer
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The Delta-semantics substitute: atomic snapshot publish, snapshot
  * isolation for in-flight readers, time travel, vacuum. */
class VersionedLayerSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private def tmpRoot() = Files.createTempDirectory("graft-vl").toFile.getAbsolutePath + "/layer"

  test("writes publish atomically and read() follows the pointer") {
    val root = tmpRoot()
    VersionedLayer.latestVersion(spark, root) shouldBe None
    VersionedLayer.write(Seq((1, "a"), (2, "b")).toDF("k", "s"), root) shouldBe 1L
    VersionedLayer.write(Seq((3, "c")).toDF("k", "s"), root) shouldBe 2L
    VersionedLayer.latestVersion(spark, root) shouldBe Some(2L)
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)).sorted shouldBe Array(3)
  }

  test("time travel reads any retained version") {
    val root = tmpRoot()
    VersionedLayer.write(Seq((1, "a")).toDF("k", "s"), root)
    VersionedLayer.write(Seq((2, "b")).toDF("k", "s"), root)
    VersionedLayer.read(spark, root, Some(1L)).collect().map(_.getInt(0)) shouldBe Array(1)
    VersionedLayer.read(spark, root, Some(2L)).collect().map(_.getInt(0)) shouldBe Array(2)
  }

  test("a reader that resolved version N is unaffected by a later publish") {
    val root = tmpRoot()
    VersionedLayer.write((1 to 100).toDF("k"), root)
    val snapshotN = VersionedLayer.read(spark, root) // resolves v=1 files now
    VersionedLayer.write((200 to 300).toDF("k"), root) // v=2 lands + publishes
    // the already-planned reader still sees the full, consistent old snapshot
    snapshotN.count() shouldBe 100
    VersionedLayer.read(spark, root).count() shouldBe 101
  }

  test("an unpublished (crashed) write leaves readers on the old version") {
    val root = tmpRoot()
    VersionedLayer.write(Seq((1, "a")).toDF("k", "s"), root)
    // simulate a writer that staged its data pool AND renamed its manifest
    // to _manifests/2 but died before creating the commit marker
    val debris = Seq((9, "x")).toDF("k", "s")
    debris.write.parquet(root + "/_data/debris")
    val part = new java.io.File(root + "/_data/debris").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val quotedSchema =
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(debris.schema.json)
    Files.createDirectories(java.nio.file.Paths.get(root, "_manifests"))
    Files.write(java.nio.file.Paths.get(root, "_manifests", "2"),
      (s"""{"schema":$quotedSchema,"files":[{"path":"_data/debris/$part",""" +
        s""""rows":1,"statsCols":[],"min":{},"max":{}}]}""").getBytes("UTF-8"))
    VersionedLayer.latestVersion(spark, root) shouldBe Some(1L)
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)) shouldBe Array(1)
    // the retry claims the unclaimed number, clears the debris, publishes
    VersionedLayer.write(Seq((2, "b")).toDF("k", "s"), root) shouldBe 2L
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)) shouldBe Array(2)
    // the dead writer's manifest is gone, not resurrected as version 2
    VersionedLayer.read(spark, root, Some(2L)).collect().map(_.getInt(0)) shouldBe Array(2)
  }

  // ---- crash phases of a keyed commit: the debris a dead writer leaves ----

  /** Leave by hand what a writer that died during the commit protocol
    * leaves: phase 1 = its staged `_data` pool, 2 = plus its `_staged-*`
    * manifest, 3 = plus its claim on version `n`, 4 = that claim with the
    * staged manifest renamed to `_manifests/n` but no commit marker.
    * Returns the dead writer's pool directory. */
  private def crashAt(root: String, phase: Int, n: Long): java.io.File = {
    val pool = new java.io.File(root, s"_data/dead-${java.util.UUID.randomUUID()}")
    val debris = Seq((9, "dead")).toDF("k", "s").coalesce(1)
    debris.write.parquet(pool.getPath)
    if (phase >= 2) {
      val part = pool.listFiles().filter(_.getName.endsWith(".parquet")).head
      val quotedSchema =
        new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(debris.schema.json)
      val manifest = s"""{"schema":$quotedSchema,"files":[{"path":"_data/${pool.getName}/""" +
        s"""${part.getName}","rows":1,"bytes":${part.length},"statsCols":[],"min":{},"max":{}}]}"""
      val target =
        if (phase >= 4) java.nio.file.Paths.get(root, "_manifests", n.toString)
        else java.nio.file.Paths.get(root, s"_staged-${pool.getName}")
      Files.createDirectories(target.getParent)
      Files.write(target, manifest.getBytes("UTF-8"))
    }
    if (phase >= 3) {
      Files.createDirectories(java.nio.file.Paths.get(root, "_claims"))
      Files.createFile(java.nio.file.Paths.get(root, "_claims", n.toString))
    }
    pool
  }

  private def filesUnder(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) filesUnder(f) else Seq(f))

  for ((phase, debris) <- Seq(1 -> "a staged _data pool", 2 -> "a _staged-* manifest",
                              3 -> "a held claim on base+1",
                              4 -> "a held claim and an unmarked _manifests/base+1"))
    test(s"a writer that died leaving $debris: readers stay, keyed commits wait for vacuum") {
      val root = tmpRoot()
      def rows(): Map[Int, String] = VersionedLayer.read(spark, root).collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      def staged(): Set[String] =
        new java.io.File(root).list().filter(_.startsWith("_staged-")).toSet
      def pools(): Set[String] = new java.io.File(root, "_data").list().toSet
      val base = Map(1 -> "a", 2 -> "b")
      VersionedLayer.write(base.toSeq.toDF("k", "s").coalesce(1), root) shouldBe 1L
      val dead = crashAt(root, phase, 2L)
      val holdsClaim = phase >= 3
      VersionedLayer.latestVersion(spark, root) shouldBe Some(1L)
      rows() shouldBe base
      intercept[IllegalStateException](VersionedLayer.read(spark, root, Some(2L)))
      val delta = Seq((2, "B"), (3, "c")).toDF("k", "s")
      if (holdsClaim) {
        // merge may only publish at base+1, which the dead writer holds
        val (poolsBefore, stagedBefore) = (pools(), staged())
        val e = intercept[IllegalStateException](VersionedLayer.merge(delta, root, Seq("k")))
        e.getMessage should include("dangling claim 2")
        e.getMessage should include("vacuum reclaims it")
        // every attempt dropped its own pools and staged manifest
        (pools(), staged()) shouldBe ((poolsBefore, stagedBefore))
        VersionedLayer.latestVersion(spark, root) shouldBe Some(1L)
        rows() shouldBe base
      }
      VersionedLayer.vacuum(spark, root)
      VersionedLayer.merge(delta, root, Seq("k")) shouldBe 2L
      rows() shouldBe Map(1 -> "a", 2 -> "B", 3 -> "c")
      // vacuum reclaimed the debris: no orphan data file, pool or staged
      // manifest (writer markers and checksums are not data files)
      dead.exists() shouldBe false
      staged() shouldBe empty
      val referenced = VersionedLayer.committedVersions(spark, root)
        .flatMap(v => VersionedLayer.dataFiles(spark, root, v)).toSet
      val rootAbs = new java.io.File(root).getAbsolutePath + "/"
      filesUnder(new java.io.File(root, "_data"))
        .map(_.getAbsolutePath.stripPrefix(rootAbs))
        .filter(_.endsWith(".parquet")).toSet shouldBe referenced
      pools() shouldBe referenced.map(_.split('/')(1))
      // a blind write reads no base: it lands past a held claim
      crashAt(root, phase, 3L)
      VersionedLayer.write(Seq((7, "w")).toDF("k", "s"), root) shouldBe
        (if (holdsClaim) 4L else 3L)
      rows() shouldBe Map(7 -> "w")
    }

  test("a merge behind a held claim derives once: as many jobs as the merge that lands") {
    val root = tmpRoot()
    VersionedLayer.write(Seq((1, "a"), (2, "b")).toDF("k", "s").coalesce(1), root) shouldBe 1L
    crashAt(root, 3, 2L)
    val delta = Seq((2, "B"), (3, "c")).toDF("k", "s")
    // the base never moves behind the dead claim, so every attempt after the
    // first reuses the staged snapshot and only retries the claim
    val (_, blocked) = TestSpark.jobsOf(
      intercept[IllegalStateException](VersionedLayer.merge(delta, root, Seq("k"))))
    VersionedLayer.vacuum(spark, root)
    val (v, landed) = TestSpark.jobsOf(VersionedLayer.merge(delta, root, Seq("k")))
    v shouldBe 2L
    landed should be > 0
    blocked shouldBe landed
  }

  test("concurrent writers serialize onto distinct versions (commit arbitration)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = tmpRoot()
    VersionedLayer.write(Seq(0).toDF("k"), root)
    val writers = 8
    // writer i commits a snapshot of i rows, all equal to i — so every
    // committed version can be traced back to exactly one writer
    val results = Await.result(
      Future.sequence((1 to writers).map(i =>
        Future(i -> VersionedLayer.write(Seq.fill(i)(i).toDF("k"), root)))),
      5.minutes)
    // every writer won a distinct version; the race produced a contiguous log
    results.map(_._2).sorted shouldBe (2L to (writers + 1).toLong)
    VersionedLayer.latestVersion(spark, root) shouldBe Some((writers + 1).toLong)
    // each version time-travels to the exact snapshot its writer staged —
    // no interleaving ever mixed two writers' files under one version
    for ((i, v) <- results) {
      val rows = VersionedLayer.read(spark, root, Some(v)).collect().map(_.getInt(0))
      rows.length shouldBe i
      rows.toSet shouldBe Set(i)
    }
    // the published snapshot is the last committed writer's, in full
    val lastWriter = results.maxBy(_._2)._1
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)).toSet shouldBe Set(lastWriter)
    VersionedLayer.versions(spark, root) shouldBe (1L to (writers + 1).toLong)
  }

  test("racing serializable mergers lose no deltas (conflict-detection retry)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = tmpRoot()
    VersionedLayer.write(Seq((0, "base")).toDF("k", "s"), root)
    val mergers = 6
    // merger i upserts the single key i — commuting deltas; a merge that
    // published past a base it did not read would let a later commit drop
    // an earlier one (the lost-update anomaly), so EVERY key surviving is
    // the serializability proof, not just the absence of crashes
    val versions = Await.result(
      Future.sequence((1 to mergers).map(i =>
        Future(VersionedLayer.merge(
          Seq((i, s"w$i")).toDF("k", "s"), root, Seq("k"))))),
      5.minutes)
    versions.sorted shouldBe (2L to (mergers + 1).toLong) // dense, in-order log
    val rows = VersionedLayer.read(spark, root).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    rows.keySet shouldBe (0 to mergers).toSet          // no delta lost
    (1 to mergers).foreach(i => rows(i) shouldBe s"w$i")
    rows(0) shouldBe "base"
  }

  test("racing serializable merge and delete both take effect (no resurrected takedown)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = tmpRoot()
    VersionedLayer.write((0 to 19).map(i => (i, s"v$i")).toDF("k", "s"), root)
    // the q391/q392 + q396 deployment matrix in miniature: a CDC merge
    // stream and a compliance takedown stream racing on ONE layer. Both
    // sides commit at base+1 only, so whichever loses the CAS re-derives
    // from the winner's snapshot — a delete can never be undone by a
    // racing merge (the resurrected-takedown anomaly of a commit that
    // publishes past a base it did not read), and a merge's rows can
    // never be dropped by a stale delete derivation. Several rounds to
    // exercise genuine interleavings, not one lucky ordering.
    val rounds = 4
    for (r <- 0 until rounds) {
      val m = Future(VersionedLayer.merge(
        Seq((100 + r, s"m$r")).toDF("k", "s"), root, Seq("k")))
      val d = Future(VersionedLayer.deleteKeys(
        Seq(r).toDF("k"), root, Seq("k")))
      Await.result(Future.sequence(Seq(m, d)), 5.minutes)
    }
    // dense log: base + 2 commits per round, every claim arbitrated
    VersionedLayer.committedVersions(spark, root) shouldBe
      (1L to (1 + 2 * rounds).toLong)
    val keys = VersionedLayer.read(spark, root).collect().map(_.getInt(0)).toSet
    keys shouldBe ((rounds to 19).toSet ++ (100 until 100 + rounds).toSet)
  }

  test("racing compact and merge: the merged key survives and the log stays dense") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = tmpRoot()
    VersionedLayer.write((0 until 40).map(i => (i, s"v$i")).toDF("k", "s").repartition(4), root)
    // compact derives its rewrite from the version it read: a merge that
    // lands between that read and compact's publish must make compact
    // re-derive, not be overwritten by a rewrite of the older snapshot
    val rounds = 4
    for (r <- 0 until rounds) {
      val c = Future(VersionedLayer.compact(spark, root, targetFiles = 1))
      val m = Future(VersionedLayer.merge(
        Seq((100 + r, s"m$r")).toDF("k", "s"), root, Seq("k")))
      Await.result(Future.sequence(Seq(c, m)), 5.minutes)
    }
    VersionedLayer.committedVersions(spark, root) shouldBe
      (1L to (1 + 2 * rounds).toLong)
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)).toSet shouldBe
      ((0 until 40).toSet ++ (100 until 100 + rounds).toSet)
  }

  test("idempotent streaming merge: replayed batch ids apply no second effect") {
    val root = tmpRoot()
    val sink = VersionedLayer.idempotentMergeBatch(root, Seq("k"), "app1") _
    sink(Seq((1, "a"), (2, "b")).toDF("k", "s"), 0L)
    sink(Seq((2, "B"), (3, "c")).toDF("k", "s"), 1L)
    val vAfter = VersionedLayer.latestVersion(spark, root)
    val snap = VersionedLayer.read(spark, root).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    snap shouldBe Map(1 -> "a", 2 -> "B", 3 -> "c")
    // restart replays batch 1: marker short-circuits, no new version
    sink(Seq((2, "B"), (3, "c")).toDF("k", "s"), 1L)
    VersionedLayer.latestVersion(spark, root) shouldBe vAfter
    // the crash window (merge committed, marker lost) re-merges the same
    // delta: an extra version whose snapshot is content-identical
    VersionedLayer.merge(Seq((2, "B"), (3, "c")).toDF("k", "s"), root, Seq("k"))
    VersionedLayer.read(spark, root).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap shouldBe snap
    // a second app's cursor is independent: same batch id still applies
    VersionedLayer.idempotentMergeBatch(root, Seq("k"), "app2")(
      Seq((4, "d")).toDF("k", "s"), 1L)
    VersionedLayer.read(spark, root).collect()
      .map(_.getInt(0)).toSet shouldBe Set(1, 2, 3, 4)
  }

  test("idempotent streaming delete: replayed batch ids apply no second effect") {
    val root = tmpRoot()
    VersionedLayer.write(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "s"), root)
    val sink = VersionedLayer.idempotentDeleteBatch(root, Seq("k"), "del1") _
    sink(Seq(2).toDF("k"), 0L)
    sink(Seq(4).toDF("k"), 1L)
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)).sorted shouldBe Array(1, 3)
    val vAfter = VersionedLayer.latestVersion(spark, root)
    // restart replays batch 1: marker short-circuits, no new version
    sink(Seq(4).toDF("k"), 1L)
    VersionedLayer.latestVersion(spark, root) shouldBe vAfter
    // the crash window (delete committed, marker lost) re-deletes the same
    // keys: a no-op version whose snapshot is content-identical
    VersionedLayer.deleteKeys(Seq(4).toDF("k"), root, Seq("k"))
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)).sorted shouldBe Array(1, 3)
    // independent per-app cursors: another app's same batch id still applies
    VersionedLayer.idempotentDeleteBatch(root, Seq("k"), "del2")(Seq(1).toDF("k"), 1L)
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)) shouldBe Array(3)
  }

  test("replay cursors (_txn markers) outlive vacuum: a replayed batch after vacuum is still a no-op") {
    // The documented retention contract: [[vacuum]] collects snapshots and
    // claim/commit markers but NEVER _txn replay cursors — a restarted
    // stream may replay a batch OLDER than the oldest kept snapshot, and
    // dropping its marker would double-apply the merge.
    val root = tmpRoot()
    val sink = VersionedLayer.idempotentMergeBatch(root, Seq("k"), "appV") _
    sink(Seq((1, "a")).toDF("k", "s"), 0L)
    sink(Seq((2, "b")).toDF("k", "s"), 1L)
    sink(Seq((3, "c")).toDF("k", "s"), 2L)
    VersionedLayer.vacuum(spark, root, keepLast = 1)
    val vAfter = VersionedLayer.latestVersion(spark, root)
    // batch 0's snapshot is vacuumed away; its cursor must still block replay
    sink(Seq((1, "a")).toDF("k", "s"), 0L)
    VersionedLayer.latestVersion(spark, root) shouldBe vAfter
    VersionedLayer.read(spark, root).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap shouldBe
      Map(1 -> "a", 2 -> "b", 3 -> "c")
  }

  test("snapshot diff classifies inserts, deletes, updates, and drops unchanged rows") {
    val root = tmpRoot()
    VersionedLayer.write(Seq((1, "a"), (2, "b"), (3, "c"), (4, null)).toDF("k", "s"), root)
    VersionedLayer.write(Seq((2, "b"), (3, "C"), (4, "d"), (5, "e")).toDF("k", "s"), root)
    val d = VersionedLayer.diff(spark, root, 1L, 2L, Seq("k")).collect()
      .map(r => r.getInt(0) -> (Option(r.getString(1)), r.getString(2))).toMap
    d shouldBe Map(
      1 -> (Some("a"), "delete"),   // only in v1 (from-side row surfaces)
      3 -> (Some("C"), "update"),   // changed value, to-side row surfaces
      4 -> (Some("d"), "update"),   // null -> value registers (null-safe compare)
      5 -> (Some("e"), "insert"))   // only in v2
    // k=2 unchanged: absent. Reversing direction mirrors the classification
    val rev = VersionedLayer.diff(spark, root, 2L, 1L, Seq("k")).collect()
      .map(r => r.getInt(0) -> r.getString(2)).toMap
    rev(1) shouldBe "insert"
    rev(5) shouldBe "delete"
  }

  test("vacuum drops old snapshots but never the published one") {
    val root = tmpRoot()
    (1 to 4).foreach(i => VersionedLayer.write(Seq(i).toDF("k"), root))
    VersionedLayer.versions(spark, root) shouldBe Seq(1L, 2L, 3L, 4L)
    VersionedLayer.vacuum(spark, root, keepLast = 2)
    VersionedLayer.versions(spark, root) shouldBe Seq(3L, 4L)
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)) shouldBe Array(4)
    intercept[Exception](VersionedLayer.read(spark, root, Some(1L)).collect())
  }

  test("merge upserts matched keys, inserts new ones, and preserves time travel") {
    val root = tmpRoot()
    // first merge on an empty layer bootstraps it
    VersionedLayer.merge(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s"),
      root, Seq("k")) shouldBe 1L
    // update k=2, insert k=4; duplicate delta keys collapse in the anti-join
    VersionedLayer.merge(Seq((2, "B"), (4, "d")).toDF("k", "s"),
      root, Seq("k")) shouldBe 2L
    VersionedLayer.read(spark, root).collect()
      .map(r => r.getInt(0) -> r.getString(1)).sorted shouldBe
      Array(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d")
    // the pre-merge snapshot is still intact (merge is a new version)
    VersionedLayer.read(spark, root, Some(1L)).collect()
      .map(r => r.getInt(0) -> r.getString(1)).sorted shouldBe
      Array(1 -> "a", 2 -> "b", 3 -> "c")
    // idempotence: replaying the same delta changes nothing but the version
    VersionedLayer.merge(Seq((2, "B"), (4, "d")).toDF("k", "s"), root, Seq("k"))
    VersionedLayer.read(spark, root).collect()
      .map(r => r.getInt(0) -> r.getString(1)).sorted shouldBe
      Array(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d")
  }

  test("compact shrinks the file count without changing contents") {
    val root = tmpRoot()
    // many tiny files: one per incremental merge batch
    VersionedLayer.write((1 to 40).toDF("k").repartition(8), root)
    val before = VersionedLayer.dataFiles(spark, root, 1L)
    before.size should be > 4
    val v = VersionedLayer.compact(spark, root, targetFiles = 2)
    VersionedLayer.dataFiles(spark, root, v).size should be <= 2
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)).sorted shouldBe
      (1 to 40).toArray
    // the un-compacted version remains readable until vacuum
    VersionedLayer.read(spark, root, Some(1L)).count() shouldBe 40
  }

  // ---- round-19 file-pruned merge: write IO is O(touched files), not O(table) ----

  private def keyLocalLayer(root: String): Unit = {
    // four key-local files — ids 1-10, 11-20, 21-30, 31-40, one file per commit
    VersionedLayer.write((1 to 10).map(i => (i, s"v$i")).toDF("k", "s").coalesce(1), root)
    for (b <- 1 to 3)
      VersionedLayer.merge(
        ((b * 10 + 1) to (b * 10 + 10)).map(i => (i, s"v$i")).toDF("k", "s").coalesce(1),
        root, Seq("k"))
  }

  test("merge is file-pruned: a key-disjoint delta appends, carrying every base file by reference") {
    val root = tmpRoot()
    keyLocalLayer(root)
    val v4 = VersionedLayer.latestVersion(spark, root).get
    val before = VersionedLayer.dataFiles(spark, root, v4)
    before.size shouldBe 4
    // pure insert: keys 41..50 are disjoint from every file's [min,max]
    val v5 = VersionedLayer.merge(
      (41 to 50).map(i => (i, s"v$i")).toDF("k", "s").coalesce(1), root, Seq("k"))
    val after = VersionedLayer.dataFiles(spark, root, v5)
    // every pre-existing file is carried BY REFERENCE (identical physical
    // path — zero bytes rewritten), plus exactly the appended delta file
    before.foreach(p => after should contain(p))
    (after.toSet -- before.toSet).size shouldBe 1
    VersionedLayer.read(spark, root).count() shouldBe 50
  }

  test("merge rewrites only the files whose key range intersects the delta") {
    val root = tmpRoot()
    keyLocalLayer(root)
    val v4 = VersionedLayer.latestVersion(spark, root).get
    val entriesBefore = VersionedLayer.fileEntries(spark, root, v4)
    val hot = entriesBefore.filter(e => e.mins("k") == "11").map(_.path)
    hot.size shouldBe 1 // the [11,20] file
    // update five keys inside [11,20] only
    val v5 = VersionedLayer.merge(
      (13 to 17).map(i => (i, "UP")).toDF("k", "s").coalesce(1), root, Seq("k"))
    val after = VersionedLayer.dataFiles(spark, root, v5).toSet
    // the three non-intersecting files are carried; the hot file is not
    entriesBefore.map(_.path).filterNot(hot.contains).foreach(p => after should contain(p))
    after should not contain hot.head
    val snap = VersionedLayer.read(spark, root).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    snap.size shouldBe 40
    (13 to 17).foreach(i => snap(i) shouldBe "UP")
    (Seq(11, 12, 18, 19, 20) ++ (1 to 10) ++ (21 to 40)).foreach(i => snap(i) shouldBe s"v$i")
    // the pre-update snapshot still time-travels in full
    VersionedLayer.read(spark, root, Some(v4)).filter("k = 15").head().getString(1) shouldBe "v15"
  }

  test("footer stats match a Spark min/max read-back on every mapped type") {
    // The footerStats correctness contract: per-file manifest stats come
    // from parquet footers (zero data IO); this cross-validates every
    // mapped type — int, long, double, unicode string, boolean, date,
    // an all-null column — against the engine's own min/max + string cast.
    import org.apache.spark.sql.functions._
    val root = tmpRoot()
    val df = spark.range(0, 1000, 1, 4).select(
      col("id").cast("int").as("i"),
      col("id").as("l"),
      (col("id") * 1.5 - 250.0).as("d"),
      concat(lit("sé☃-"), lpad(col("id").cast("string"), 4, "0")).as("s"),
      (col("id") % 2 === 0).as("bo"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), col("id").cast("int")).as("dt"),
      lit(null).cast("string").as("nul"))
    VersionedLayer.write(df, root)
    val entries = VersionedLayer.fileEntries(spark, root, 1L)
    entries.size shouldBe 4
    val mapped = Seq("i", "l", "d", "s", "bo", "dt")
    for (e <- entries) {
      e.statsCols should contain allElementsOf (mapped :+ "nul")
      // all-null column: collected, no bounds (prunable as never-matching)
      e.mins.contains("nul") shouldBe false
      e.maxs.contains("nul") shouldBe false
      val back = spark.read.schema(df.schema).parquet(root + "/" + e.path)
      val aggs = count(lit(1)).as("n") +: mapped.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"lo_$c"), max(col(c)).cast("string").as(s"hi_$c")))
      val r = back.agg(aggs.head, aggs.tail: _*).head()
      r.getLong(0) shouldBe e.rows
      for (c <- mapped) {
        e.mins(c) shouldBe r.getAs[String](s"lo_$c")
        e.maxs(c) shouldBe r.getAs[String](s"hi_$c")
      }
    }
  }

  test("the stats envelope path prunes identically to discovery") {
    // The envelope runs from 2 stats-bearing files up (a pure append should
    // touch zero files at ANY count); keyLocalLayer's 4 files take it, with
    // the same file-level outcomes as the discovery tests.
    val root = tmpRoot()
    keyLocalLayer(root)
    val v4 = VersionedLayer.latestVersion(spark, root).get
    val before = VersionedLayer.fileEntries(spark, root, v4)
    // pure append: the envelope alone excludes every file — zero rewrites
    val v5 = VersionedLayer.merge(
      (41 to 50).map(i => (i, s"v$i")).toDF("k", "s").coalesce(1), root, Seq("k"))
    val after5 = VersionedLayer.dataFiles(spark, root, v5)
    before.map(_.path).foreach(p => after5 should contain(p))
    // key-local update: envelope narrows to the [11,20] file, discovery confirms
    val hot = before.filter(_.mins("k") == "11").map(_.path).head
    val v6 = VersionedLayer.merge(
      Seq((15, "UP")).toDF("k", "s"), root, Seq("k"))
    val after6 = VersionedLayer.dataFiles(spark, root, v6)
    after6 should not contain hot
    (before.map(_.path).toSet - hot).foreach(p => after6 should contain(p))
    VersionedLayer.read(spark, root).count() shouldBe 50
    VersionedLayer.read(spark, root).filter("k = 15").head().getString(1) shouldBe "UP"
  }

  test("layoutBy: hive-partitioned write round-trips; a single-band probe reads one partition's files only") {
    val root = tmpRoot()
    val df = (0 until 64).map(i => (i.toLong, (i % 8).toLong, s"p$i"))
      .toDF("id", "band_id", "payload")
    VersionedLayer.write(df.repartition(4), root, layoutBy = Seq("band_id"))
    // full read reconstructs the layout column and round-trips content
    val back = VersionedLayer.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    back shouldBe df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // the pruning assertion the round-19 verdict asked for: the probe's
    // PHYSICAL scan touches band 3's files only — file selection happens in
    // the manifest, so 7/8 of the index is never opened or listed
    val probe = VersionedLayer.readPartitions(spark, root, Map("band_id" -> "3"))
    probe.collect().map(_.getLong(0)).sorted shouldBe
      (0 until 64).filter(_ % 8 == 3).map(_.toLong).toArray
    val probeFiles = probe.inputFiles.toSeq
    probeFiles should not be empty
    probeFiles.foreach(_ should include("band_id=3"))
    val v = VersionedLayer.latestVersion(spark, root).get
    val entries = VersionedLayer.fileEntries(spark, root, v)
    val band3 = entries.filter(_.partition.get("band_id").contains("3"))
    probeFiles.size shouldBe band3.size
    entries.size should be > band3.size // the other 7 bands exist and were skipped
    // layout values double as min = max stats → the envelope prunes on them
    band3.foreach { e =>
      e.mins("band_id") shouldBe "3"
      e.maxs("band_id") shouldBe "3"
    }
  }

  test("layoutBy: merge, deleteKeys, compact and vacuum preserve the hive layout") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    val df = (0 until 64).map(i => (i.toLong, (i % 8).toLong, s"p$i"))
      .toDF("id", "band_id", "payload")
    VersionedLayer.write(df, root, layoutBy = Seq("band_id"))
    VersionedLayer.merge(
      Seq((3L, 3L, "UP"), (100L, 4L, "NEW")).toDF("id", "band_id", "payload"),
      root, Seq("id", "band_id"))
    val v = VersionedLayer.latestVersion(spark, root).get
    VersionedLayer.fileEntries(spark, root, v)
      .foreach(_.partition.keySet shouldBe Set("band_id"))
    val snap = VersionedLayer.read(spark, root)
    snap.count() shouldBe 65
    snap.filter(col("id") === 3).head().getString(2) shouldBe "UP"
    // probe after maintenance still reads one partition only
    val probe4 = VersionedLayer.readPartitions(spark, root, Map("band_id" -> "4"))
    probe4.inputFiles.toSeq.foreach(_ should include("band_id=4"))
    probe4.collect().map(_.getLong(0)).toSet shouldBe
      ((0 until 64).filter(_ % 8 == 4).map(_.toLong).toSet + 100L)
    // takedown by prefix key, then compact, then vacuum — layout survives all
    VersionedLayer.deleteKeys(Seq(3L).toDF("id"), root, Seq("id"))
    VersionedLayer.compact(spark, root, targetFiles = 1)
    VersionedLayer.vacuum(spark, root, keepLast = 1)
    val vEnd = VersionedLayer.latestVersion(spark, root).get
    val endEntries = VersionedLayer.fileEntries(spark, root, vEnd)
    endEntries.foreach(_.partition.keySet shouldBe Set("band_id"))
    endEntries.map(_.partition("band_id")).toSet shouldBe (0 to 7).map(_.toString).toSet
    val end = VersionedLayer.read(spark, root)
    end.count() shouldBe 64
    end.filter(col("id") === 3).count() shouldBe 0
    VersionedLayer.readPartitions(spark, root, Map("band_id" -> "5"))
      .collect().map(_.getLong(0)).toSet shouldBe
      (0 until 64).filter(_ % 8 == 5).map(_.toLong).toSet
  }

  test("layoutBy: a merge keyed on the layout column rewrites only that partition's files") {
    // Layout values double as min = max stats, so a maintenance delta
    // keyed FIRST on the layout column prunes to its partition from the
    // manifest alone — the write-side counterpart of readPartitions'
    // read-side pruning.
    val root = tmpRoot()
    val df = (0 until 64).map(i => (i.toLong, (i % 8).toLong, s"p$i"))
      .toDF("id", "band_id", "payload")
    VersionedLayer.write(df, root, layoutBy = Seq("band_id"))
    val v1 = VersionedLayer.latestVersion(spark, root).get
    val before = VersionedLayer.fileEntries(spark, root, v1)
    val v2 = VersionedLayer.merge(
      Seq((3L, 19L, "UP")).toDF("band_id", "id", "payload"),
      root, Seq("band_id", "id"))
    val after = VersionedLayer.fileEntries(spark, root, v2)
    // every non-band-3 file carried BY REFERENCE (same path, zero IO)
    for (e <- before if e.partition("band_id") != "3")
      after.map(_.path) should contain(e.path)
    // the rewrite is EXACT within the partition too: only the band-3
    // file(s) actually holding the matched key are dropped — discovery
    // narrows below the partition grain
    val dropped = before.map(_.path).toSet -- after.map(_.path).toSet
    dropped should not be empty
    dropped.foreach(_ should include("band_id=3"))
    val newFiles = after.filterNot(e => before.map(_.path).contains(e.path))
    newFiles.foreach(_.partition("band_id") shouldBe "3")
    VersionedLayer.read(spark, root).filter("id = 19").head().getString(2) shouldBe "UP"
    VersionedLayer.read(spark, root).count() shouldBe 64
  }

  test("a time-travel reader is bit-stable across racing merge + vacuum cycles") {
    import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}
    // The manifest layer shares immutable _data files ACROSS versions, so a
    // pinned reader depends on files that later merges supersede and vacuum
    // then evaluates for collection. This torture pins a middle version and
    // hammers it with full scans WHILE merges rewrite files and vacuum
    // repeatedly collects everything older than the pin: share-aware vacuum
    // must keep every file the retained manifest references — one wrongly
    // collected shared file breaks the reader mid-scan or shifts the hash.
    val root = tmpRoot()
    VersionedLayer.write(
      (1 to 160).map(i => (i, s"v$i")).toDF("k", "s").repartition(16), root)
    VersionedLayer.merge(Seq((1, "u1")).toDF("k", "s"), root, Seq("k"))
    VersionedLayer.merge(Seq((200, "n200")).toDF("k", "s"), root, Seq("k"))
    VersionedLayer.merge(Seq((80, "u80")).toDF("k", "s"), root, Seq("k"))
    val pinV = VersionedLayer.latestVersion(spark, root).get // v4: mixed shared+rewritten files
    def checksum(): (Long, Long) = {
      val df = VersionedLayer.read(spark, root, Some(pinV))
      val r = df.agg(count(lit(1)),
        bit_xor(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)))).head()
      (r.getLong(0), r.getLong(1))
    }
    val expected = checksum()
    @volatile var readerFailure: Option[Throwable] = None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() =>
      try while (!stop.get()) { if (checksum() != expected) throw new AssertionError("snapshot drifted") }
      catch { case t: Throwable => readerFailure = Some(t) })
    reader.start()
    try {
      for (i <- 0 until 6) {
        // updates hit keys spread over the pinned version's files, so each
        // cycle rewrites a file the pin still references via sharing
        VersionedLayer.merge(
          Seq((i * 23 + 3, s"w$i")).toDF("k", "s"), root, Seq("k"))
        val latest = VersionedLayer.latestVersion(spark, root).get
        VersionedLayer.vacuum(spark, root, keepLast = (latest - pinV + 1).toInt)
      }
    } finally { stop.set(true); reader.join() }
    readerFailure.foreach(t => fail(s"concurrent reader broke: $t", t))
    checksum() shouldBe expected
    // everything older than the pin was genuinely collected, not retained
    VersionedLayer.committedVersions(spark, root).head shouldBe pinV
  }

  test("deleteKeys removes matched keys file-pruned, carrying untouched files") {
    val root = tmpRoot()
    keyLocalLayer(root)
    val v4 = VersionedLayer.latestVersion(spark, root).get
    val before = VersionedLayer.fileEntries(spark, root, v4)
    val hot = before.filter(_.mins("k") == "11").map(_.path)
    hot.size shouldBe 1
    val v5 = VersionedLayer.deleteKeys(Seq(12, 15, 19).toDF("k"), root, Seq("k"))
    val after = VersionedLayer.dataFiles(spark, root, v5)
    // only the [11,20] file is rewritten; the other three carry by reference
    before.map(_.path).filterNot(hot.contains).foreach(p => after should contain(p))
    after should not contain hot.head
    VersionedLayer.read(spark, root).collect().map(_.getInt(0)).sorted shouldBe
      ((1 to 40).toSet -- Set(12, 15, 19)).toArray.sorted
    // deleting keys present nowhere publishes a no-op version: same file set
    val v6 = VersionedLayer.deleteKeys(Seq(999).toDF("k"), root, Seq("k"))
    VersionedLayer.dataFiles(spark, root, v6).toSet shouldBe after.toSet
    VersionedLayer.read(spark, root).count() shouldBe 37
    // the pre-delete snapshot still time-travels in full
    VersionedLayer.read(spark, root, Some(v4)).count() shouldBe 40
  }

  test("deleting repeated keys publishes the same snapshot as the distinct keys") {
    // the delete path does not dedup its key set: the bounds agg, the
    // left-semi discovery and the left-anti rewrite are all set-semantic
    def snapshot(root: String): (Seq[(Int, String)], Int) =
      (VersionedLayer.read(spark, root).as[(Int, String)].collect().toSeq.sorted,
        VersionedLayer.dataFiles(spark, root,
          VersionedLayer.latestVersion(spark, root).get).size)
    val distinct = tmpRoot()
    keyLocalLayer(distinct)
    VersionedLayer.deleteKeys(Seq(12, 15, 19).toDF("k"), distinct, Seq("k"))
    val want = snapshot(distinct)
    want._1.map(_._1) shouldBe ((1 to 40).toSet -- Set(12, 15, 19)).toSeq.sorted
    val repeated = tmpRoot()
    keyLocalLayer(repeated)
    VersionedLayer.deleteKeys(Seq(12, 12, 15, 19, 19).toDF("k"), repeated, Seq("k"))
    snapshot(repeated) shouldBe want
  }

  test("deleteKeys with a narrower-but-coercible key type (Int keys, Long-keyed table)") {
    // round-22 ADVICE fix: the delete path's bounds agg must aggregate the
    // key CAST to the table's k0 type — an Int-keyed frame against a
    // Long-keyed layer previously fed statsOrdering(LongType) Integer boxes
    // and threw ClassCastException once the stats envelope engaged.
    val root = tmpRoot()
    VersionedLayer.write(
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "s")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("k")), root)
    val v = VersionedLayer.deleteKeys(Seq(12, 15, 999).toDF("k"), root, Seq("k"))
    v shouldBe 2L
    VersionedLayer.read(spark, root).collect().map(_.getLong(0)).sorted shouldBe
      ((1L to 40L).toSet -- Set(12L, 15L)).toArray.sorted
  }

  test("sorted compact restores key locality: the next keyed update prunes to one file") {
    val root = tmpRoot()
    // hash-spread layout: every file's key range overlaps the whole domain,
    // the worst case for stats pruning (a fingerprint-keyed index's shape)
    VersionedLayer.write((1 to 400).map(i => (i, s"v$i")).toDF("k", "s").repartition(4), root)
    val vc = VersionedLayer.compact(spark, root, targetFiles = 4, sortBy = Seq("k"))
    val entries = VersionedLayer.fileEntries(spark, root, vc)
    entries.size should be >= 2
    // range-partitioned rewrite => pairwise-DISJOINT per-file key ranges
    val ranges = entries.map(e => (e.mins("k").toInt, e.maxs("k").toInt)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => hi1 should be < lo2
      case _ => ()
    }
    // and a single-key update now touches exactly ONE file
    val vu = VersionedLayer.merge(Seq((7, "UP")).toDF("k", "s"), root, Seq("k"))
    val compactPaths = entries.map(_.path).toSet
    val carriedN = VersionedLayer.fileEntries(spark, root, vu).count(e => compactPaths(e.path))
    carriedN shouldBe entries.size - 1
    val snap = VersionedLayer.read(spark, root).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    snap.size shouldBe 400
    snap(7) shouldBe "UP"
    snap(8) shouldBe "v8"
  }

  test("vacuum keeps every data file a retained version still references") {
    val root = tmpRoot()
    keyLocalLayer(root)
    val vLast = VersionedLayer.latestVersion(spark, root).get
    val referenced = VersionedLayer.dataFiles(spark, root, vLast).toSet
    VersionedLayer.vacuum(spark, root, keepLast = 1)
    // versions 1..3 are gone, but their files SHARED into v4 must survive
    VersionedLayer.versions(spark, root) shouldBe Seq(vLast)
    VersionedLayer.read(spark, root).count() shouldBe 40
    // and the _data tree holds exactly the referenced parquet files
    import scala.jdk.CollectionConverters._
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "_data"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Paths.get(root).relativize(p).toString).toSet
    onDisk shouldBe referenced
  }

  test("merge evolves the schema additively (new delta column, null backfill)") {
    val root = tmpRoot()
    VersionedLayer.merge(Seq((1, "a"), (2, "b")).toDF("k", "s"), root, Seq("k"))
    // the delta carries a NEW column q: table widens, old rows read null
    VersionedLayer.merge(Seq((2, "B", 9L), (3, "c", 7L)).toDF("k", "s", "q"),
      root, Seq("k"))
    val rows = VersionedLayer.read(spark, root)
      .select("k", "s", "q").collect()
      .map(r => (r.getInt(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(_._1)
    rows shouldBe Array((1, "a", None), (2, "B", Some(9L)), (3, "c", Some(7L)))
    // a later delta WITHOUT q still merges; its rows arrive with q = null
    VersionedLayer.merge(Seq((4, "d")).toDF("k", "s"), root, Seq("k"))
    val r4 = VersionedLayer.read(spark, root).filter("k = 4").head()
    r4.isNullAt(r4.fieldIndex("q")) shouldBe true
    VersionedLayer.read(spark, root).count() shouldBe 4L
  }

  // ---- round-21 job-free envelope (delta bounds from staged footers) ------

  test("job-free envelope: a prunable append merge runs exactly one Spark job") {
    // The round-21 commit-path shape: the delta is staged FIRST, its
    // footers provide the stats envelope's bounds (no min/max agg job, no
    // interval-filter plan), the envelope prunes every key-local base file,
    // and discovery is skipped — so the whole commit's Spark-side work is
    // the one staging write. A regression that reintroduces a per-commit
    // fixed job (the round-20 CommitProfile finding: ~1.4 s of driver/plan
    // overhead per commit at fixture scale) fails this count.
    val root = tmpRoot()
    keyLocalLayer(root)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val v = VersionedLayer.merge(
        (41 to 50).map(i => (i, s"v$i")).toDF("k", "s").coalesce(1), root, Seq("k"))
      // listener events post asynchronously: wait until the count is stable
      // for 500 ms (bounded at 5 s) before asserting
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var last = -1
      var stableSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
             (jobs.get() != last || System.nanoTime() - stableSince < 500L * 1000 * 1000)) {
        if (jobs.get() != last) { last = jobs.get(); stableSince = System.nanoTime() }
        Thread.sleep(20)
      }
      jobs.get() shouldBe 1 // the delta staging write — nothing else
      // and the commit is still the correct file-pruned append
      VersionedLayer.dataFiles(spark, root, v).size shouldBe 5
      VersionedLayer.read(spark, root).count() shouldBe 50
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("footer-derived bounds prune identically on double and unicode string keys") {
    // The driver-side interval check replays the engine's own cast +
    // interpreted ordering; this pins the two orderings most likely to
    // drift in a hand-rolled comparison — doubles rendered with exponents /
    // negatives, and non-ASCII strings (UTF8 binary order) — by asserting
    // the same file-level outcomes the in-plan filter produced.
    val droot = tmpRoot()
    for (lo <- Seq(-1.0e6, -0.5, 1.0e6)) {
      val batch = (0 until 10).map(i => (lo + i * 0.25, s"d$lo:$i")).toDF("k", "s").coalesce(1)
      if (lo == -1.0e6) VersionedLayer.write(batch, droot)
      else VersionedLayer.merge(batch, droot, Seq("k"))
    }
    val before = VersionedLayer.fileEntries(spark, droot,
      VersionedLayer.latestVersion(spark, droot).get)
    before.size shouldBe 3
    val hot = before.filter(_.mins("k") == "-0.5").map(_.path)
    hot.size shouldBe 1
    val v = VersionedLayer.merge(Seq((-0.25, "UP")).toDF("k", "s"), droot, Seq("k"))
    val after = VersionedLayer.dataFiles(spark, droot, v).toSet
    after should not contain hot.head
    (before.map(_.path).toSet - hot.head).foreach(p => after should contain(p))
    VersionedLayer.read(spark, droot).filter("k = -0.25").head().getString(1) shouldBe "UP"

    val sroot = tmpRoot()
    for ((pfx, i) <- Seq("alpha", "sé☃", "zulu").zipWithIndex) {
      val batch = (0 until 10).map(j => (s"$pfx-$j", s"s$i:$j")).toDF("k", "s").coalesce(1)
      if (i == 0) VersionedLayer.write(batch, sroot)
      else VersionedLayer.merge(batch, sroot, Seq("k"))
    }
    val sBefore = VersionedLayer.fileEntries(spark, sroot,
      VersionedLayer.latestVersion(spark, sroot).get)
    sBefore.size shouldBe 3
    val sHot = sBefore.filter(_.mins("k") == "sé☃-0").map(_.path)
    sHot.size shouldBe 1
    val sv = VersionedLayer.merge(Seq(("sé☃-5", "UP")).toDF("k", "s"), sroot, Seq("k"))
    val sAfter = VersionedLayer.dataFiles(spark, sroot, sv).toSet
    sAfter should not contain sHot.head
    (sBefore.map(_.path).toSet - sHot.head).foreach(p => sAfter should contain(p))
    VersionedLayer.read(spark, sroot).filter("s = 'UP'").head().getString(0) shouldBe "sé☃-5"
  }

  test("un-collectible delta stats fall back to the agg envelope and still prune") {
    // A delta whose key bound exceeds the manifest stats length cap stages
    // with NO k0 stats (footerStats drops >256-char bounds), so the
    // job-free path reports BoundsUnknown and the commit falls back to the
    // one-agg envelope — which must still prune to the one intersecting
    // file, and the merged content must be exact.
    val root = tmpRoot()
    for ((pfx, i) <- Seq("a", "b", "c").zipWithIndex) {
      val batch = (1 to 9).map(j => (s"$pfx$j", s"v$pfx$j")).toDF("k", "s").coalesce(1)
      if (i == 0) VersionedLayer.write(batch, root)
      else VersionedLayer.merge(batch, root, Seq("k"))
    }
    val before = VersionedLayer.fileEntries(spark, root,
      VersionedLayer.latestVersion(spark, root).get)
    before.size shouldBe 3
    val hot = before.filter(_.mins("k") == "b1").map(_.path)
    hot.size shouldBe 1
    val longKey = "b5" + ("x" * 300) // sorts inside [b1, b9]; stats dropped
    // delta = one matched key (b3 — forces a b-file rewrite) + the long
    // insert whose bound exceeds the stats cap (forces BoundsUnknown)
    val v = VersionedLayer.merge(
      Seq((longKey, "LONG"), ("b3", "UP")).toDF("k", "s").coalesce(1), root, Seq("k"))
    // the staged delta file carries no k stats (bound over the length cap)
    val deltaEntries = VersionedLayer.fileEntries(spark, root, v)
      .filterNot(e => before.map(_.path).contains(e.path))
      .filter(_.rows == 2)
    deltaEntries.exists(e => !e.statsCols.contains("k")) shouldBe true
    val after = VersionedLayer.dataFiles(spark, root, v).toSet
    after should not contain hot.head // agg fallback pruned to the b-file
    (before.map(_.path).toSet - hot.head).foreach(p => after should contain(p))
    VersionedLayer.read(spark, root).count() shouldBe 28
    VersionedLayer.read(spark, root).filter("s = 'LONG'").head().getString(0) shouldBe longKey
    VersionedLayer.read(spark, root).filter("k = 'b3'").head().getString(1) shouldBe "UP"
  }

  test("a manifest entry without a file length is refused, naming the file") {
    // a zero or missing length would make split planning drop the file and
    // the read return too few rows; the reader fails loudly instead
    val root = tmpRoot()
    VersionedLayer.write(Seq((1, "a"), (2, "b")).toDF("k", "s"), root)
    val path = VersionedLayer.dataFiles(spark, root, 1L).head
    val manifest = java.nio.file.Paths.get(root, "_manifests", "1")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(Files.readAllBytes(manifest))
    node.get("files").elements().forEachRemaining(e =>
      e.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("bytes"))
    Files.write(manifest, om.writeValueAsBytes(node))
    Files.delete(manifest.resolveSibling(".1.crc")) // stale after the rewrite
    val e = intercept[IllegalStateException](VersionedLayer.read(spark, root).collect())
    e.getMessage should include(path)
  }

  test("manifest-served scan: identical rows to the listing route, no listing job") {
    // readFiles plans the snapshot scan from the manifest's recorded file
    // lengths (ManifestScan) instead of re-listing every path through
    // spark.read — the table-format argument (guide §6). Two pins:
    // (a) EQUIVALENCE — the manifest-served read returns exactly the rows a
    // listing read of the same files returns, over a version whose file
    // count (>32) crosses spark.sql.sources.parallelPartitionDiscovery.threshold;
    // (b) NO LISTING JOB — collecting the manifest-served snapshot fires
    // exactly one Spark job (the collect itself), where the listing route
    // fires a "listing leaf files" job first at this file count.
    val root = tmpRoot()
    val df = (1 to 4000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    VersionedLayer.write(df.repartition(40), root)
    val entries = VersionedLayer.fileEntries(spark, root, 1L)
    entries.size should be > 32
    // every staged entry carries its on-disk length
    entries.foreach(_.bytes should be > 0L)
    def sorted(d: org.apache.spark.sql.DataFrame): Array[(Long, String)] =
      d.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val served = sorted(VersionedLayer.read(spark, root))
    val listed = sorted(spark.read.schema(df.schema).parquet(entries.map(e => s"$root/${e.path}"): _*))
    served shouldBe listed
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      VersionedLayer.read(spark, root).collect().length shouldBe 4000
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var last = -1
      var stableSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
             (jobs.get() != last || System.nanoTime() - stableSince < 500L * 1000 * 1000)) {
        if (jobs.get() != last) { last = jobs.get(); stableSince = System.nanoTime() }
        Thread.sleep(20)
      }
      jobs.get() shouldBe 1 // the collect — no listing job at 40 files
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
