package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import graft.sources.{ForkFreeLocalFs, ForkFreeRawLocalFileSystem, ForkFreeRawLocalFs, TempRoots, VersionedLayer}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileContext, FileStatus, FileSystem, FilterFs, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session's `file://` filesystem behaves like Hadoop's raw local one
  * but creates files, makes directories and checks links without starting
  * a `chmod`/`readlink`/`ls` subprocess. */
class LocalFilesystemSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private def hadoopConf = spark.sparkContext.hadoopConfiguration
  private def sessionFs: FileSystem = FileSystem.get(new URI("file:///"), hadoopConf)

  private def stockRaw(): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(new URI("file:///"), new Configuration())
    fs
  }

  private def withDir[T](body: NioPath => T): T = {
    val dir = Files.createTempDirectory("graft-localfs")
    try body(dir) finally TempRoots.deleteRecursively(dir, swallow = true)
  }

  private def perms(p: NioPath) = Files.getPosixFilePermissions(p)

  test("created files and made directories get the stock permissions") {
    withDir { dir =>
      val (fs, stock) = (sessionFs, stockRaw())
      for ((name, f) <- Seq("graft" -> (fs: FileSystem), "stock" -> (stock: FileSystem))) {
        f.create(new Path(dir.resolve(s"$name.bin").toString)).close()
        f.mkdirs(new Path(dir.resolve(s"$name-dir/a/b").toString)) shouldBe true
      }
      perms(dir.resolve("graft.bin")) shouldBe perms(dir.resolve("stock.bin"))
      for (sub <- Seq("", "/a", "/a/b"))
        perms(dir.resolve(s"graft-dir$sub")) shouldBe perms(dir.resolve(s"stock-dir$sub"))
      val explicit = new FsPermission("710")
      fs.setPermission(new Path(dir.resolve("graft.bin").toString), explicit)
      stock.setPermission(new Path(dir.resolve("stock.bin").toString), explicit)
      perms(dir.resolve("graft.bin")) shouldBe perms(dir.resolve("stock.bin"))
    }
  }

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a missing path") {
    withDir { dir =>
      val file = Files.write(dir.resolve("f.txt"), "abc".getBytes("UTF-8"))
      val sub = Files.createDirectory(dir.resolve("d"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val graft = new ForkFreeRawLocalFileSystem()
      graft.initialize(new URI("file:///"), new Configuration())
      val stock = stockRaw()
      def view(st: FileStatus) =
        (st.getPath, st.isDirectory, st.isSymlink, st.getLen,
          if (st.isSymlink) Some(st.getSymlink) else None)
      for (p <- Seq(file, sub, link).map(p => new Path(p.toString)))
        view(graft.getFileLinkStatus(p)) shouldBe view(stock.getFileLinkStatus(p))
      val linked = graft.getFileLinkStatus(new Path(link.toString))
      linked.isSymlink shouldBe true
      linked.getSymlink shouldBe new Path("file:" + file.toString)
      val missing = new Path(dir.resolve("missing").toString)
      a[FileNotFoundException] should be thrownBy stock.getFileLinkStatus(missing)
      a[FileNotFoundException] should be thrownBy graft.getFileLinkStatus(missing)
    }
  }

  test("the session's FileSystem and FileContext use the fork-free raw filesystem") {
    sessionFs.asInstanceOf[LocalFileSystem].getRaw.getClass shouldBe classOf[ForkFreeRawLocalFileSystem]
    for (conf <- Seq(hadoopConf, spark.sessionState.newHadoopConf())) {
      val checksummed = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      checksummed.getClass shouldBe classOf[ForkFreeLocalFs]
      val getMyFs = classOf[FilterFs].getDeclaredMethod("getMyFs")
      getMyFs.setAccessible(true)
      val delegate = getMyFs.invoke(checksummed)
      delegate.getClass shouldBe classOf[ForkFreeRawLocalFs]
      val fsImpl = classOf[DelegateToFileSystem].getDeclaredField("fsImpl")
      fsImpl.setAccessible(true)
      fsImpl.get(delegate).getClass shouldBe classOf[ForkFreeRawLocalFileSystem]
    }
  }

  test("commits, vacuum and a checkpointed micro-batch start no Hadoop shell subprocess") {
    withDir { dir =>
      val root = dir.resolve("layer").toString
      val in = dir.resolve("in").toString
      Seq((10L, "j"), (11L, "k")).toDF("k", "s").write.json(in)
      // Shell's class initialiser probes `setsid` once per JVM; that is a
      // start-up cost, not a per-call one, so it stays out of the recording
      org.apache.hadoop.util.Shell.isSetsidAvailable
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try {
        VersionedLayer.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), root)
        VersionedLayer.merge(Seq((2L, "B"), (4L, "d")).toDF("k", "s"), root, Seq("k"))
        VersionedLayer.deleteKeys(Seq(1L).toDF("k"), root, Seq("k"))
        VersionedLayer.compact(spark, root)
        VersionedLayer.vacuum(spark, root)
        val arrivals = spark.readStream.schema("k BIGINT, s STRING").json(in)
        streaming.EventStream.runOnceForeachBatch(arrivals, "localfs_spec",
          (b: DataFrame, id: Long) =>
            VersionedLayer.idempotentMergeBatch(root, Seq("k"), "localfs_spec")(b, id))
      } finally rec.stop()
      val jfr = dir.resolve("process.jfr")
      rec.dump(jfr)
      rec.close()
      VersionedLayer.read(spark, root).as[(Long, String)].collect().sorted shouldBe
        Array((2L, "B"), (3L, "c"), (4L, "d"), (10L, "j"), (11L, "k"))
      val events = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      val shell = events.filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
      shell.map(_.getString("command")) shouldBe empty
    }
  }
}
