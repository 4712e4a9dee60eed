package graft.functions

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkConf
import org.apache.spark.graft.ActiveConf
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension carrying the engine's session defaults (the codegen
  * cache size, id-free generated class names and the fork-free local
  * filesystem, see [[GraftExtensions.applyDefaults]]) and registering the
  * engine's four native functions (`graft_cosine`, `graft_l2sq`,
  * `graft_lsh_bands`, `graft_simhash64`); activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (done by graft.Verify / graft.Bench). Query code falls back to the
  * interpreted HOF form when the extension is absent, so plain sessions
  * still work. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ActiveConf.get.foreach(GraftExtensions.applyDefaults)
    ActiveConf.hadoop.foreach(GraftExtensions.applyDefaults)
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_cosine requires exactly 2 arguments, got ${children.length}")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2Squared].getName, "graft_l2sq"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_l2sq requires exactly 2 arguments, got ${children.length}")
        L2Squared(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_bands"),
      new ExpressionInfo(classOf[LshBands].getName, "graft_lsh_bands"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_lsh_bands requires exactly 3 arguments, got ${children.length}")
        LshBands(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[Simhash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_simhash64 requires exactly 1 argument, got ${children.length}")
        Simhash64(children.head)
      }))
  }
}

object GraftExtensions {
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (Spark's default is 100). A stream whose classes come back within 400
    * entries compiles each of them once: one pass of the benchmark's
    * 9-query `llm_curation` mix fills about 375 (about 225 distinct
    * classes; whole-stage classes are cached once per classloader, driver
    * and executor session), and at 100 it recompiles every class on every
    * pass. Larger streams still miss: one pass over the 157 LLM-curation
    * queries fills about 3,000 entries and one over all 396 about 4,500,
    * and 400 removes about a fifth of a repeated pass's compiles there. An
    * entry holds about 28 KB of heap, so the cap bounds the cost at about
    * 11 MB per JVM. */
  val CodegenCacheEntries = 400

  /** Spark names whole-stage classes after their codegen stage id by
    * default. AQE numbers stages anew on every run, so a re-run of one plan
    * generated differently named classes, missed the cache and compiled
    * them again; the engine leaves the id out of the name. */
  val CodegenIdInClassNameKey = "spark.sql.codegen.useIdInClassName"

  /** Sets the engine's defaults on `conf` where the user has not set them:
    * the codegen cache size and id-free class names.
    *
    * The extension applies them to the active SparkContext's conf inside
    * `getOrCreate`, before the new session's SharedState copies that conf
    * into its SQL conf. The codegen cache is sized once per JVM, from
    * `SQLConf.get` when `CodeGenerator` first initialises, so this has no
    * effect if `CodeGenerator` already compiled something in this JVM, or
    * if the SparkContext already has a SharedState. */
  def applyDefaults(conf: SparkConf): Unit = {
    conf.setIfMissing(CodegenCacheKey, CodegenCacheEntries.toString)
    conf.setIfMissing(CodegenIdInClassNameKey, "false")
  }

  val LocalFsKey = "fs.file.impl"
  val LocalFcKey = "fs.AbstractFileSystem.file.impl"
  /** `core-default.xml`'s value of [[LocalFcKey]]: treated as unset. */
  val StockLocalFc = "org.apache.hadoop.fs.local.LocalFs"

  /** Registers [[graft.sources.ForkFreeLocalFileSystem]] for `FileSystem`
    * callers and [[graft.sources.ForkFreeLocalFs]] for `FileContext` ones
    * (stream checkpoints) as the `file://` implementation, where the user
    * has not set one. Only `file://` changes; other schemes are untouched.
    *
    * The extension applies them to the active SparkContext's
    * `hadoopConfiguration`, which every session's Hadoop conf copies.
    * `FileSystem.get` caches one `file://` instance per JVM, so this has no
    * effect on `FileSystem` callers if a local FileSystem was created in
    * this JVM before the session (a `FileContext` builds a new one each
    * time and is not affected). */
  def applyDefaults(conf: Configuration): Unit = {
    if (conf.get(LocalFsKey, "").isEmpty)
      conf.set(LocalFsKey, classOf[ForkFreeLocalFileSystem].getName)
    if (Option(conf.get(LocalFcKey)).forall(_ == StockLocalFc))
      conf.set(LocalFcKey, classOf[ForkFreeLocalFs].getName)
  }
}
