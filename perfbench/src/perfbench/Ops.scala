package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.QueryModule
import graft.sources.{Tables, VersionedLayer}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's operations, decoded from the plan that run.py writes.
  *
  * An op is either one registered query (`QueryModule.queries`) or one
  * `VersionedLayer` call. Each op has a construct step (build the DataFrame,
  * including any eager work the engine does there) and an action step (the
  * fingerprint, or nothing for a commit). Deltas and key sets are defined by
  * a predicate over the base table, so run.py can replay the same sequence
  * in DuckDB without sharing code with the engine.
  */
sealed trait Op {
  def id: Int
  def label: String
  /** Builds the op's result; None when the op has no result to check. */
  def construct(ctx: Ctx): Option[DataFrame]
}

/** Per-pass state: the data dir and the versions each write published. */
final class Ctx(val spark: SparkSession, val dataDir: String) {
  val versions = scala.collection.mutable.Map.empty[Int, Long]
}

object Op {
  val modules: Map[String, QueryModule] = {
    import graft.operators._
    Map("Medallion" -> Medallion, "Relational" -> Relational,
      "EventAnalytics" -> EventAnalytics, "Expectations" -> Expectations,
      "Sampling" -> Sampling, "AsOf" -> AsOf, "RangeJoin" -> RangeJoin, "Skew" -> Skew,
      "Multimodal" -> Multimodal, "TextAnalytics" -> TextAnalytics, "Dedup" -> Dedup,
      "Similarity" -> Similarity, "Scrub" -> Scrub, "Curation" -> Curation,
      "Cluster" -> Cluster, "Retrieval" -> Retrieval, "Tokenizer" -> Tokenizer,
      "StreamParity" -> graft.streaming.StreamParity)
  }

  def parse(n: JsonNode): Op = {
    val id = n.get("id").asInt()
    def s(k: String) = n.get(k).asText()
    n.get("kind").asText() match {
      case "query" => Query(id, s("module"), s("name"))
      case "vw_write" => VwWrite(id, s("table"), s("root"), n.get("files").asInt())
      case "vw_merge" => VwMerge(id, s("table"), s("root"), Pred.parse(n.get("pred")),
        n.get("shift").asLong(), n.get("tag").asDouble())
      case "vw_delete" => VwDelete(id, s("table"), s("root"), Pred.parse(n.get("pred")))
      case "vw_read" => VwRead(id, s("table"), s("root"),
        Option(n.get("version_of")).filterNot(_.isNull).map(_.asInt()))
      case "vw_compact" => VwCompact(id, s("table"), s("root"), n.get("files").asInt())
      case "vw_vacuum" => VwVacuum(id, s("table"), s("root"))
      case k => throw new IllegalArgumentException(s"unknown op kind $k")
    }
  }
}

final case class Query(id: Int, module: String, name: String) extends Op {
  def label: String = name
  def construct(ctx: Ctx): Option[DataFrame] = {
    val fn = Op.modules.get(module).flatMap(_.queries.get(name)).getOrElse(
      throw new NoSuchElementException(s"$module has no query $name"))
    Some(fn(ctx.spark, ctx.dataDir))
  }
}

/** Key predicate on a table's first key column: a contiguous range
  * (key-local: the manifest stats envelope can prune) or one residue class
  * (interleaved: every file's key range overlaps it). */
final case class Pred(lo: Long, hi: Long, mod: Long, rem: Long) {
  def on(key: String): Column =
    if (mod > 0) pmod(col(key), lit(mod)) === rem
    else col(key).between(lo, hi)
}

object Pred {
  def parse(n: JsonNode): Pred =
    Pred(n.path("lo").asLong(0), n.path("hi").asLong(-1),
      n.path("mod").asLong(0), n.path("rem").asLong(0))
}

/** The two layered tables: their key columns and how a delta modifies a
  * row. run.py's replay applies the same column expressions in DuckDB. */
object VwTable {
  val keys: Map[String, Seq[String]] =
    Map("orders" -> Seq("o_orderkey"), "lineitem" -> Seq("l_orderkey", "l_linenumber"))

  def base(ctx: Ctx, table: String): DataFrame = Tables.read(ctx.spark, ctx.dataDir, table)

  /** The column a delta bumps by its tag. */
  val bumped: Map[String, String] = Map("orders" -> "o_totalprice", "lineitem" -> "l_quantity")

  /** Base rows matching `pred`, keys shifted by `shift`, one value bumped by
    * `tag`. The schema, nullability included, stays the table's, as in a
    * steady-state CDC batch. */
  def delta(ctx: Ctx, table: String, pred: Pred, shift: Long, tag: Double): DataFrame = {
    val k0 = keys(table).head
    base(ctx, table).filter(pred.on(k0))
      .withColumn(k0, col(k0) + lit(shift))
      .withColumn(bumped(table), col(bumped(table)) + lit(tag))
  }

  def deleteKeys(ctx: Ctx, table: String, pred: Pred): DataFrame = {
    val k0 = keys(table).head
    base(ctx, table).filter(pred.on(k0)).select(k0).distinct()
  }
}

final case class VwWrite(id: Int, table: String, root: String, files: Int) extends Op {
  def label: String = s"vw_write:$table"
  def construct(ctx: Ctx): Option[DataFrame] = {
    val k0 = VwTable.keys(table).head
    val shaped = VwTable.base(ctx, table).repartitionByRange(files, col(k0))
      .sortWithinPartitions(VwTable.keys(table).map(col): _*)
    ctx.versions(id) = VersionedLayer.write(shaped, root)
    None
  }
}

final case class VwMerge(id: Int, table: String, root: String, pred: Pred, shift: Long,
                         tag: Double) extends Op {
  def label: String = s"vw_merge:$table"
  def delta(ctx: Ctx): DataFrame = VwTable.delta(ctx, table, pred, shift, tag)
  def construct(ctx: Ctx): Option[DataFrame] = {
    VersionedLayer.merge(delta(ctx), root, VwTable.keys(table))
    None
  }
}

final case class VwDelete(id: Int, table: String, root: String, pred: Pred) extends Op {
  def label: String = s"vw_delete:$table"
  def construct(ctx: Ctx): Option[DataFrame] = {
    VersionedLayer.deleteKeys(VwTable.deleteKeys(ctx, table, pred), root,
      VwTable.keys(table).take(1))
    None
  }
}

/** Snapshot read, or time travel to the version an earlier write published. */
final case class VwRead(id: Int, table: String, root: String, versionOf: Option[Int]) extends Op {
  def label: String = if (versionOf.isEmpty) s"vw_read:$table" else s"vw_travel:$table"
  def construct(ctx: Ctx): Option[DataFrame] =
    Some(VersionedLayer.read(ctx.spark, root, versionOf.map(ctx.versions)))
}

final case class VwCompact(id: Int, table: String, root: String, files: Int) extends Op {
  def label: String = s"vw_compact:$table"
  def construct(ctx: Ctx): Option[DataFrame] = {
    VersionedLayer.compact(ctx.spark, root, files)
    None
  }
}

final case class VwVacuum(id: Int, table: String, root: String) extends Op {
  def label: String = s"vw_vacuum:$table"
  def construct(ctx: Ctx): Option[DataFrame] = {
    VersionedLayer.vacuum(ctx.spark, root)
    None
  }
}
