package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result, computed in Spark.
  *
  * Every output column feeds a per-row hash, so the action materialises
  * every column (a timed `count()` would let Catalyst prune projected
  * expressions). The per-row hashes are summed in DECIMAL space, so row
  * order and partitioning cannot change the sum and ANSI mode cannot
  * overflow it. Doubles are rendered with ten significant digits and floats
  * with six before hashing, so a last-ulp difference from another summation
  * order does not change the fingerprint. Integral columns are widened to
  * long and timestamps to epoch micros, so an int/long or a timestamp
  * with/without time zone storage difference does not either. Columns are
  * hashed in name order with the name as a salt: renaming or changing one
  * column changes the fingerprint, reordering columns does not.
  */
object Fingerprint {

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType => format_string("%.9e", c)
    case FloatType => format_string("%.5e", c.cast(DoubleType))
    case ByteType | ShortType | IntegerType => c.cast(LongType)
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType))
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canonical(x, et))
    case MapType(kt, vt, _) if needsCanon(kt) || needsCanon(vt) =>
      map_from_entries(transform(map_entries(c), e =>
        struct(canonical(e.getField("key"), kt).as("key"),
          canonical(e.getField("value"), vt).as("value"))))
    case StructType(fs) if fs.exists(f => needsCanon(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType | ByteType | ShortType | IntegerType => true
    case TimestampType | TimestampNTZType => true
    case ArrayType(et, _) => needsCanon(et)
    case MapType(kt, vt, _) => needsCanon(kt) || needsCanon(vt)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** The per-row hash column: each column is preceded by its name, and a
    * null cell by a marker, because the hash function skips nulls. */
  def rowHash(df: DataFrame): Column = {
    val fields = df.schema.fields.sortBy(_.name)
    val parts = fields.toSeq.flatMap { f =>
      val c = df.col(s"`${f.name}`")
      Seq(lit(f.name), c.isNull, canonical(c, f.dataType))
    }
    if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
  }

  private val totals = Seq(count(lit(1)),
    coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(BigDecimal(0))))

  private def render(rows: Long, sum: java.math.BigDecimal) = s"$rows:${sum.toBigInteger}"

  /** "rows:hashsum", e.g. "1500:-123456789012". */
  def of(df: DataFrame): String = {
    val r = df.select(rowHash(df).as("h")).agg(totals.head, totals.tail: _*).head()
    render(r.getLong(0), r.getDecimal(1))
  }

  /** `of` of each named file of a file-source DataFrame, in one job, keyed
    * by file name. A file without rows gets the empty result's "0:0". */
  def byFile(df: DataFrame, names: Seq[String]): Map[String, String] = {
    val found = df.select(rowHash(df).as("h"), col("_metadata.file_name").as("f"))
      .groupBy("f").agg(totals.head, totals.tail: _*).collect()
      .map(r => r.getString(0) -> render(r.getLong(1), r.getDecimal(2))).toMap
    names.map(n => n -> found.getOrElse(n, render(0, java.math.BigDecimal.ZERO))).toMap
  }
}
