package graft

import graft.sources.Tables
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The events-reader physical-unit probe, pinned on BOTH parquet shapes the
  * fixtures have shipped (the round-11 failure class): a plain
  * `timestamp[us]` file must take the direct branch, a raw INT64
  * TIMESTAMP(NANOS) file (written here with parquet-mr, the same physical
  * layout the round-11 fixtures carried) must take the legacy ns→µs
  * conversion branch — with value-identical results. Plus the probe's own
  * failure modes: a leading null timestamp must not NPE the sanity sample,
  * an era-insane file must fail with the NAMED drift error, and probing an
  * ns file in a session missing the legacy conf must surface the conf hint,
  * not Spark's raw "Illegal Parquet type". */
class TablesProbeSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  private val usEpoch = 1704067200L // 2024-01-01T00:00:00Z, seconds

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_probe").toString

  /** Write an events.parquet DIRECTORY via Spark (µs physical). */
  private def writeUsFixture(dir: String, tsSecs: Seq[java.lang.Long]): Unit = {
    val rows = tsSecs.zipWithIndex.map { case (s, i) =>
      Row(i.toLong, Option(s).map(v => java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(v.longValue()))).orNull,
        i.toLong, "view", 1.0, "{}")
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), Tables.events)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Write an events.parquet FILE via parquet-mr with ts = INT64
    * TIMESTAMP(NANOS) — the exact physical shape Spark's default reader
    * rejects and the legacy nanosAsLong conf maps to LongType. */
  private def writeNsFixture(dir: String, tsNanos: Seq[Long]): Unit = {
    val schema: MessageType = Types.buildMessage()
      .addField(Types.optional(PrimitiveTypeName.INT64).named("event_id"))
      .addField(Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts"))
      .addField(Types.optional(PrimitiveTypeName.INT64).named("user_id"))
      .addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type"))
      .addField(Types.optional(PrimitiveTypeName.DOUBLE).named("value"))
      .addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("props"))
      .named("spark_schema")
    // a copy of the session's conf: `FileSystem.get` caches one file://
    // instance per JVM, and one built from a plain Configuration before the
    // session would be Hadoop's class rather than the session's
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val gf = new SimpleGroupFactory(schema)
    tsNanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(gf.newGroup()
        .append("event_id", i.toLong).append("ts", ns)
        .append("user_id", i.toLong).append("event_type", "view")
        .append("value", 1.0).append("props", "{}"))
    }
    writer.close()
  }

  test("µs-physical events take the direct branch with exact values") {
    val dir = tmpDir()
    writeUsFixture(dir, Seq[java.lang.Long](usEpoch, usEpoch + 3600))
    val got = Tables.read(spark, dir, "events")
      .select(unix_timestamp(col("ts")).as("s")).orderBy(col("s"))
      .collect().map(_.getLong(0)).toSeq
    got shouldBe Seq(usEpoch, usEpoch + 3600)
  }

  test("ns-physical (TIMESTAMP(NANOS) as INT64) events take the legacy branch, floored to µs") {
    val dir = tmpDir()
    // one sub-µs offset proves the ns→µs floor (123 ns truncates away)
    writeNsFixture(dir, Seq(usEpoch * 1000000000L + 123L, (usEpoch + 7200) * 1000000000L))
    val df = Tables.read(spark, dir, "events")
    df.schema("ts").dataType shouldBe org.apache.spark.sql.types.TimestampType
    val got = df.select(unix_timestamp(col("ts")).as("s")).orderBy(col("s"))
      .collect().map(_.getLong(0)).toSeq
    got shouldBe Seq(usEpoch, usEpoch + 7200)
  }

  test("a leading null timestamp does not NPE the sanity probe") {
    val dir = tmpDir()
    writeUsFixture(dir, Seq[java.lang.Long](null, null, usEpoch))
    noException should be thrownBy Tables.read(spark, dir, "events").collect()
  }

  test("an era-insane fixture fails the probe with the drift named") {
    val dir = tmpDir()
    writeUsFixture(dir, Seq[java.lang.Long](12L)) // 1970 — the misread era
    val e = intercept[IllegalArgumentException] {
      Tables.read(spark, dir, "events").collect()
    }
    e.getMessage should include("sanity probe failed")
  }

  test("probing an ns fixture without the legacy conf names the conf, not a raw reader error") {
    val dir = tmpDir()
    writeNsFixture(dir, Seq(usEpoch * 1000000000L))
    val prev = spark.conf.getOption(Tables.nanosConf._1)
    spark.conf.unset(Tables.nanosConf._1)
    try {
      val e = intercept[IllegalStateException] {
        Tables.read(spark, dir, "events")
      }
      e.getMessage should include(Tables.nanosConf._1)
    } finally prev.foreach(spark.conf.set(Tables.nanosConf._1, _))
  }
}
