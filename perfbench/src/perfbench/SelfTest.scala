package perfbench

import org.apache.spark.sql.functions._

/** Checks of the fingerprint, run by test_bench.py: `SelfTest <data dir>`.
  * Prints one line per check and exits non-zero if any fails. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = Runner.session(2)
    val orders = graft.sources.Tables.read(spark, args(0), "orders")
    val docs = graft.sources.Tables.read(spark, args(0), "documents")
    val embs = graft.sources.Tables.read(spark, args(0), "embeddings")
    def fp(df: org.apache.spark.sql.DataFrame) = Fingerprint.of(df)
    val base = fp(orders)
    val checks = Seq(
      "reordered rows" -> (fp(orders.orderBy(col("o_totalprice").desc)) == base),
      "more partitions" -> (fp(orders.repartition(7)) == base),
      "one partition" -> (fp(orders.coalesce(1)) == base),
      "reordered columns" -> (fp(orders.select(orders.columns.reverse.map(col).toIndexedSeq: _*)) == base),
      "nested floats stable" -> (fp(embs.repartition(3)) == fp(embs)),
      "one cell changed" -> (fp(orders.withColumn("o_totalprice",
        when(col("o_orderkey") === 7, col("o_totalprice") + 0.01).otherwise(col("o_totalprice")))) != base),
      "one string cell changed" -> (fp(docs.withColumn("text",
        when(col("doc_id") === 3, concat(col("text"), lit("x"))).otherwise(col("text")))) != fp(docs)),
      "one column changed" -> (fp(orders.withColumn("o_custkey", col("o_custkey") + 1)) != base),
      "one column renamed" -> (fp(orders.withColumnRenamed("o_custkey", "o_cust")) != base),
      "one column dropped" -> (fp(orders.drop("o_orderpriority")) != base),
      "null swapped between columns" -> (
        fp(spark.sql("select 1 as a, cast(null as int) as b")) !=
          fp(spark.sql("select cast(null as int) as a, 1 as b"))),
      "one row dropped" -> (fp(orders.filter(col("o_orderkey") =!= 5)) != base),
      "per file in one job" -> {
        val dir = java.nio.file.Files.createTempDirectory("perfbench-selftest")
        val parts = Seq("a" -> orders.filter(col("o_orderkey") % 2 === 0), "b" -> orders,
          "c" -> orders.limit(0))
        val paths = parts.map { case (n, df) =>
          val p = dir.resolve(n).toString
          df.coalesce(1).write.parquet(p)
          p
        }
        val files = paths.map(p => new java.io.File(p).listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).head)
        val got = Fingerprint.byFile(spark.read.parquet(paths: _*), files)
        graft.sources.TempRoots.deleteRecursively(dir, swallow = true)
        parts.zip(files).forall { case ((_, df), f) => got(f) == fp(df) }
      })
    checks.foreach { case (name, ok) => println(s"${if (ok) "ok" else "FAIL"} fingerprint: $name") }
    spark.stop()
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
