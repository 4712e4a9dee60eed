package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration the mains and the test suite
  * share: `local[cpus]` with as many shuffle partitions, UTC session time,
  * the engine's extensions, the fixtures' nanosecond-timestamp parquet conf,
  * no UI, WARN logging. */
object GraftSession {
  def local(cpus: String, appName: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config(graft.sources.Tables.nanosConf._1, graft.sources.Tables.nanosConf._2)
      .config("spark.ui.enabled", "false")
    val spark = appName.fold(builder)(builder.appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
