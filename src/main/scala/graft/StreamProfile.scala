package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Dev-only stage profiler for the streaming-sketch hot paths (q379/q384):
  * separates stream-bootstrap cost (source listing, offset/commit log,
  * state-store init), micro-batch execution (with Spark's own durationMs
  * breakdown per progress event), and the batch-side finalization probes —
  * the bench only reports whole-query wall time. Not part of the driver
  * contract. */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config(graft.sources.Tables.nanosConf._1, graft.sources.Tables.nanosConf._2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    def profileStream(name: String, agg: org.apache.spark.sql.DataFrame,
                      stateParts: Int): Unit = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      val t0 = System.nanoTime()
      val w = agg.writeStream.format("memory").queryName(s"prof_$name")
        .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow())
      // cleanup runs even when the profiled stream fails or is interrupted:
      // a leaked shuffle-partition override would skew every later profile leg
      try {
        val q = w.start()
        val tStart = (System.nanoTime() - t0) / 1e9
        q.awaitTermination()
        val tTotal = (System.nanoTime() - t0) / 1e9
        println(f"[sprof] $name%-22s start()=$tStart%6.2f s  total=$tTotal%6.2f s  stateParts=$stateParts")
        q.recentProgress.foreach { p =>
          val st = p.stateOperators.headOption
          println(s"[sprof]   batch=${p.batchId} rows=${p.numInputRows} " +
            s"durationMs=${p.durationMs} " +
            st.fold("")(s => s"stateRows=${s.numRowsTotal} updMs=${s.allUpdatesTimeMs} " +
              s"commitMs=${s.commitTimeMs} rmMs=${s.allRemovalsTimeMs}"))
        }
      } finally {
        spark.streams.resetTerminated()
        try spark.catalog.dropTempView(s"prof_$name") catch { case _: Exception => () }
        spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
    }

    // finer q384 BATCH-leg breakdown: one stream run feeds a sink, then each
    // probe stage is timed separately against it
    def q384BatchBreakdown(): Unit = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.LongType
      val sfd = sfDir
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val q = graft.streaming.StreamParity.cmsHourlyCells(spark, sfd)
        .writeStream.format("memory").queryName("prof_cells2")
        .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); spark.streams.resetTerminated()
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      def time(name: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        println(f"[sprof]   $name%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s  ($n rows)")
      }
      val cells = spark.table("prof_cells2")
      time("cells scan")(cells.count())
      def h(i: Int) =
        s"cast(conv(substring(md5(concat('scms$i:', cast(user_id as string))), 1, 8), 16, 10) as bigint) % 256"
      val li = graft.sources.Tables.read(spark, sfd, "events")
        .select(expr("(cast(ts as long) div 3600) * 3600").as("unix_hour"), col("user_id"))
      time("events scan")(li.count())
      val tc = li.groupBy(col("unix_hour"), col("user_id")).agg(count(lit(1)).as("true_count"))
      time("tc agg")(tc.count())
      val wtop = Window.partitionBy(col("unix_hour")).orderBy(col("true_count").desc, col("user_id"))
      val probes = tc.withColumn("rk", row_number().over(wtop).cast(LongType)).filter(col("rk") <= 5)
      time("top5 window")(probes.count())
      val ph = probes
        .select(col("unix_hour"), col("rk"), col("user_id"), col("true_count"),
          posexplode(array((0 until 4).map(i => expr(h(i))): _*)))
        .select(col("unix_hour"), col("rk"), col("user_id"), col("true_count"),
          col("pos").as("r"), col("col").as("b"))
      val out = cells.join(broadcast(ph), Seq("unix_hour", "r", "b"))
        .groupBy(col("unix_hour"), col("rk"), col("user_id"), col("true_count"))
        .agg(min(col("c")).as("cms_est"))
        .select(col("unix_hour"), col("rk"), col("user_id"), col("true_count"),
          col("cms_est"), (col("cms_est") - col("true_count")).as("overcount"))
        .orderBy(col("unix_hour"), col("rk"))
      time("join+agg (no ckpt)")(out.count())
      time("localCheckpoint")(out.localCheckpoint().count())
      spark.catalog.dropTempView("prof_cells2")
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    for (r <- 1 to reps) { println(s"[sprof] === batch breakdown rep $r ==="); q384BatchBreakdown() }
    for (r <- 1 to reps) {
      println(s"[sprof] === rep $r ===")
      profileStream("q384_cells", graft.streaming.StreamParity.cmsHourlyCells(spark, sfDir),
        sys.env.getOrElse("SPARK_GRAFT_STATE_PARTS", "32").toInt)
      profileStream("q379_regs", graft.streaming.StreamParity.hllHourlyRegisters(spark, sfDir),
        sys.env.getOrElse("SPARK_GRAFT_STATE_PARTS", "32").toInt)
      // batch finalization legs alone, for contrast
      val t0 = System.nanoTime()
      SparkEntry.queries("q384_stream_cms_topk")(spark, sfDir).count()
      println(f"[sprof] q384 full           ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      val t1 = System.nanoTime()
      SparkEntry.queries("q379_stream_hll")(spark, sfDir).count()
      println(f"[sprof] q379 full           ${(System.nanoTime() - t1) / 1e9}%6.2f s")
    }
    spark.stop()
  }
}
