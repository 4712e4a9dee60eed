package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sources.FixtureCheck
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in one JVM: `Runner <plan.json> <result.json>`.
  *
  * run.py writes the plan (ops in seeded order, per pass) and turns the
  * result (raw per-op samples, layer totals, host facts) into metrics.
  * The session is configured exactly as `graft.Bench` configures it.
  * Set-up is the session build, the fixture check and one untimed warm-up
  * pass over the same ops; then come the timed passes, and a spare pass if
  * the host took CPU time from the last of them. A traced run
  * (`"trace": 1`) pairs each untraced pass with a traced one, so the
  * tracing overhead is measured in the same JVM.
  */
object Runner {
  private val mapper = new ObjectMapper()

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config(graft.sources.Tables.nanosConf._1, graft.sources.Tables.nanosConf._2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One op execution as the client saw it. Times are wall-clock ms (to
    * line up with listener events) plus nanoTime-based seconds. */
  final case class Sample(op: Op, pass: Int, startMs: Long, constructEndMs: Long,
                          wallS: Double, constructS: Double, fp: Option[String],
                          error: Option[String], codegenNs: Long, codegenCount: Long)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = plan.get("cpus").asInt()
    val data = plan.get("data").asText()
    def passes(k: String): Seq[Seq[Op]] =
      plan.get(k).asScala.toSeq.map(_.asScala.toSeq.map(Op.parse))

    val spark = session(cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    FixtureCheck.assertSane(spark, data)
    val fixtureS = (System.currentTimeMillis() - jvmStart) / 1e3 - sessionS
    if (plan.has("record")) {
      record(spark, data, args(1))
      spark.stop()
      return
    }
    val runner = new PassRunner(spark, data, plan.get("op_timeout_s").asDouble())
    val warmT0 = System.nanoTime()
    passes("warmup").foreach(p => runner.run(p, pass = -1))
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // A traced run pairs each untraced pass with a traced one, and every
    // other pair runs the traced pass first, so JIT warm-up over the run
    // does not show up as tracing overhead.
    val tracer = if (plan.get("trace").asInt() == 0) None else Some(new Tracer(spark))
    val untracedPlans = passes("passes")
    val tracedPlans = passes("traced_passes")
    val runs = untracedPlans.indices.map { i =>
      def u = runner.run(untracedPlans(i), i)
      def t = tracer.map { tr =>
        tr.install()
        try runner.run(tracedPlans(i), untracedPlans.size + i) finally tr.uninstall()
      }
      if (i % 2 == 0) { val a = u; (a, t) } else { val b = t; (u, b) }
    }
    // A spare pass repeats the work of a timed pass the host took CPU time
    // from, while the run has time for it; best-of-passes then has a quieter
    // sample of each op.
    val timed = scala.collection.mutable.ArrayBuffer.from(runs.map(_._1))
    val stealLimit = plan.get("steal_limit").asDouble()
    val deadlineS = plan.get("spare_deadline_s").asDouble()
    for (p <- passes("spare_passes")) {
      val elapsedS = (System.currentTimeMillis() - jvmStart) / 1e3
      if (timed.last.stealFrac > stealLimit && elapsedS + timed.last.wallS <= deadlineS)
        timed += runner.run(p, timed.size)
    }
    val traced = tracer.map(_ -> runs.flatMap(_._2)).toSeq

    // retained driver heap: what caches and cached blocks keep after the runs
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val storage = spark.sparkContext.getRDDStorageInfo
    // expected layer states, replayed by run.py in DuckDB, fingerprinted off the clock
    val expected = plan.path("expected_states").asScala.toSeq.groupBy(_.get("table").asText())
      .values.flatMap { states =>
        val paths = states.map(_.get("path").asText())
        val fps = Fingerprint.byFile(spark.read.parquet(paths: _*),
          paths.map(p => Paths.get(p).getFileName.toString))
        states.map(e => e.get("key").asText() ->
          fps(Paths.get(e.get("path").asText()).getFileName.toString))
      }.toMap

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("setup_s", setupS)
    out.put("session_s", sessionS)
    out.put("fixture_s", fixtureS)
    out.put("warm_s", warmS)
    out.put("passes", (timed.map(_.json(traced = false)) ++
      traced.flatMap(_._2).map(_.json(traced = true))).asJava)
    out.put("expected_fp", expected.asJava)
    out.put("heap_retained_mb", heapMb)
    out.put("persisted_rdds", storage.length)
    out.put("persisted_mb", storage.map(_.memSize).sum / 1048576.0 +
      storage.map(_.diskSize).sum / 1048576.0)
    traced.foreach { case (tracer, ps) =>
      out.put("traced_ops", tracedOps(tracer, ps.flatMap(_.samples), runner).asJava)
      out.put("delta_bytes", runner.deltaBytes(ps.flatMap(_.samples)))
    }
    out.put("host", Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpus" -> cpus,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576).asJava)
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(out))
    spark.stop()
  }

  /** One record per traced op: the client's timings joined with the
    * tracer's layer totals. run.py derives the wall-time splits from it. */
  private def tracedOps(tracer: Tracer, samples: Seq[Sample],
                        runner: PassRunner): Seq[java.util.Map[String, Any]] = {
    val layers = tracer.ops(samples.map(s => s.op.id -> s.constructEndMs).toMap)
    samples.map { s =>
      (layers.getOrElse(s.op.id, Map.empty) ++ Map[String, Any](
        "op" -> s.op.id, "label" -> s.op.label, "pass" -> s.pass,
        "start_ms" -> s.startMs, "construct_end_ms" -> s.constructEndMs,
        "wall_s" -> s.wallS, "construct_s" -> s.constructS,
        "codegen_s" -> s.codegenNs / 1e9, "codegen_count" -> s.codegenCount,
        "layer_files" -> Option(runner.filesBeforeCompact.get(s.op.id)).map(_.intValue).getOrElse(0)
      )).asJava
    }
  }

  /** Fingerprints every registered query once: the expected results. */
  private def record(spark: SparkSession, data: String, out: String): Unit = {
    val ctx = new Ctx(spark, data)
    val fps = Op.modules.map { case (m, mod) =>
      m -> mod.queries.keys.toSeq.sorted.map { q =>
        q -> scala.util.Try(Fingerprint.of(Query(0, m, q).construct(ctx).get)).toOption.orNull
      }.toMap.asJava
    }.asJava
    Files.writeString(Paths.get(out), mapper.writeValueAsString(fps))
  }
}

/** Runs passes: one closed-loop client, the calling thread. */
final class PassRunner(spark: SparkSession, data: String, opTimeoutS: Double) {
  import Runner.Sample

  /** Layer file counts seen just before each compaction, by op id. */
  val filesBeforeCompact = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()

  final case class PassResult(pass: Int, wallS: Double, samples: Seq[Sample], storeBytes: Long,
                              stealFrac: Double) {
    def json(traced: Boolean): java.util.Map[String, Any] = Map[String, Any](
      "pass" -> pass, "traced" -> traced, "wall_s" -> wallS, "store_bytes" -> storeBytes,
      "steal_frac" -> stealFrac,
      "samples" -> samples.map { s =>
        Map[String, Any]("op" -> s.op.id, "label" -> s.op.label,
          "wall_s" -> s.wallS, "construct_s" -> s.constructS,
          "fp" -> s.fp.orNull, "error" -> s.error.orNull).asJava
      }.asJava).asJava
  }

  def run(ops: Seq[Op], pass: Int): PassResult = {
    val ctx = new Ctx(spark, data)
    val cpu0 = PassRunner.cpuTicks()
    val t0 = System.nanoTime()
    val samples = ops.map(runOp(ctx, _, pass))
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpu1 = PassRunner.cpuTicks()
    val (steal, busy) = (cpu1._1 - cpu0._1, cpu1._2 - cpu0._2)
    val roots = ops.collect { case v: VwVacuum => v.root }.distinct
    val store = roots.map(r => PassRunner.du(Paths.get(r))).sum
    roots.foreach(r => graft.sources.TempRoots.deleteRecursively(Paths.get(r), swallow = true))
    val stealFrac = if (steal + busy > 0) steal.toDouble / (steal + busy) else 0.0
    PassResult(pass, wallS, samples, store, stealFrac)
  }

  private def runOp(ctx: Ctx, op: Op, pass: Int): Sample = {
    val sc = spark.sparkContext
    op match {
      case c: VwCompact => graft.sources.VersionedLayer.latestVersion(spark, c.root).foreach { v =>
        filesBeforeCompact.put(c.id, graft.sources.VersionedLayer.fileEntries(spark, c.root, v).size)
      }
      case _ => ()
    }
    val tag = Trace.tag(op.id)
    sc.addJobTag(tag)
    val watchdog = PassRunner.timer.schedule(
      (() => sc.cancelJobsWithTag(tag)): Runnable,
      (opTimeoutS * 1000).toLong, java.util.concurrent.TimeUnit.MILLISECONDS)
    val cg0 = CodeGenerator.compileTime
    val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tc = t0
    var constructEndMs = startMs
    val (fp, err) =
      try {
        val df = op.construct(ctx)
        tc = System.nanoTime(); constructEndMs = System.currentTimeMillis()
        (df.map(Fingerprint.of), None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          (None, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      } finally {
        watchdog.cancel(false)
        sc.removeJobTag(tag)
      }
    val t1 = System.nanoTime()
    if (err.nonEmpty) tc = math.min(tc, t1)
    Sample(op, pass, startMs, constructEndMs, (t1 - t0) / 1e9, (tc - t0) / 1e9,
      fp, err, CodeGenerator.compileTime - cg0,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0)
  }

  /** Bytes of each traced merge's delta written as parquet: the base of
    * the write amplification ratio. */
  def deltaBytes(samples: Seq[Sample]): Long = {
    val ctx = new Ctx(spark, data)
    samples.map(_.op).collect { case m: VwMerge => m }.map { m =>
      val dir = Files.createTempDirectory("perfbench-delta")
      try {
        m.delta(ctx).write.mode("overwrite").parquet(dir.resolve("d").toString)
        PassRunner.du(dir)
      } finally graft.sources.TempRoots.deleteRecursively(dir, swallow = true)
    }.sum
  }
}

object PassRunner {
  val timer: java.util.concurrent.ScheduledExecutorService = {
    val t = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { (r: Runnable) =>
      val th = new Thread(r, "perfbench-watchdog"); th.setDaemon(true); th
    }
    t
  }

  /** The machine's (steal, busy) CPU ticks from /proc/stat: time the
    * hypervisor ran something else while a CPU of this machine had work,
    * and time spent on that work (user, nice, system, irq, softirq).
    * (0, 0) where there is no /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val stat = Paths.get("/proc/stat")
    if (!Files.isReadable(stat)) (0L, 0L)
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f(0) + f(1) + f(2) + f(5) + f(6))
    }
  }

  /** Bytes under a path, 0 if it is gone. */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
