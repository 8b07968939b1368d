package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark main: one closed-loop client calling graft's public API.
  *
  * {{{
  * Main --workload <sem_pipeline|corpus_curation|retrieval_mixed> --seed <n>
  *      --seconds <s> --trace <0|1> [--size tiny|full] [--digest-only]
  * }}}
  *
  * Phases: Spark session start; the workload's set-up, repeated and timed
  * (median reported); the timed phase (`--trace 1`: first half untraced as
  * the overhead reference, second half traced); retained heap; whole-run
  * checks; one record file; last stdout line = the result JSON.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      tiny: Boolean, digestOnly: Boolean, outDir: String)

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Opts(m.getOrElse("--workload", sys.error("--workload is required")),
      m.getOrElse("--seed", "1").toLong, m.getOrElse("--seconds", "10").toDouble,
      m.getOrElse("--trace", "0") == "1", m.getOrElse("--size", "full") == "tiny",
      args.contains("--digest-only"), m.getOrElse("--out", ".bench_build/out"))
  }

  /** Cumulative CPU time stolen by the hypervisor, in seconds (Linux). */
  private def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally src.close()
    } catch { case _: Exception => -1.0 }

  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  def session(nproc: Int, workDir: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", workDir.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workloadFor(ctx: Ctx): Workload = ctx.workload match {
    case "sem_pipeline" => new SemPipeline(ctx)
    case "corpus_curation" => new CorpusCuration(ctx)
    case "retrieval_mixed" => new RetrievalMixed(ctx)
    case other => sys.error(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors()
    val runId = s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}-${System.currentTimeMillis()}"
    val workDir = Paths.get(o.outDir, "work", runId)
    Files.createDirectories(workDir)
    val load0 = loadAvg()
    val steal0 = stealS()
    val spark = session(nproc, workDir)
    var code = 0
    try {
      spark.range(200000L).selectExpr("sum(id)").collect()
      val sessionS = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      val tracer = new Tracer(spark.sparkContext)
      val ctx = new Ctx(spark, o.workload, o.seed, o.tiny, workDir, tracer)
      val wl = workloadFor(ctx)
      if (o.digestOnly) {
        wl.setup()
        println(Json.render(Map("workload" -> o.workload, "seed" -> o.seed, "digest" -> wl.digest)))
        wl.teardown()
      } else code = run(o, ctx, wl, sessionS, load0, steal0, runId)
    } finally {
      spark.stop()
      Isolation.deleteTree(workDir.toString)
    }
    sys.exit(code)
  }

  private def run(o: Opts, ctx: Ctx, wl: Workload, sessionS: Double, load0: Double,
      steal0: Double, runId: String): Int = {
    val spark = ctx.spark
    val setupReps = if (o.tiny) 1 else 2
    val setupS = (1 to setupReps).map { _ =>
      wl.teardown()
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val keep = Isolation.persistedIds(spark)
    val w0 = System.nanoTime()
    wl.warmUp()
    Isolation.reset(spark, keep)
    val warmS = (System.nanoTime() - w0) / 1e9
    val samples = scala.collection.mutable.ArrayBuffer.empty[OpSample]
    var attempted = 0L
    var failed = 0L
    var failure: Option[Throwable] = None
    val probe = ctx.probe
    val pinned = scala.collection.mutable.ArrayBuffer.empty[Double]

    def loop(until: Long, traced: Boolean): Unit = {
      var first = true
      while (failure.isEmpty && (first || System.nanoTime() < until)) {
        first = false
        Isolation.reset(spark, keep)
        attempted += 1
        try {
          samples += wl.runOp(traced)
          if (traced) pinned += (Isolation.persistedIds(spark) -- keep).size.toDouble
        } catch {
          case c: CheckFailed => failure = Some(c)
          case e: Exception =>
            failed += 1
            System.err.println(s"operation failed (${o.workload}): $e")
        }
      }
    }

    def finalChecks(): Unit =
      if (failure.isEmpty)
        try wl.finalChecks() catch { case c: CheckFailed => failure = Some(c) }
    val t0 = System.nanoTime()
    val budget = (o.seconds * 1e9).toLong
    var heapMb = 0.0
    if (!o.trace) {
      loop(t0 + budget, traced = false)
      heapMb = Isolation.heapAfterGcMb()
      finalChecks()
    } else {
      loop(t0 + budget / 2, traced = false)
      spark.sparkContext.addSparkListener(probe)
      ctx.tracer.enabled = true
      loop(t0 + budget, traced = true)
      heapMb = Isolation.heapAfterGcMb()
      // Still traced: whole-run work (e.g. a pending compaction) gets spans.
      finalChecks()
      ctx.tracer.enabled = false
      probe.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
    }
    val load1 = loadAvg()
    failure.foreach(f => System.err.println(f.getMessage))

    val untraced = samples.filterNot(_.traced).toSeq
    val tracedS = samples.filter(_.traced).toSeq
    val correct = failure.isEmpty && untraced.nonEmpty && (!o.trace || tracedS.nonEmpty)
    val e2e: Map[String, Double] =
      if (untraced.isEmpty) Map.empty
      else wl.endToEnd(untraced) ++ Map(
        "setup_s" -> (sessionS + Stats.median(setupS) + warmS),
        "retained_heap_mb" -> heapMb)
    val layer: Map[String, Double] =
      if (!o.trace || tracedS.isEmpty || untraced.isEmpty) Map.empty
      else Layers.generic(ctx.tracer, probe, pinned.toSeq) ++ wl.layers(tracedS) ++
        Map("trace_overhead_s" -> (Stats.median(tracedS.filter(_.kind == untraced.head.kind)
          .map(_.ms)) - Stats.median(untraced.filter(_.kind == untraced.head.kind).map(_.ms))) / 1000.0)

    val metricNames = if (o.trace) Metrics.perLayer else Metrics.endToEnd
    val metrics = metricNames.map { case (name, unit) =>
      val v = if (o.trace) layer.getOrElse(name, 0.0) else e2e.getOrElse(name, 0.0)
      name -> scala.collection.immutable.ListMap(
        "value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> unit)
    }
    val record = scala.collection.immutable.ListMap(
      "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "size" -> (if (o.tiny) "tiny" else "full"),
      "input_digest" -> wl.digest, "sizes" -> wl.sizes,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "jvm_opts" -> {
          import scala.jdk.CollectionConverters._
          java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
            .filter(_.startsWith("-X")).toSeq
        },
        "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"),
        "source_digest" -> sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown"),
        "loadavg_before" -> load0, "loadavg_after" -> load1,
        "cpu_steal_s" -> (stealS() - steal0),
        "contended" -> (load0 > math.max(1.0, 0.04 * Runtime.getRuntime.availableProcessors()))),
      "setup_reps_s" -> setupS, "session_s" -> sessionS, "warm_up_s" -> warmS,
      "attempted" -> attempted, "failed" -> failed,
      "ops_failed_ratio" -> failed.toDouble / math.max(1L, attempted),
      "op_ms" -> samples.groupBy(k => (k.kind, k.traced)).map { case ((k, t), v) =>
        s"$k${if (t) ".traced" else ""}" -> v.map(_.ms) },
      "figures" -> (if (untraced.isEmpty) Map.empty else wl.figures(untraced)),
      "metrics" -> metrics.toMap,
      "failure" -> failure.map(_.getMessage))
    val recDir = Paths.get(o.outDir, "records")
    Files.createDirectories(recDir)
    Files.writeString(recDir.resolve(s"$runId.json"), Json.render(record) + "\n")
    if (o.trace) {
      val spanDir = Paths.get(o.outDir, "spans")
      Files.createDirectories(spanDir)
      val lines = ctx.tracer.all.map(s => Json.render(scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6,
        "self_ms" -> ctx.tracer.selfMs(s), "workload" -> o.workload, "run_id" -> runId)))
      Files.write(spanDir.resolve(s"$runId.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"spans: ${spanDir.resolve(s"$runId.jsonl")}")
    }
    wl.teardown()
    println(s"record: ${recDir.resolve(s"$runId.json")}")
    println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    if (correct) 0 else 1
  }
}
