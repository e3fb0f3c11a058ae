package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftExtensions, SparkEntry}
import graft.pipeline.{SparkPipeline, StateStore}
import graft.quality.RuleEngine.Rule
import graft.streaming.StreamingOps

/** One call of a workload: a `SparkEntry.queries` closure and the graft
  * module whose public operator it drives.
  */
final case class Call(name: String, module: String) {
  lazy val fn: (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
}

/** Wall-clock record of one call in one pass. Millisecond stamps window
  * the listener's jobs; nanosecond durations are what the metrics report.
  */
final case class Span(call: Call, startMs: Long, constructEndMs: Long, endMs: Long,
    constructNs: Long, execNs: Long, error: Option[String])

/** One pass: its spans, wall time, pipeline and stream figures, and the
  * listener events that fell inside it.
  */
final case class Pass(startMs: Long, wallNs: Long, cpuNs: Long, spans: Seq[Span], traced: Boolean,
    heldMbDelta: Double, pipeline: Option[PipelineRun], events: Drained)

final case class PipelineRun(runMs: Long, stepMs: Long, readyWaitMs: Long,
    overheadMs: Long, sinkMs: Long)

/** Fresh-JVM benchmark harness for one workload; see perfbench/DESIGN.md.
  *
  * `graftbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --cpus N --fixture-kinds K,K`
  *
  * Set-up runs a check pass (outputs saved for the DuckDB oracle compare in
  * run.py) and an untimed warm pass; then passes repeat, in one seed-fixed
  * call order, until `--seconds` have elapsed. The result goes to
  * `<work>/result.json`.
  */
object Harness {
  /** The graft modules whose operators the workloads' calls drive. */
  val Modules: Seq[String] = Seq("operators", "functions", "schema", "sources", "plans",
    "quality", "graph", "dedup", "text", "similarity", "multimodal")

  val Workloads: Map[String, Seq[Call]] = Map(
    "dq_pipeline" -> Seq(
      Call("q10_compare_summary", "operators"), Call("q38_dq_rules", "quality"),
      Call("q53_cdc_upsert", "operators"), Call("q66_reconcile", "operators"),
      Call("q12_schema_compare", "schema"), Call("q13_surrogate_key_string", "functions"),
      Call("q90_csv_roundtrip", "sources")),
    "stats_curation" -> Seq(
      Call("q132_pagerank", "graph"), Call("q113_cc_distributed", "dedup"),
      Call("q115_perplexity_buckets", "text"), Call("q88_pack_bpe", "text"),
      Call("q96_knn_ivfpq_prebuilt", "similarity"), Call("q126_image_neardup", "multimodal"),
      // Lineage.truncate materializes the survival subjects during construction
      Call("q294_log_rank_from_store", "plans"))
  )

  /** q38's rules; the stream step gates lineitem with them. */
  val StreamRules: Seq[Rule] = Seq(
    Rule("positive_qty", "l_quantity > 0"),
    Rule("qty_le_45", "l_quantity <= 45"),
    Rule("discount_range", "l_discount BETWEEN 0 AND 0.1"),
    Rule("returnflag_known", "l_returnflag IN ('A', 'N', 'R')"),
    Rule("price_under_90k", "l_extendedprice < 90000"),
    Rule("ship_before_1999", "l_shipdate < TIMESTAMP '1999-01-01'"))
  val StreamStep = "dq_gate_stream"
  val PipelineName = "dq_pipeline"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    new Harness(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("data"), opts("work"), opts("cpus").toInt,
      opts("fixture-kinds").split(",").filter(_.nonEmpty).toSeq).run()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
}

final class Harness(workload: String, seed: Long, seconds: Double, trace: Boolean,
    dataDir: String, work: String, cpus: Int, fixtureKinds: Seq[String]) {
  import Harness._

  private val calls: Seq[Call] = new Random(seed).shuffle(
    Workloads.getOrElse(workload, sys.error(s"unknown workload $workload")))
  private val isPipeline = workload == "dq_pipeline"
  private val recorder = new Recorder
  private var spark: SparkSession = _
  private var stateStore: StateStore = _
  private var streamSchema: org.apache.spark.sql.types.StructType = _
  private val streamDir = s"$dataDir/stream_input"
  private var passNo = 0
  private var attempted = 0
  private val failures = mutable.LinkedHashMap.empty[String, String]
  private var streamCheck: Option[(Long, Long)] = None

  private def secs(ns: Long): Double = ns / 1e9

  def run(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoint")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    recorder.register(spark)
    recorder.setTracing(spark, trace)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val t0 = System.nanoTime()
    if (isPipeline) prepareStream()
    val inputsS = secs(System.nanoTime() - t0)

    val t1 = System.nanoTime()
    val checkPass = runPass(check = true)
    val checkS = secs(System.nanoTime() - t1)
    val t2 = System.nanoTime()
    val warmPass = runPass(check = false)
    val warmS = secs(System.nanoTime() - t2)
    val liveHeapMb = settledHeapMb()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Timed passes. A traced run discards its first timed pass, the slowest
    // while the JIT is still compiling, and then runs whole groups of four
    // passes, traced, untraced, untraced, traced, so that neither side gets
    // the earlier, slower passes.
    val timed = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def groupOpen = trace && (timed.isEmpty || (timed.size - 1) % 4 != 0)
    while (timed.isEmpty || groupOpen || (System.nanoTime() < deadline && timed.size < 1000)) {
      val traced = trace && timed.nonEmpty && Set(0, 3).contains((timed.size - 1) % 4)
      recorder.setTracing(spark, traced)
      timed += runPass(check = false).copy(traced = traced)
    }
    recorder.setTracing(spark, false)
    println(s"[harness] ${timed.size} timed passes done ${System.currentTimeMillis() - jvmStartMs} ms after launch")

    val peakRssMb = vmHwmMb()
    val walls = timed.map(p => secs(p.wallNs))
    val measured = if (trace) timed.drop(1).toSeq else timed.toSeq
    val tracedPasses = measured.filter(_.traced)
    val untracedPasses = measured.filterNot(_.traced)
    val batchLat = timed.flatMap(_.events.progress)
      .filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution").toDouble / 1e3).toSeq

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (passTime(untracedPasses), "s"),
      "live_heap_mb" -> (liveHeapMb, "MB"))
    val summary = mutable.LinkedHashMap[String, (Double, String)](
      "pass_wall_median_s" -> (median(untracedPasses.map(p => secs(p.wallNs))), "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"),
      "cached_mb_left" -> (median(timed.map(_.heldMbDelta).toSeq), "MB"),
      "timed_passes" -> (timed.size.toDouble, "count"))
    if (isPipeline) {
      summary("stream_batch_p50_s") = (percentile(batchLat, 0.5), "s")
      summary("stream_batch_p90_s") = (percentile(batchLat, 0.9), "s")
      summary("stream_batches_timed") = (batchLat.size.toDouble, "count")
    }
    val layer: Seq[(String, Double, String)] =
      if (!trace) Nil
      else layerMetrics(tracedPasses, Seq(checkPass, warmPass), batchLat,
        passTime(tracedPasses) - passTime(untracedPasses)) ++ Seq(
        ("setup.session_s", sessionS, "s"), ("setup.inputs_s", inputsS, "s"),
        ("setup.check_s", checkS, "s"), ("setup.warm_s", warmS, "s"))

    writeResult(e2e.toSeq, summary.toSeq, layer, walls.toSeq, timed.map(p => secs(p.cpuNs)).toSeq)
    if (trace) Files.write(Paths.get(s"$work/spans.jsonl"),
      spanLines(tracedPasses).asJava)
    println(s"[harness] result written ${System.currentTimeMillis() - jvmStartMs} ms after launch")
    spark.stop()
    println(s"[harness] session stopped ${System.currentTimeMillis() - jvmStartMs} ms after launch")
  }

  /** Typical pass time. The JIT is still compiling during the timed passes,
    * which makes single calls jitter; so for one-call-at-a-time workloads it
    * is the sum over calls of each call's median time. The pipeline runs its
    * steps concurrently, so there it is the median pass wall time.
    */
  private def passTime(passes: Seq[Pass]): Double =
    if (isPipeline) median(passes.map(p => secs(p.wallNs)))
    else calls.map(c => median(passes.flatMap(_.spans.filter(_.call == c))
      .map(s => secs(s.constructNs + s.execNs)))).sum

  /** The stream input files come split from run.py (datagen.split_stream). */
  private def prepareStream(): Unit = {
    streamSchema = spark.read.parquet(streamDir).schema
    stateStore = new StateStore(spark, "graftbench_state")
  }

  private def runPass(check: Boolean): Pass = {
    val heldBefore = heldMb()
    val c0 = processCpuNs()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (spans, pipe) = if (isPipeline) pipelinePass(check) else (sequentialPass(check), None)
    val wall = System.nanoTime() - t0
    val cpu = processCpuNs() - c0
    passNo += 1
    Pass(startMs, wall, cpu, spans, traced = trace, heldMb() - heldBefore, pipe, recorder.drain(spark))
  }

  /** Heap that set-up's fixed work left reachable (cached blocks, fixtures,
    * broadcasts, session state), without garbage or free heap. A collection
    * makes dropped RDDs, shuffles and broadcasts weakly reachable and Spark's
    * ContextCleaner frees their blocks afterwards, so collect again until
    * the heap in use stops falling.
    */
  private def settledHeapMb(): Double = {
    def collect(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var cur = collect()
    var rounds = 1
    while (cur < prev - prev / 100 && rounds < 10) {
      Thread.sleep(250)
      prev = cur; cur = collect(); rounds += 1
    }
    println(s"[harness] live heap ${cur / 1048576} MB after $rounds collections")
    cur / 1048576.0
  }

  /** CPU time of the whole JVM: task, main, JIT and GC threads. */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def heldMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def record(s: Span): Span = {
    attempted += 1
    s.error.foreach(e => failures.getOrElseUpdate(s.call.name, e))
    s
  }

  private def runnable: Seq[Call] = calls.filterNot(c => failures.contains(c.name))

  private def sequentialPass(check: Boolean): Seq[Span] = runnable.map { c =>
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var c1 = startMs
    val err = try {
      val df = c.fn(spark, dataDir)
      t1 = System.nanoTime(); c1 = System.currentTimeMillis()
      if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$work/check/${c.name}")
      else df.write.format("noop").mode("overwrite").save()
      None
    } catch { case e: Throwable => Some(String.valueOf(e)) }
    val t2 = System.nanoTime()
    record(Span(c, startMs, c1, System.currentTimeMillis(), t1 - t0, t2 - t1, err))
  }

  /** One SparkPipeline run: a stepSparkTable per call (parquet table plus an
    * observed row count, state saved to the StateStore) and the streaming
    * DQ gate over the split lineitem files, on a pool of `cpus` workers.
    */
  private def pipelinePass(check: Boolean): (Seq[Span], Option[PipelineRun]) = {
    val p = new SparkPipeline(PipelineName, spark, Some(stateStore))
    val constructed = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]
    // registered first so it takes a worker at once: the stream is the
    // pass's longest step
    val out = s"$work/stream_output/pass$passNo"
    val streamStep = p.step(StreamStep) { _ =>
      val src = spark.readStream.schema(streamSchema).option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = StreamingOps.dqGateStream(src, StreamRules, s"$out/clean",
        s"$out/quarantine", s"$out/checkpoint")
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      Seq(StreamStep)
    }
    val steps = runnable.map { c =>
      c -> p.stepSparkTable(c.name, metricExprs = Map("rows" -> "count(1)")) { _ =>
        val t0 = System.nanoTime()
        val df = c.fn(spark, dataDir)
        constructed.put(c.name, (System.nanoTime() - t0, System.currentTimeMillis()))
        Seq(df)
      }
    }
    val runStart = System.currentTimeMillis()
    try p.run(maxConcurrentSteps = cpus) catch { case _: Throwable => () }
    val runEnd = System.currentTimeMillis()

    val all = steps :+ (Call(StreamStep, "streaming") -> streamStep)
    val spans = all.map { case (c, s) =>
      val (cNs, cEnd) = Option(constructed.get(c.name)).getOrElse((0L, s.startTs))
      val err = s.exception.map(String.valueOf)
        .orElse(if (s.stopTs < 0) Some(s"step ${s.name} did not run (${s.state})") else None)
      val stop = math.max(s.stopTs, cEnd)
      record(Span(c, s.startTs, cEnd, stop, cNs, (stop - cEnd) * 1000000L, err))
    }
    if (check && !failures.contains(StreamStep)) {
      def n(d: String) = spark.read.parquet(d).count()
      streamCheck = Some((n(s"$out/clean"), n(s"$out/quarantine")))
    }
    val ran = spans.filter(_.startMs > 0)
    val span = if (ran.isEmpty) 0L else ran.map(_.endMs).max - ran.map(_.startMs).min
    val tableSpans = spans.filter(_.call.name != StreamStep)
    (spans, Some(PipelineRun(
      runMs = runEnd - runStart,
      stepMs = ran.map(s => s.endMs - s.startMs).sum,
      readyWaitMs = ran.map(s => s.startMs - runStart).sum,
      overheadMs = (runEnd - runStart) - span,
      sinkMs = tableSpans.map(s => s.endMs - s.constructEndMs).sum)))
  }

  /** Per-layer metrics, each the median over traced timed passes of its
    * per-pass total, except the pooled stream latencies and `queries.*`,
    * which counts the fixture builds of the set-up passes.
    */
  private def layerMetrics(passes: Seq[Pass], setupPasses: Seq[Pass], batchLat: Seq[Double],
      overheadS: Double): Seq[(String, Double, String)] = {
    val perPass: Seq[mutable.LinkedHashMap[String, (Double, String)]] = passes.map(passLayer)
    val names = perPass.headOption.map(_.keys.toSeq).getOrElse(Nil)
    val med = names.map { k =>
      (k, median(perPass.map(_(k)._1)), perPass.head(k)._2)
    }
    val fixtureJobs = setupPasses.flatMap(_.events.jobs).filter(_.callSite.contains("graft.queries.Fixtures"))
    med ++ Seq(
      ("stream.batch_p50_s", percentile(batchLat, 0.5), "s"),
      ("stream.batch_p90_s", percentile(batchLat, 0.9), "s"),
      ("stream.batch_samples", batchLat.size.toDouble, "count"),
      ("queries.jobs", fixtureJobs.size.toDouble, "count"),
      ("queries.construct_s", fixtureJobs.map(j => j.endMs - j.startMs).sum / 1e3, "s"),
      ("trace.overhead_s", overheadS, "s"))
  }

  /** The call span a job belongs to, and whether it ran during construction.
    * Sequential calls own the jobs that start inside their window; under
    * the pipeline's concurrent steps a job belongs to the step its
    * SparkUILogger tag names, and stream batches to the stream step.
    */
  private def owner(p: Pass, j: JobRec): Option[(Span, Boolean)] = {
    val span =
      if (!isPipeline) p.spans.find(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
      else if (j.description.contains("runId = ")) p.spans.find(_.call.name == StreamStep)
      else p.spans.find(s => j.description == s"$PipelineName#${s.call.name}" ||
        j.description.startsWith(s"$PipelineName#${s.call.name}."))
    span.map(s => s -> (j.startMs <= s.constructEndMs && s.call.name != StreamStep))
  }

  /** Span records of the traced passes, one JSON object a line: pass, then
    * call, then its construct and exec phases, then each Spark job under
    * the phase that issued it.
    */
  private def spanLines(passes: Seq[Pass]): Seq[String] = passes.zipWithIndex.flatMap { case (p, k) =>
    def line(id: String, parent: String, kind: String, name: String, start: Long, end: Long) =
      s"""{"id": ${Json.str(id)}, "parent": ${Json.str(parent)}, "kind": "$kind", """ +
        s""""name": ${Json.str(name)}, "start_ms": $start, "end_ms": $end}"""
    val pid = s"p$k"
    val calls = p.spans.zipWithIndex.flatMap { case (s, i) =>
      val cid = s"$pid.c$i"
      Seq(line(cid, pid, "call", s.call.name, s.startMs, s.endMs),
        line(s"$cid.construct", cid, "phase", "construct", s.startMs, s.constructEndMs),
        line(s"$cid.exec", cid, "phase", "exec", s.constructEndMs, s.endMs))
    }
    val jobs = p.events.jobs.map { j =>
      val parent = owner(p, j).map { case (s, c) =>
        s"$pid.c${p.spans.indexOf(s)}.${if (c) "construct" else "exec"}" }.getOrElse(pid)
      // named after the innermost graft frame that issued it, if any
      val site = j.callSite.linesIterator.toSeq
      val name = site.find(l => l.startsWith("graft.")).orElse(site.headOption).getOrElse("")
      line(s"$pid.job${j.id}", parent, "job", name, j.startMs, j.endMs)
    }
    line(pid, "", "pass", s"pass $k", p.startMs, p.startMs + p.wallNs / 1000000L) +: (calls ++ jobs)
  }

  private def passLayer(p: Pass): mutable.LinkedHashMap[String, (Double, String)] = {
    val ev = p.events
    val owned = ev.jobs.map(j => (j, owner(p, j)))
    val constructJobs = owned.collect { case (j, Some((_, true))) => j }
    val execJobs = owned.collect { case (j, o) if !o.exists(_._2) => j }
    def stageSum(js: Seq[JobRec])(f: StageAgg => Long): Long =
      js.flatMap(_.stageIds).flatMap(ev.stages.get).map(f).sum
    val execStages = execJobs.flatMap(_.stageIds)
    val mb = 1048576.0
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, u: String): Unit = m(k) = (v, u)
    put("construct.s", secs(p.spans.map(_.constructNs).sum), "s")
    put("construct.jobs", constructJobs.size, "count")
    put("plan.analysis_s", ev.plans.map(_.analysisMs).sum / 1e3, "s")
    put("plan.optimization_s", ev.plans.map(_.optimizationMs).sum / 1e3, "s")
    put("plan.planning_s", ev.plans.map(_.planningMs).sum / 1e3, "s")
    put("exec.s", secs(p.spans.map(_.execNs).sum), "s")
    put("exec.jobs", execJobs.size, "count")
    put("exec.stages", execStages.size, "count")
    put("exec.tasks", stageSum(execJobs)(_.tasks.sum), "count")
    put("exec.stage_skip_ratio",
      if (execStages.isEmpty) 0.0 else execStages.count(s => !ev.submittedStages.contains(s)).toDouble / execStages.size, "ratio")
    put("exec.task_cpu_s", stageSum(execJobs)(_.cpuNs.sum) / 1e9, "s")
    put("exec.task_run_s", stageSum(execJobs)(_.runMs.sum) / 1e3, "s")
    put("exec.gc_s", stageSum(execJobs)(_.gcMs.sum) / 1e3, "s")
    put("exec.shuffle_read_mb", stageSum(execJobs)(_.shuffleRead.sum) / mb, "MB")
    put("exec.shuffle_write_mb", stageSum(execJobs)(_.shuffleWrite.sum) / mb, "MB")
    put("exec.spill_mb", stageSum(execJobs)(_.spill.sum) / mb, "MB")
    put("exec.task_failures", stageSum(execJobs)(_.failures.sum), "count")
    put("exec.input_rows", stageSum(execJobs)(_.inputRows.sum), "count")
    put("storage.blocks_written", ev.blocksWritten, "count")
    put("storage.mb_written", ev.blockBytes / mb, "MB")
    put("storage.cached_mb_left", p.heldMbDelta, "MB")
    val pr = p.pipeline.getOrElse(PipelineRun(0, 0, 0, 0, 0))
    put("pipeline.run_s", pr.runMs / 1e3, "s")
    put("pipeline.step_s", pr.stepMs / 1e3, "s")
    put("pipeline.overhead_s", pr.overheadMs / 1e3, "s")
    put("dag.ready_wait_s", pr.readyWaitMs / 1e3, "s")
    put("sink.write_s", pr.sinkMs / 1e3, "s")
    put("sink.mb_written", (if (isPipeline) stageSum(ev.jobs)(_.outputBytes.sum) else 0L) / mb, "MB")
    val prog = ev.progress.filter(_.numInputRows > 0)
    def dur(k: String): Double = prog.map(x => Option(x.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum / 1e3
    put("stream.batches", prog.size, "count")
    put("stream.rows", prog.map(_.numInputRows).sum.toDouble, "count")
    put("stream.add_batch_s", dur("addBatch"), "s")
    put("stream.query_planning_s", dur("queryPlanning"), "s")
    put("stream.wal_commit_s", dur("walCommit"), "s")
    val jobModule = owned.map { case (j, o) => j -> o.map(_._1.call.module).getOrElse("pipeline") }
    Modules.foreach { mod =>
      val sp = p.spans.filter(_.call.module == mod)
      put(s"$mod.construct_s", secs(sp.map(_.constructNs).sum), "s")
      put(s"$mod.exec_s", secs(sp.map(_.execNs).sum), "s")
      put(s"$mod.jobs", jobModule.count(_._2 == mod), "count")
    }
    put("streaming.exec_s", secs(p.spans.filter(_.call.module == "streaming").map(_.execNs).sum), "s")
    put("streaming.jobs", jobModule.count(_._2 == "streaming"), "count")
    put("pipeline.jobs", jobModule.count(_._2 == "pipeline"), "count")
    m
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def writeResult(e2e: Seq[(String, (Double, String))], summary: Seq[(String, (Double, String))],
      layer: Seq[(String, Double, String)], walls: Seq[Double], cpus: Seq[Double]): Unit = {
    val q = Json.str _
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
    def metric(k: String, v: Double, u: String) = s"${q(k)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}"
    val fixtures = fixtureKinds.map(k => q(k) + ": " + q(graft.queries.Fixtures.pathFor(dataDir, k)))
    val outputs = calls.map { c =>
      val dir = if (isPipeline) s"$work/warehouse/${c.name}" else s"$work/check/${c.name}"
      q(c.name) + ": " + q(dir)
    }
    val stream = streamCheck.map { case (clean, quar) =>
      s"""{"clean": $clean, "quarantine": $quar, "rules": [""" +
        StreamRules.map(r => s"[${q(r.name)}, ${q(r.predicate)}]").mkString(", ") + "]}"
    }.getOrElse("null")
    val json =
      s"""{"workload": ${q(workload)}, "seed": $seed, "order": [${calls.map(c => q(c.name)).mkString(", ")}],
         |"attempted": $attempted,
         |"failures": {${failures.map { case (k, v) => q(k) + ": " + q(v) }.mkString(", ")}},
         |"outputs": {${outputs.mkString(", ")}},
         |"fixtures": {${fixtures.mkString(", ")}},
         |"stream_check": $stream,
         |"pass_walls_s": [${walls.map(num).mkString(", ")}],
         |"pass_cpu_s": [${cpus.map(num).mkString(", ")}],
         |"end_to_end": {${e2e.map { case (k, (v, u)) => metric(k, v, u) }.mkString(", ")}},
         |"summary": {${summary.map { case (k, (v, u)) => metric(k, v, u) }.mkString(", ")}},
         |"per_layer": {${layer.map { case (k, v, u) => metric(k, v, u) }.mkString(", ")}}}
         |""".stripMargin
    Files.writeString(Paths.get(s"$work/result.json"), json)
  }
}
