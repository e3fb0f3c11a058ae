package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it. `callSite` is the long call site
  * (a stack excerpt) of the job's stages; `description` is the job
  * description local property, which SparkUILogger and structured streaming
  * set.
  */
final case class JobRec(id: Int, startMs: Long, description: String,
    callSite: String, stageIds: Seq[Int]) {
  @volatile var endMs: Long = startMs
}

/** Task metrics summed over one stage. */
final class StageAgg {
  val tasks, failures, cpuNs, runMs, gcMs = new LongAdder
  val shuffleRead, shuffleWrite, spill, inputRows, outputBytes = new LongAdder
}

/** Catalyst phase times of one finished QueryExecution. */
final case class PlanRec(analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Everything the listeners recorded since the previous drain. */
final case class Drained(jobs: Seq[JobRec], submittedStages: Set[Int],
    stages: Map[Int, StageAgg], blocksWritten: Long, blockBytes: Long,
    plans: Seq[PlanRec], progress: Seq[StreamingQueryProgress])

/** Spans kept in memory: a SparkListener for jobs, stages, tasks and block
  * writes, a QueryExecutionListener for planning phases, and a
  * StreamingQueryListener for micro-batch progress. The first two are the
  * tracing layer and can be detached; stream progress is always recorded
  * because the untraced summary reports micro-batch latency.
  */
final class Recorder {
  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val jobById = new ConcurrentHashMap[Int, JobRec]
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]
  private val blocks = new AtomicLong
  private val blockBytes = new AtomicLong
  private val plans = new ConcurrentLinkedQueue[PlanRec]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  @volatile private var tracing = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val rec = JobRec(e.jobId, e.time,
        props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
        e.stageInfos.headOption.map(_.details).getOrElse(""),
        e.stageInfos.map(_.stageId))
      jobById.put(e.jobId, rec)
      jobs.add(rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.remove(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.tasks.increment()
      if (e.taskInfo != null && e.taskInfo.failed) a.failures.increment()
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs.add(m.executorCpuTime)
        a.runMs.add(m.executorRunTime)
        a.gcMs.add(m.jvmGCTime)
        a.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.inputRows.add(m.inputMetrics.recordsRead)
        a.outputBytes.add(m.outputMetrics.bytesWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid) {
        blocks.incrementAndGet()
        blockBytes.addAndGet(info.memSize + info.diskSize)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      plans.add(PlanRec(ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = spark.streams.addListener(streamListener)

  def setTracing(spark: SparkSession, on: Boolean): Unit = if (on != tracing) {
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(planListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(planListener)
    }
    tracing = on
  }

  /** Waits for the listener bus, then hands over and forgets what was
    * recorded so far.
    */
  def drain(spark: SparkSession): Drained = {
    org.apache.spark.graftbench.Bridge.drainListenerBus(spark.sparkContext)
    def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val b = Seq.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    val js = take(jobs)
    val ids = js.flatMap(_.stageIds).toSet
    val st = ids.flatMap(i => Option(stages.remove(i)).map(i -> _)).toMap
    val sub = ids.filter(submitted.remove)
    Drained(js, sub, st, blocks.getAndSet(0), blockBytes.getAndSet(0),
      take(plans), take(progress))
  }
}
