package graft

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Decomposed single-query timer and plan inspector:
  * `runMain graft.Probe <q1,q2,...> [sfDir] [reps] [--plan]` times each
  * query's CONSTRUCTION (fn(spark, dir) — which for the
  * eager-materialize family includes the upstream row-scale collect) and
  * its EXECUTION (the noop write) separately, so an optimization session
  * can see which side of the eager-execution contract the seconds sit on.
  * Runs on [[Sessions.local]] (`SPARK_GRAFT_CPUS` threads).
  *
  * `--plan` prints, after each query's last rep, the executed plan of
  * that rep's noop write — the AQE FINAL plan (`isFinalPlan=true`), what
  * actually ran rather than the initial speculative plan. The
  * load-bearing shapes are asserted per query in PlanShapeSpec; this is
  * for eyeballing them.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <q1,q2,...> [sfDir] [reps] [--plan]"
    val (flags, pos) = args.toSeq.partition(_.startsWith("--"))
    require(flags.forall(_ == "--plan"), usage)
    val plan = flags.nonEmpty
    val names = pos.headOption.getOrElse(sys.error(usage)).split(",").toSeq
    val sfDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = pos.lift(2).map(_.toInt).getOrElse(2)
    val spark = Sessions.local()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(js.stageInfos.size)
        starts.put(js.jobId, System.nanoTime())
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = starts.remove(je.jobId)
        if (t0 != 0L) jobMs.addAndGet((System.nanoTime() - t0) / 1000000L)
      }
    })
    // every noop write's execution, in run order; listener delivery is
    // asynchronous, so a query's last rep is the (reps+1)-th write taken
    val writes = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    if (plan) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) writes.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      (0 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force optimize + physical planning
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        val tag = if (i == 0) "warmup" else s"rep$i"
        println(f"[probe] $name $tag: construct ${(t1 - t0) / 1e9}%.3f s, plan ${(t2 - t1) / 1e9}%.3f s, run ${(t3 - t2) / 1e9}%.3f s, jobs ${jobs.getAndSet(0)}, stages ${stages.getAndSet(0)}, jobwall ${jobMs.getAndSet(0) / 1000.0}%.2f s")
      }
      if (plan) {
        val last = (0 to reps).map { _ =>
          Option(writes.poll(60, java.util.concurrent.TimeUnit.SECONDS))
            .getOrElse(sys.error(s"no write execution reported for '$name'"))
        }.last
        println(s"[probe] $name plan:\n${last.executedPlan}")
      }
    }
    spark.stop()
  }
}
