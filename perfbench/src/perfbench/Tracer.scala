package perfbench

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Span recorder for traced passes.
  *
  * Every op runs with the local properties [[Tracer.OpKey]] (its span id)
  * and [[Tracer.PhaseKey]] (`build` or `run`), so each job and stage span
  * names the op that caused it. Query executions carry no properties; their
  * spans hold their phase start time and the report assigns them to the op
  * whose interval contains it. Spans stay in memory until [[spans]] is read.
  */
class Tracer(spark: SparkSession) {
  import Tracer._

  private val lines = mutable.ArrayBuffer.empty[String]
  private def add(fields: (String, Any)*): Unit = lines.synchronized {
    lines += Json.obj(fields)
  }

  private final class StageAcc(val op: String) {
    var tasks, retries = 0
    var runMs, cpuNs, gcMs, resultBytes, shuffleWrite, shuffleRead = 0L
    var fetchWaitMs, spillBytes, inBytes, inRecords = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    def add(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful) retries += 1
      durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
        resultBytes += m.resultSize
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spillBytes += m.diskBytesSpilled
        inBytes += m.inputMetrics.bytesRead; inRecords += m.inputMetrics.recordsRead
      }
    }
    /** Slowest task over the median task; 1 for a single-task stage. */
    def skew: Double =
      if (durations.size < 2) 1.0
      else {
        val s = durations.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
      }
  }

  private val sparkListener = new SparkListener {
    private val jobs = mutable.Map.empty[Int, (Long, String, String, Int)]
    private val stages = mutable.Map.empty[(Int, Int), StageAcc]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
        jobs(e.jobId) = (e.time, op, e.properties.getProperty(PhaseKey), e.stageInfos.size)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (t0, op, phase, nStages) =>
        add("kind" -> "job", "op" -> op, "phase" -> phase, "id" -> e.jobId,
          "start_ms" -> t0, "end_ms" -> e.time, "stages" -> nStages)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
        stages((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = new StageAcc(op)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.get((e.stageId, e.stageAttemptId)).foreach(_.add(e))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages.remove((si.stageId, si.attemptNumber())).foreach { a =>
        add("kind" -> "stage", "op" -> a.op, "id" -> si.stageId,
          "start_ms" -> si.submissionTime.getOrElse(0L),
          "end_ms" -> si.completionTime.getOrElse(0L),
          "tasks" -> a.tasks, "retries" -> a.retries,
          "run_s" -> a.runMs / 1e3, "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
          "result_bytes" -> a.resultBytes, "shuffle_write_bytes" -> a.shuffleWrite,
          "shuffle_read_bytes" -> a.shuffleRead, "fetch_wait_s" -> a.fetchWaitMs / 1e3,
          "spill_bytes" -> a.spillBytes, "scan_bytes" -> a.inBytes,
          "scan_records" -> a.inRecords, "skew" -> a.skew)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(funcName, qe)
  }

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = scala.util.Try(qe.executedPlan).toOption
    def count(pf: PartialFunction[SparkPlan, Int]): Int =
      plan.map(p => PlanWalk.collectWithSubqueries(p)(pf).sum).getOrElse(0)
    add("kind" -> "qe", "func" -> funcName,
      "start_ms" -> (if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min),
      "analysis_s" -> ms("analysis") / 1e3, "optimization_s" -> ms("optimization") / 1e3,
      "planning_s" -> ms("planning") / 1e3,
      "exchanges" -> count { case _: ShuffleExchangeExec => 1 },
      "broadcasts" -> count { case _: BroadcastExchangeExec => 1 },
      "smj" -> count { case _: SortMergeJoinExec => 1 },
      "bhj" -> count { case _: BroadcastHashJoinExec => 1 })
  }

  /** Client-thread stack sampler that splits ETL op time by pipeline stage. */
  private final class Sampler(client: Thread) extends Thread("perfbench-sampler") {
    setDaemon(true)
    @volatile var op: String = null
    @volatile var running = true
    val nanos = mutable.Map.empty[(String, String), Long]
    override def run(): Unit = {
      var last = System.nanoTime()
      while (running) {
        Thread.sleep(SampleMs)
        val now = System.nanoTime()
        val o = op
        if (o != null) {
          val key = (o, etlStage(client.getStackTrace))
          nanos.synchronized(nanos(key) = nanos.getOrElse(key, 0L) + (now - last))
        }
        last = now
      }
    }
  }
  private var sampler: Sampler = null

  /** Attach the listeners (and, for ETL ops, the sampler) for one pass. */
  def start(sampleEtl: Boolean): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    if (sampleEtl) { sampler = new Sampler(Thread.currentThread()); sampler.start() }
  }

  def opStarted(op: String): Unit = if (sampler != null) sampler.op = op
  def opEnded(): Unit = if (sampler != null) sampler.op = null

  /** Deliver pending events, then detach everything attached by [[start]]. */
  def stop(): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    if (sampler != null) {
      sampler.running = false
      sampler.join()
      sampler.nanos.foreach { case ((op, stage), ns) =>
        add("kind" -> "etl", "op" -> op, "stage" -> stage, "seconds" -> ns / 1e9)
      }
      sampler = null
    }
  }

  def opSpan(fields: (String, Any)*): Unit = add(fields: _*)

  def spans: Seq[String] = lines.synchronized(lines.toList)
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  private val SampleMs = 5L // between stack samples

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Pipeline stage of the innermost `graft.etl` frame on a client stack. */
  def etlStage(stack: Array[StackTraceElement]): String =
    stack.iterator.filter(_.getClassName.startsWith("graft.etl.")).map { f =>
      (f.getClassName.stripPrefix("graft.etl.").takeWhile(_ != '$'), f.getMethodName) match {
        case ("Ingest", m) if m.contains("backupFiles")               => "backup"
        case ("Ingest", m) if m.contains("readCsvAllText")            => "read"
        case ("TypeInference", _) | ("TypeVoteAggregator", _)         => "infer"
        case ("TableLifecycle", m) if m.contains("stageBuild")        => "write"
        case ("TableLifecycle", m) if m.contains("swap") ||
                                      m.contains("dropIfExists")      => "swap"
        case ("TableLifecycle", m) if m.contains("snapshotToHistory") => "history"
        case ("TableLifecycle", m) if m.contains("recordCount")       => "count"
        case _                                                         => ""
      }
    }.find(_.nonEmpty).getOrElse("pipeline")
}
