package graftbench

import scala.collection.mutable

import org.apache.spark.{GraftBenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation layer accounting from outside the program: a
  * SparkListener (jobs, stages, tasks, stored blocks), a
  * QueryExecutionListener (planning phases) and Spark's CodegenMetrics.
  *
  * Each traced operation runs under its own job group. After it returns
  * the listener bus is drained, so every event posted so far belongs to
  * that operation; a job that arrives without the operation's group (a
  * side-thread job that did not inherit the caller's local properties)
  * is attributed to it by time and counted as an orphan.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private var pending = new Window
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val jobs = mutable.Map.empty[Int, JobRec]
  /** SQL execution id → (root execution id, call site of the action). */
  private val executions = mutable.Map.empty[Long, (Long, String)]

  def attach(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(this) }
  def detach(): Unit = {
    GraftBenchBus.drain(sc)
    sc.removeSparkListener(this); spark.listenerManager.unregister(this)
  }

  /** Runs `body` as one traced span; returns its result and the layer
    * accounting of everything it caused. */
  def span[T](group: String)(body: => T): (T, Window) = {
    take() // whatever ran before belongs to no span
    val cg0 = codegenCount; val cgMs0 = codegenMs
    // no description: a job description would replace the call site
    // Spark records for the SQL executions the span runs
    sc.setJobGroup(group, null, interruptOnCancel = false)
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = t0 + math.round(wall * 1000)
    GraftBenchBus.drain(sc)
    val w = take()
    w.wall = wall
    w.codegenCompiles = codegenCount - cg0
    w.codegenS = (codegenMs - cgMs0) / 1000.0
    w.close(group, t0, t1, synchronized(jobs.values.toSeq))
    (out, w)
  }

  private def take(): Window = synchronized {
    val w = pending; pending = new Window
    // a job still running at the end of the span stays pending, so it is
    // counted where it ends; finished ones move into this window
    jobs.values.filter(_.end >= 0).foreach { j => w.jobs += j; jobs.remove(j.id) }
    w
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) = (x.rootExecutionId.getOrElse(x.executionId), x.description)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    // Jobs Spark runs on its own threads (AQE stages, broadcasts) carry an
    // internal call site; the SQL execution they serve names the action
    // the program called, so that is the job's site.
    val execSite = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
      .flatMap { case (root, d) => executions.get(root).map(_._2).orElse(Some(d)) }
    val site = execSite.getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs(e.jobId) = new JobRec(e.jobId, group, site, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    pending.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = pending
    w.tasks += 1
    if (e.reason != Success) w.tasksFailed += 1
    stageSubmit.get(e.stageId).foreach(s => w.taskWaitS += math.max(0L, e.taskInfo.launchTime - s) / 1000.0)
    val m = e.taskMetrics
    if (m != null) {
      w.runS += m.executorRunTime / 1000.0
      w.cpuS += m.executorCpuTime / 1e9
      w.gcS += m.jvmGCTime / 1000.0
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1000.0
      w.spill += m.diskBytesSpilled
      w.inRows += m.inputMetrics.recordsRead
      w.inBytes += m.inputMetrics.bytesRead
      w.outRows += m.outputMetrics.recordsWritten
      w.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) pending.blockBytes += b.memSize + b.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L) / 1000.0
    pending.analysisS += ms("analysis")
    pending.optimizationS += ms("optimization")
    pending.planningS += ms("planning")
  }
}

object Tracer {
  def codegenCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Sum of the per-compile times the histogram holds (exact while the
    * JVM has compiled fewer classes than the reservoir keeps, 1028;
    * after that the mean of the kept samples times the count). */
  def codegenMs: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    if (h.getCount <= s.size) s.getValues.sum.toDouble else s.getMean * h.getCount
  }

  final class JobRec(val id: Int, val group: String, val site: String, val start: Long) {
    var end: Long = -1L
    /** Graft source file of the job's call site ("save at CsvIO.scala:52"). */
    def file: String = {
      val at = site.lastIndexOf(" at ")
      val f = if (at < 0) site else site.substring(at + 4)
      val c = f.indexOf(':')
      if (c < 0) f else f.substring(0, c)
    }
    def isCheckpoint: Boolean = site.startsWith("localCheckpoint ") || site.startsWith("checkpoint ")
  }

  /** Layer accounting for one span. */
  final class Window {
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    var wall, taskWaitS, runS, cpuS, gcS, fetchWaitS = 0.0
    var analysisS, optimizationS, planningS, codegenS = 0.0
    var stages, tasks, tasksFailed, codegenCompiles = 0L
    var shuffleWrite, shuffleRead, spill, blockBytes = 0L
    var inRows, inBytes, outRows, outBytes = 0L
    // derived by close()
    var orphans = 0
    var start, end = 0L
    var coveredS, gapS, uncoveredS = 0.0

    /** Attribute this span's jobs and check that job time plus the
      * driver gap accounts for the span's wall time.
      *
      * The span's jobs are those that ended between the previous drain
      * and this one; `running` are jobs not ended yet. The driver gap is
      * the part of the span during which no job at all ran; what neither
      * the span's own jobs nor the gap explain (a job still running when
      * the operation returned, or one the span started before it began)
      * is reported as uncovered. */
    def close(group: String, t0: Long, t1: Long, running: Seq[JobRec]): Unit = {
      orphans = jobs.count(_.group != group)
      def clip(j: JobRec) = (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1))
      val own = union(jobs.map(clip))
      val all = union((jobs ++ running.filter(_.start < t1)).map(clip))
      start = t0; end = t1
      coveredS = own / 1000.0
      gapS = ((t1 - t0) - all) / 1000.0
      val outside = union(jobs.map(j => (j.start, j.end))) - own
      uncoveredS = ((all - own) + outside) / 1000.0
    }

    def jobSeconds(p: JobRec => Boolean): Double =
      jobs.filter(p).map(j => (j.end - j.start) / 1000.0).sum
  }

  /** Total length of the union of [start, end] intervals (ms). */
  def union(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
