package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlEvents

/** The traced run's recorder. It attaches a SparkListener from outside
  * the program and keeps, in memory, spans at each layer boundary —
  * workload → call → job → stage — and the counts of each. Jobs reach
  * their call through the job group the harness sets per call. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val ops = ArrayBuffer.empty[Op]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execGroup = mutable.Map.empty[Long, String]
  private val plans = mutable.Map.empty[String, PlanCounts]
  private var workload: Option[(String, Double, Double)] = None

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)

  def workloadSpan(name: String, startMs: Double, endMs: Double): Unit =
    synchronized { workload = Some((name, startMs, endMs)) }

  /** One key call: its jobs run under a job group named after the op. */
  def call[T](key: String)(body: => T): T = {
    val group = s"op-${ops.size}"
    spark.sparkContext.setJobGroup(group, key, interruptOnCancel = false)
    val t0 = nowMs()
    try body
    finally {
      val t1 = nowMs()
      spark.sparkContext.clearJobGroup()
      synchronized { ops += Op(group, key, t0, t1) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.getOrElseUpdate(id.toLong, group))
    jobs(e.jobId) = Job(e.jobId, group, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  /** Plan-node counts of each finished SQL execution, from its final plan. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      for (qe <- SqlEvents.queryExecution(end)) {
        val c = countPlan(qe.executedPlan)
        synchronized {
          execGroup.get(end.executionId).foreach(g => plans.getOrElseUpdate(g, new PlanCounts).add(c))
        }
      }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val st = stages.getOrElseUpdate(i.stageId, new Stage(i.stageId))
    st.submitted = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    st.completed = i.completionTime.map(_.toDouble).getOrElse(Double.NaN)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val st = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
      val sr = m.shuffleReadMetrics
      st.tasks += Task(
        launch = e.taskInfo.launchTime.toDouble,
        duration = e.taskInfo.duration / 1e3,
        cpu = m.executorCpuTime / 1e9,
        gc = m.jvmGCTime / 1e3,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = sr.remoteBytesRead + sr.localBytesRead,
        fetchWait = sr.fetchWaitTime / 1e3,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        rowsRead = m.inputMetrics.recordsRead,
        bytesRead = m.inputMetrics.bytesRead,
        rowsWritten = m.outputMetrics.recordsWritten,
        bytesWritten = m.outputMetrics.bytesWritten)
    }
  }

  /** Waits until the listener has seen every event posted so far: it
    * runs a sentinel job and returns once that job's end has arrived
    * (the listener bus delivers events to a listener in order). */
  def flush(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(FlushGroup, "flush", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (synchronized(!jobs.values.exists(j => j.group == FlushGroup && !j.end.isNaN)) &&
           System.nanoTime() < deadline) Thread.sleep(5)
    synchronized { jobs.filterInPlace { case (_, j) => j.group != FlushGroup } }
  }

  /** Per-layer metrics over the recorded ops, plus the span list. */
  def summarize(): (Map[String, Double], Seq[Map[String, Any]]) = synchronized {
    val nOps = math.max(1, ops.size).toDouble
    val byGroup = jobs.values.groupBy(_.group)
    val opJobs = ops.map(o => o -> byGroup.getOrElse(o.group, Nil).toSeq.sortBy(_.start)).toMap
    val spans = ArrayBuffer.empty[Map[String, Any]]
    var nextId = 0L
    def span(kind: String, name: String, parent: Long, s: Double, e: Double): Long = {
      nextId += 1
      spans += Map("id" -> nextId, "parent" -> parent, "kind" -> kind, "name" -> name,
                   "start_ms" -> s, "end_ms" -> e)
      nextId
    }
    val wl = workload.map { case (n, s, e) => span("workload", n, 0L, s, e) }.getOrElse(0L)
    var driverS, schedWaitS, jobSelfS = 0.0
    var nJobs, nStages, nTasks = 0L
    var taskS, cpuS, gcS, fetchS, scanS, jobUnionS = 0.0
    var shW, shR, spill, rowsR, bytesR, rowsW, bytesW = 0L
    val skews = ArrayBuffer.empty[Double]
    for (o <- ops) {
      val os = span("call", o.name, wl, o.start, o.end)
      val js = opJobs(o).filter(j => !j.end.isNaN)
      val jobIv = js.map(j => (j.start, j.end))
      val covered = unionMs(jobIv.map { case (a, b) => (math.max(a, o.start), math.min(b, o.end)) })
      driverS += math.max(0.0, (o.end - o.start) - covered) / 1e3
      jobUnionS += covered / 1e3
      nJobs += js.size
      for (j <- js) {
        val jsId = span("job", s"job ${j.id}", os, j.start, j.end)
        val sts = stageJob.collect { case (s, jid) if jid == j.id => s }.flatMap(stages.get)
          .filter(s => !s.submitted.isNaN).toSeq.sortBy(_.submitted)
        jobSelfS += math.max(0.0, (j.end - j.start) - unionMs(sts.map(s => (s.submitted, s.completed)))) / 1e3
        for (s <- sts) {
          span("stage", s"stage ${s.id}", jsId, s.submitted, s.completed)
          nStages += 1
          nTasks += s.tasks.size
          if (s.tasks.nonEmpty) schedWaitS += math.max(0.0, s.tasks.map(_.launch).min - s.submitted) / 1e3
          val durs = s.tasks.map(_.duration)
          if (durs.size >= 2 && Stats.median(durs.toSeq) > 0) skews += durs.max / Stats.median(durs.toSeq)
          for (t <- s.tasks) {
            taskS += t.duration; cpuS += t.cpu; gcS += t.gc; fetchS += t.fetchWait
            shW += t.shuffleWrite; shR += t.shuffleRead; spill += t.spill
            rowsR += t.rowsRead; bytesR += t.bytesRead; rowsW += t.rowsWritten; bytesW += t.bytesWritten
            if (t.bytesRead > 0) scanS += t.duration
          }
        }
      }
    }
    val plan = plans.values.foldLeft(new PlanCounts)((a, b) => { a.add(b); a })
    val mb = 1024.0 * 1024.0
    val m = Map(
      "spark.jobs" -> nJobs / nOps, "spark.stages" -> nStages / nOps, "spark.tasks" -> nTasks / nOps,
      "spark.driver_s" -> driverS / nOps, "spark.sched_wait_s" -> schedWaitS / nOps,
      "spark.job_self_s" -> jobSelfS / nOps,
      "spark.task_s" -> taskS / nOps, "spark.task_cpu_s" -> cpuS / nOps, "spark.gc_s" -> gcS / nOps,
      "spark.busy_ratio" -> (if (jobUnionS > 0) taskS / (Session.Cpus * jobUnionS) else 0.0),
      "spark.shuffle_write_mb" -> shW / mb / nOps, "spark.shuffle_read_mb" -> shR / mb / nOps,
      "spark.fetch_wait_s" -> fetchS / nOps, "spark.spill_mb" -> spill / mb / nOps,
      "spark.skew_max" -> (if (skews.isEmpty) 0.0 else skews.max),
      "sources.rows_read" -> rowsR / nOps, "sources.mb_read" -> bytesR / mb / nOps,
      "sources.scan_s" -> scanS / nOps,
      "sinks.mb_written" -> bytesW / mb / nOps, "sinks.rows_written" -> rowsW / nOps,
      "sinks.files_written" -> plan.files / nOps,
      "operators.exchanges" -> plan.exchanges / nOps, "operators.broadcasts" -> plan.broadcasts / nOps,
      "operators.codegen_stages" -> plan.codegen / nOps)
    (m, spans.toSeq)
  }
}

object Tracer {
  private val FlushGroup = "perfbench-flush"
  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()

  /** Wall clock in ms on the listener events' time base, at ns resolution. */
  def nowMs(): Double = epochAtStart + (System.nanoTime() - nanoAtStart) / 1e6

  final case class Op(group: String, name: String, start: Double, end: Double)
  final case class Job(id: Int, group: String, start: Double, end: Double)
  final case class Task(launch: Double, duration: Double, cpu: Double, gc: Double,
                        shuffleWrite: Long, shuffleRead: Long, fetchWait: Double, spill: Long,
                        rowsRead: Long, bytesRead: Long, rowsWritten: Long, bytesWritten: Long)
  final class Stage(val id: Int) {
    var submitted: Double = Double.NaN
    var completed: Double = Double.NaN
    val tasks: ArrayBuffer[Task] = ArrayBuffer.empty
  }
  final class PlanCounts {
    var exchanges, broadcasts, codegen, files = 0L
    def add(o: PlanCounts): Unit = {
      exchanges += o.exchanges; broadcasts += o.broadcasts; codegen += o.codegen; files += o.files
    }
  }

  /** Length covered by the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    for ((s, e) <- iv.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** Exchanges, broadcasts, whole-stage-codegen spans and files written
    * in an executed plan, looking through adaptive query stages. */
  def countPlan(plan: SparkPlan): PlanCounts = {
    val c = new PlanCounts
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ShuffleExchangeExec => c.exchanges += 1
        case _: BroadcastExchangeExec => c.broadcasts += 1
        case _: WholeStageCodegenExec => c.codegen += 1
        case w: DataWritingCommandExec =>
          c.files += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    c
  }
}
