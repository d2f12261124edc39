package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into the program, as the harness saw it: `phase` is
  * `build` (constructing the DataFrame / Dataset) or `exec` (the action
  * that forces it). Its Spark jobs carry the job group `group`.
  */
final case class Span(pass: Int, item: String, phase: String, group: String,
    startMs: Long, endMs: Long)

/** Everything the Spark scheduler and SQL layer report while tracing is
  * on, kept in memory. Events arrive on Spark's listener bus thread;
  * every read happens after [[org.apache.spark.perfbench.Bus.drain]].
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  final case class Job(group: String, callSite: String, stages: Seq[Int])
  final case class Stage(id: Int, isMap: Boolean, submitMs: Long, endMs: Long)
  final case class Task(stage: Int, launchMs: Long, endMs: Long, attempt: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, shWriteB: Long, shWriteRec: Long,
      shReadB: Long, spillB: Long, peakMemB: Long, outB: Long,
      accums: Map[Long, Long])

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  /** analysis + optimization + planning milliseconds per query execution */
  val planMs = mutable.ArrayBuffer.empty[Long]
  /** stages whose tasks write shuffle output (the map side) */
  private val mapStages = mutable.Set.empty[Int]
  /** SQL metric ids counting the rows a shuffle's map side produced
    * before any map-side combine (see [[mapSideRows]]) */
  val mapRowAccums = mutable.Set.empty[Long]
  /** call site of each SQL execution's action, for the jobs it launches
    * from other threads (adaptive query stages) */
  private val executionSite = mutable.Map.empty[Long, String]

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); planMs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // a job's call site ("<method> at File.scala:N") is its SQL
    // execution's, else its result stage's name
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSite.get(id.toLong))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
    jobs += Job(group, site, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, mapStages.contains(i.stageId),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    if (e.taskType == "ShuffleMapTask") mapStages += e.stageId
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    val accums = ti.accumulables.iterator.collect {
      case a if mapRowAccums.contains(a.id) && a.update.exists(_.isInstanceOf[Long]) =>
        a.id -> a.update.get.asInstanceOf[Long]
    }.toMap
    tasks += Task(e.stageId, ti.launchTime, ti.finishTime, ti.attemptNumber,
      metric(_.executorRunTime), metric(_.executorCpuTime), metric(_.jvmGCTime),
      metric(_.shuffleWriteMetrics.bytesWritten),
      metric(_.shuffleWriteMetrics.recordsWritten),
      metric(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      metric(_.diskBytesSpilled), metric(_.peakExecutionMemory),
      metric(_.outputMetrics.bytesWritten), accums)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { executionSite(s.executionId) = s.description }
      mapSideRows(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => mapSideRows(u.sparkPlanInfo)
    case _ =>
  }

  /** Record, for every shuffle exchange in a physical plan, the SQL
    * metric that counts the records its map side produced: below a
    * map-side (partial) aggregate, the row count of the first operator
    * under it that has one; otherwise the exchange's own records
    * written (no combine, so every record is shuffled).
    */
  private def mapSideRows(plan: SparkPlanInfo): Unit = synchronized {
    def rows(n: SparkPlanInfo) = n.metrics.find(_.name == "number of output rows").map(_.accumulatorId)
    def firstRows(n: SparkPlanInfo): Option[Long] =
      rows(n).orElse(n.children.iterator.map(firstRows).collectFirst { case Some(id) => id })
    def skipWrappers(n: SparkPlanInfo): SparkPlanInfo =
      if ((n.nodeName.startsWith("WholeStageCodegen") || n.nodeName == "InputAdapter") &&
          n.children.size == 1) skipWrappers(n.children.head)
      else n
    def walk(n: SparkPlanInfo): Unit = {
      if (n.nodeName == "Exchange") n.children.headOption.map(skipWrappers).foreach { c =>
        val id =
          if (c.nodeName.contains("Aggregate")) c.children.iterator.map(firstRows).collectFirst { case Some(i) => i }
          else None
        id.orElse(n.metrics.find(_.name == "shuffle records written").map(_.accumulatorId))
          .foreach(mapRowAccums += _)
      }
      n.children.foreach(walk)
    }
    walk(plan)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val p = qe.tracker.phases
      planMs += Seq("analysis", "optimization", "planning").flatMap(p.get).map(_.durationMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-layer figures of one traced pass, named after the program's
  * modules (see perfbench/README.md for what each should move).
  */
object Layers {
  def of(t: Tracer, spans: Seq[Span], passStartMs: Long, passEndMs: Long,
      cores: Int): Map[String, Double] = t.synchronized {
    val jobGroup = t.jobs.iterator.flatMap(j => j.stages.map(_ -> j.group)).toMap
    val buildJobs = t.jobs.filter(_.group.endsWith("/build"))
    val wallS = (passEndMs - passStartMs) / 1e3
    val tasks = t.tasks.toSeq
    val stageById = t.stages.iterator.map(s => s.id -> s).toMap
    val firstLaunch = tasks.groupBy(_.stage).view.mapValues(_.map(_.launchMs).min).toMap
    val waitMs = firstLaunch.iterator.map { case (sid, launch) =>
      stageById.get(sid).map(s => (launch - s.submitMs).max(0L)).getOrElse(0L)
    }.sum
    // pass time with no task running: wall minus the union of task intervals
    val busyMs = tasks.map(x => (x.launchMs.max(passStartMs), x.endMs.min(passEndMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach) else (acc + b - a.max(reach), b)
      }._1
    val lastTaskEnd = tasks.groupBy(x => jobGroup.getOrElse(x.stage, "")).view
      .mapValues(_.map(_.endMs).max).toMap
    val commitMs = spans.filter(_.phase == "exec").map { s =>
      lastTaskEnd.get(s.group).map(e => (s.endMs - e).max(0L)).getOrElse(0L)
    }.sum
    def spanS(phase: String) = spans.filter(_.phase == phase).map(s => s.endMs - s.startMs).sum / 1e3
    val mapRows = tasks.iterator.flatMap(_.accums.valuesIterator).sum
    val shRec = tasks.map(_.shWriteRec).sum
    val mb = 1024.0 * 1024.0
    Map(
      "build.s" -> spanS("build"),
      "build.jobs" -> buildJobs.size.toDouble,
      "tables.infer_jobs" -> buildJobs.count(_.callSite.contains(" at Tables.scala:")).toDouble,
      "materialize.staging_jobs" -> t.jobs.count(_.callSite.contains(" at Materialize.scala:")).toDouble,
      "plan.s" -> t.planMs.sum / 1e3,
      "sched.jobs" -> t.jobs.size.toDouble,
      "sched.stages" -> t.stages.size.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.task_retries" -> tasks.count(_.attempt > 0).toDouble,
      "sched.wait_s" -> waitMs / 1e3,
      "sched.driver_gap_s" -> (wallS - busyMs / 1e3).max(0.0),
      "exec.s" -> spanS("exec"),
      "exec.busy_frac" -> (if (wallS > 0) tasks.map(_.runMs).sum / 1e3 / (wallS * cores) else 0.0),
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "shuffle.write_mb" -> tasks.map(_.shWriteB).sum / mb,
      "shuffle.read_mb" -> tasks.map(_.shReadB).sum / mb,
      "shuffle.records_ratio" -> (if (mapRows > 0) shRec.toDouble / mapRows else 0.0),
      "shuffle.spill_mb" -> tasks.map(_.spillB).sum / mb,
      "shuffle.peak_exec_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMemB).max / mb),
      "mrjob.map_stage_s" -> t.stages.filter(_.isMap).map(s => s.endMs - s.submitMs).sum / 1e3,
      "mrjob.reduce_stage_s" -> t.stages.filterNot(_.isMap).map(s => s.endMs - s.submitMs).sum / 1e3,
      "commit.job_commit_s" -> commitMs / 1e3,
      "commit.output_mb" -> tasks.map(_.outB).sum / mb,
    )
  }

  /** Jobs, stages and tasks per item (query or job) of a traced pass,
    * and its build jobs by call site. */
  def perItem(t: Tracer): Seq[(String, Map[String, Int], Map[String, Int])] = t.synchronized {
    val stageToItem = mutable.Map.empty[Int, String]
    val byItem = t.jobs.groupBy(j => j.group.split('/').lift(1).getOrElse(""))
    t.jobs.foreach(j => j.stages.foreach(s => stageToItem(s) = j.group.split('/').lift(1).getOrElse("")))
    val stagesRun = t.stages.groupBy(s => stageToItem.getOrElse(s.id, "")).view.mapValues(_.size).toMap
    val tasksRun = t.tasks.groupBy(x => stageToItem.getOrElse(x.stage, "")).view.mapValues(_.size).toMap
    byItem.toSeq.filter(_._1.nonEmpty).sortBy(_._1).map { case (item, js) =>
      (item, Map(
        "build_jobs" -> js.count(_.group.endsWith("/build")),
        "exec_jobs" -> js.count(_.group.endsWith("/exec")),
        "infer_jobs" -> js.count(j => j.group.endsWith("/build") && j.callSite.contains(" at Tables.scala:")),
        "staging_jobs" -> js.count(_.callSite.contains(" at Materialize.scala:")),
        "stages" -> stagesRun.getOrElse(item, 0),
        "tasks" -> tasksRun.getOrElse(item, 0)),
        js.filter(_.group.endsWith("/build")).groupBy(_.callSite).view.mapValues(_.size).toMap)
    }
  }
}
