package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds read off a monotonic
  * clock, so they line up with the listener's job times. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, op: String)

/** One timed op as the trace saw it: its window runs from `startMs` to
  * `endMs`; `closeMs` is when the listener bus had drained after it. */
final case class OpWindow(id: String, kind: String, key: String,
                          startMs: Double, endMs: Double, closeMs: Double)

final class JobRec(val id: Int, val group: String, val startMs: Long,
                   val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Task metrics folded per stage (all attempts). */
final class StageRec {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var delayMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** File-scan counters of one query execution, read off its executed plan. */
final case class ScanRec(op: String, filesRead: Long, filesTotal: Long,
                         bytesRead: Long, rowsRead: Long)

/** Collects Spark's job/stage/task events; lives only in traced runs. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new JobRec(e.jobId, group, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.computeIfAbsent(e.stageId, _ => new StageRec)
    val i = e.taskInfo
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.durations += i.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val gettingResult =
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        s.delayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }
}

/** Records the file scans of every query execution, tagged with the op that
  * was open when it finished. */
final class ScanListener(tracer: Tracer) extends QueryExecutionListener {
  val scans = new ConcurrentLinkedQueue[ScanRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val op = tracer.currentOp
    if (op != null) ScanListener.fileScans(qe.executedPlan).foreach { s =>
      def metric(name: String) = s.metrics.get(name).map(_.value).getOrElse(0L)
      scans.add(ScanRec(op, metric("numFiles"),
        s.relation.location.inputFiles.length.toLong, metric("filesSize"),
        metric("numOutputRows")))
    }
  }
}

object ScanListener {
  /** Every file scan in a finished plan, looking through adaptive plans,
    * query stages, command wrappers and subqueries; reused exchanges are
    * skipped so a scan is counted once. */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] = {
    def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case _: ReusedExchangeExec => Iterator.empty
      case o => Iterator.single(o) ++
        (o.children.iterator ++ o.subqueries.iterator).flatMap(nodes)
    }
    nodes(plan).collect { case s: FileSourceScanExec => s }.toSeq
  }
}

/**
 * In-memory span recorder for a traced run; its listeners receive events
 * only between [[attach]] and [[detach]]. Each op sets a Spark job group
 * equal to its id, so the listeners' jobs and stages join the op; jobs that
 * run outside their op's group (driver threads that kept a stale or no group)
 * are attributed by time window and counted as unattributed.
 */
final class Tracer(spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val windows = mutable.ArrayBuffer.empty[OpWindow]
  val jobs = new JobListener
  val scans = new ScanListener(this)
  @volatile var currentOp: String = _

  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(f: => T): T = {
    val id = spans.size
    spans += null
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = nowMs
    try f
    finally {
      stack = stack.tail
      spans(id) = Span(id, name, start, nowMs, parent, currentOp)
    }
  }

  /** Runs one op as a root span; after it, drains the listener bus while the
    * op is still current so late query-execution callbacks join it. */
  def op[T](id: String, kind: String, key: String)(f: => T): T = {
    currentOp = id
    val start = nowMs
    var end = start
    try span(s"op.$kind")(try f finally end = nowMs)
    finally {
      PerfbenchAccess.drainListeners(spark.sparkContext)
      windows += OpWindow(id, kind, key, start, end, nowMs)
      currentOp = null
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(scans)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(scans)
  }

  def spanRecords: Seq[Span] = spans.toSeq

  /** Per-op layer figures for every traced op, plus the number of jobs that
    * had to be attributed by time window. */
  def attribute(): (Seq[OpStats], Int) = {
    val ops = windows.toSeq
    val byId = ops.map(w => w.id -> w).toMap
    def inWindow(w: OpWindow, t: Double) = t >= w.startMs - 1 && t <= w.closeMs + 1
    var unattributed = 0
    val jobsByOp = mutable.Map.empty[String, mutable.ArrayBuffer[JobRec]]
    jobs.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val owner = Option(j.group).flatMap(byId.get).filter(inWindow(_, j.startMs.toDouble))
      val op = owner.orElse {
        val byTime = ops.find(inWindow(_, j.startMs.toDouble))
        if (byTime.isDefined) unattributed += 1
        byTime
      }
      op.foreach(w => jobsByOp.getOrElseUpdate(w.id, mutable.ArrayBuffer.empty) += j)
    }
    // a stage listed by several jobs ran its tasks in the first of them
    val stageOwner = mutable.Map.empty[Int, Int]
    jobs.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      j.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = j.id)
    }
    val scansByOp = scans.scans.asScala.toSeq.groupBy(_.op)
    val stats = ops.map { w =>
      val js = jobsByOp.getOrElse(w.id, mutable.ArrayBuffer.empty).toSeq
      val stageRecs = js.flatMap(j => j.stageIds.filter(stageOwner.get(_).contains(j.id)))
        .flatMap(s => Option(jobs.stages.get(s)))
      val covered = unionMs(js.map { j =>
        val end = if (j.endMs < 0) w.endMs else j.endMs.toDouble
        (math.max(j.startMs.toDouble, w.startMs), math.min(end, w.endMs))
      })
      val skews = stageRecs.filter(_.durations.size >= 2).map { s =>
        val d = s.durations.sorted
        d.last.toDouble / math.max(1L, d(d.size / 2)).toDouble
      }
      val sc = scansByOp.getOrElse(w.id, Nil)
      OpStats(w, js.size, stageRecs.map(_.tasks).sum, stageRecs.map(_.runMs).sum,
        stageRecs.map(_.cpuNs).sum / 1e6, stageRecs.map(_.gcMs).sum,
        stageRecs.map(_.delayMs).sum, stageRecs.map(_.shuffleWrite).sum,
        stageRecs.map(_.shuffleRead).sum, stageRecs.map(_.spill).sum, skews,
        w.endMs - w.startMs - covered, sc.size, sc.map(_.filesRead).sum,
        sc.map(_.filesTotal).sum, sc.map(_.bytesRead).sum, sc.map(_.rowsRead).sum,
        stageDetail(js, stageOwner, stageRecs.size))
    }
    (stats, unattributed)
  }

  private def stageDetail(js: Seq[JobRec], owner: collection.Map[Int, Int],
                          n: Int): Seq[StageView] =
    if (n == 0) Nil
    else {
      val lastJob = js.map(_.id).max
      js.sortBy(_.id).flatMap { j =>
        j.stageIds.sorted.filter(owner.get(_).contains(j.id)).flatMap { s =>
          Option(jobs.stages.get(s)).map(r => StageView(j.id == lastJob, r))
        }
      }
    }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class StageView(inLastJob: Boolean, rec: StageRec)

final case class OpStats(window: OpWindow, jobs: Int, tasks: Long, taskRunMs: Long,
                         taskCpuMs: Double, gcMs: Long, schedulerDelayMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         skews: Seq[Double], driverSelfMs: Double, scanQueries: Int,
                         filesRead: Long, filesTotal: Long, bytesRead: Long,
                         rowsRead: Long, stages: Seq[StageView]) {
  def wallMs: Double = window.endMs - window.startMs
}
