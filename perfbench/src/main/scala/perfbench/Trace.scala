package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** `file:` filesystem that counts the calls made on it: opens, creates,
  * listings, status probes, deletes, renames and mkdirs, from the driver
  * and from tasks alike. Installed through `spark.hadoop.fs.file.impl`
  * in the traced run only; spans read the global counter at their
  * boundaries. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.hit
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { hit(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = { hit(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { hit(); super.getFileStatus(f) }
  override def delete(f: Path, recursive: Boolean): Boolean = { hit(); super.delete(f, recursive) }
  override def rename(src: Path, dst: Path): Boolean = { hit(); super.rename(src, dst) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { hit(); super.mkdirs(f, permission) }
}

object CountingLocalFileSystem {
  val calls = new AtomicLong()
  def hit(): Unit = calls.incrementAndGet()
}

/** What the executed plans of one span did, from their SQL metrics. */
final case class PlanCounts(joinRows: Long, filesRead: Long, generateRows: Long)

/** Work the jobs of one span (or one phase of a span) did, from the
  * listener's job, stage and task events. */
final case class Work(s: Double, driverS: Double, jobs: Int, tasks: Long, taskS: Double,
    maxTaskS: Double, shuffleBytes: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long, plans: PlanCounts, fsCalls: Long) {
  def coreUtil(cores: Int): Double = if (s <= 0) 0.0 else taskS / (s * cores)
}

object Work {
  val empty: Work = Work(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, PlanCounts(0, 0, 0), 0)
}

/** Span recorder for the traced run. A span is one call from the
  * benchmark into a layer: name, parent, wall interval. Its jobs are
  * tied to it through the `perfbench.span` local property, which Spark
  * copies into every job's properties (AQE stage jobs included); tasks
  * follow their stage's job. Executed plans are tied to the span whose
  * accumulator-id window holds the plan's newest SQL metric id, because
  * metric ids are handed out in creation order and a plan is created
  * inside the call that runs it. Spans stay in memory and are written to
  * one file by [[writeSpans]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong()

  final class Span(val id: Long, val name: String, val parent: Long, val startMs: Long,
      val accFrom: Long, val fsFrom: Long) {
    var endMs: Long = -1L
    var accTo: Long = Long.MaxValue
    var fsTo: Long = -1L
    def wallS: Double = (endMs - startMs) / 1000.0
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val execs = new ConcurrentHashMap[Long, (String, Long, Long)]() // details, start, end
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()

  private def newAccId(): Long = sc.longAccumulator.id

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanProp).map(_.toLong).getOrElse(-1L)
      val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(e.jobId, span, exec, e.time, e.stageIds))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        val d = e.taskInfo.duration
        a.taskMs += d
        a.maxTaskMs = math.max(a.maxTaskMs, d)
        Option(e.taskMetrics).foreach { m =>
          a.shuffle += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, (s.details, s.time, -1L))
      case x: SparkListenerSQLExecutionEnd =>
        Option(execs.get(x.executionId)).foreach(v => execs.put(x.executionId, (v._1, v._2, x.time)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(PlanRec.tupled(planRecOf(qe.executedPlan)))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `body` as a span named `name`, nested in the current span. */
  def span[A](name: String)(body: => A): A = {
    val parent = current
    val s = new Span(nextId.incrementAndGet(), name, parent.map(_.id).getOrElse(0L),
      System.currentTimeMillis(), newAccId(), CountingLocalFileSystem.calls.get())
    spans.synchronized(spans += s)
    current = Some(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.accTo = newAccId()
      s.fsTo = CountingLocalFileSystem.calls.get()
      s.endMs = System.currentTimeMillis()
      current = parent
      sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
    }
  }

  def spansNamed(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toSeq)

  private def subtree(s: Span): Set[Long] = {
    val all = spans.synchronized(spans.toSeq)
    var ids = Set(s.id)
    var grew = true
    while (grew) {
      val more = all.filter(x => ids(x.parent)).map(_.id).toSet -- ids
      grew = more.nonEmpty
      ids ++= more
    }
    ids
  }

  private def jobsOf(s: Span): Seq[JobRec] = {
    val ids = subtree(s)
    jobs.values.asScala.filter(j => ids(j.span)).toSeq
  }

  /** Everything one span's jobs and plans did. */
  def work(s: Span): Work = {
    val all = spans.synchronized(spans.toSeq)
    val ids = subtree(s)
    // a plan belongs to the innermost span whose id window holds it
    val mine = plans.asScala.filter { p =>
      val holders = all.filter(x => x.accFrom < p.maxAccId && p.maxAccId < x.accTo)
      holders.nonEmpty && ids(holders.maxBy(_.accFrom).id)
    }.toSeq
    workOf(jobsOf(s), s.wallS, mine.map(_.counts), s.fsTo - s.fsFrom)
  }

  /** The jobs of span `s` split by the SQL execution's call site: each
    * job goes to the first phase whose predicate holds for the long call
    * site of the query that ran it. Wall time of a phase is the summed
    * duration of its SQL executions. */
  def phases(s: Span, classify: String => String): Map[String, Work] = {
    val js = jobsOf(s)
    def detailsOf(j: JobRec) = Option(execs.get(j.execId)).map(_._1).getOrElse("")
    js.groupBy(j => classify(detailsOf(j))).map { case (phase, pj) =>
      val execIds = pj.map(_.execId).filter(_ >= 0).distinct
      val wall = execIds.flatMap(id => Option(execs.get(id))).map { case (_, st, en) =>
        if (en >= st) (en - st) / 1000.0 else 0.0
      }.sum
      phase -> workOf(pj, wall, Nil, 0L)
    }
  }

  private def workOf(js: Seq[JobRec], wallS: Double, pc: Seq[PlanCounts], fs: Long): Work = {
    // a stage counts for the job that first listed it: later jobs list
    // it again as skipped when they reuse its shuffle output
    val ids = js.map(_.id).toSet
    val st = js.flatMap(_.stages).distinct
      .filter(s => Option(stageJob.get(s)).exists(j => ids(j)))
      .flatMap(s => Option(stages.get(s)))
    val covered = coveredMs(js.map(j => (j.startMs, if (j.endMs >= 0) j.endMs else j.startMs)))
    Work(
      s = wallS,
      driverS = math.max(0.0, wallS - covered / 1000.0),
      jobs = js.size,
      tasks = st.map(_.tasks).sum,
      taskS = st.map(_.taskMs).sum / 1000.0,
      maxTaskS = if (st.isEmpty) 0.0 else st.map(_.maxTaskMs).max / 1000.0,
      shuffleBytes = st.map(_.shuffle).sum,
      spillBytes = st.map(_.spill).sum,
      inputBytes = st.map(_.input).sum,
      outputBytes = st.map(_.output).sum,
      plans = PlanCounts(pc.map(_.joinRows).sum, pc.map(_.filesRead).sum, pc.map(_.generateRows).sum),
      fsCalls = fs)
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** One JSON object per span (id, parent, name, start, end, self time:
    * duration minus the part of it its child spans cover). */
  def writeSpans(path: String): Unit = {
    val all = spans.synchronized(spans.toSeq)
    val lines = all.map { s =>
      val covered = coveredMs(all.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)))
      val self = ((s.endMs - s.startMs) - covered) / 1000.0
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "self_s" -> self)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  private final case class JobRec(id: Int, span: Long, execId: Long, startMs: Long, stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }

  private final class StageAgg {
    var tasks = 0L
    var taskMs = 0L
    var maxTaskMs = 0L
    var shuffle = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
  }

  private final case class PlanRec(maxAccId: Long, counts: PlanCounts)

  /** Length of the union of [start, end] intervals, in ms. */
  def coveredMs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    covered
  }

  /** Walk an executed plan through AQE wrappers, query stages, reused
    * exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  /** The newest SQL metric id of a plan, and what its joins, file scans
    * and generators counted. */
  private[perfbench] def planRecOf(plan: SparkPlan): (Long, PlanCounts) = {
    val ns = nodes(plan)
    val maxId = ns.flatMap(_.metrics.values.map(_.id)).foldLeft(-1L)(math.max)
    val joins = ns.collect { case j: BaseJoinExec => metric(j, "numOutputRows") }.sum
    val files = ns.collect { case f: FileSourceScanExec => metric(f, "numFiles") }.sum
    val gen = ns.collect { case g: GenerateExec => metric(g, "numOutputRows") }.sum
    (maxId, PlanCounts(joins, files, gen))
  }
}
