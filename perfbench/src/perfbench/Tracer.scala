package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans come from the harness's own calls into
  * each layer (pass, query, operator, probe); Spark jobs join them as child
  * spans through a local property the job inherits. A SparkListener and a
  * QueryExecutionListener add counts and busy/wait times. Everything stays
  * in memory and is written out when the run ends.
  *
  * Listener events arrive asynchronously, so the harness drains the bus
  * before switching between the traced loop and the probes: every event
  * processed while `inLoop` holds belongs to a traced pass. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with Spans {

  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime
  private val epochMs0 = System.currentTimeMillis
  private def msToNs(ms: Long): Long = (ms - epochMs0) * 1000000L + nano0

  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      start: Long, var end: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var pass = -1
  @volatile var inLoop = false

  def startPass(p: Int): Unit = pass = p
  def endPass(): Unit = pass = -1

  def span[T](name: String)(body: => T): T = {
    val s = spans.synchronized {
      val sp = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        pass, System.nanoTime, -1L)
      spans += sp
      sp
    }
    stack = s :: stack
    sc.setLocalProperty("perfbench.span", s.id.toString)
    sc.setLocalProperty("perfbench.pass", pass.toString)
    try body
    finally {
      s.end = System.nanoTime
      stack = stack.tail
      sc.setLocalProperty("perfbench.span",
        stack.headOption.map(_.id.toString).orNull)
      sc.setLocalProperty("perfbench.pass",
        if (stack.isEmpty) null else pass.toString)
    }
  }

  // ---- listener state (listener-bus thread) ----------------------------

  /** Loop totals of the traced passes. */
  final class Totals {
    var jobs, stages, tasks, tasksFailed = 0L
    var taskRunMs, taskCpuNs, taskWaitMs, gcMs = 0L
    var shuffleWrite, spill, stagedBytes, stagedBlocks = 0L
    var planMs, xmlParseNodes = 0L
  }
  val loop = new Totals
  private val outside = new Totals // events of the probes, not reported
  private def totals = if (inLoop) loop else outside

  final case class Job(id: Int, span: Int, pass: Int, start: Long,
      var end: Long)
  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p =>
      Option(p.getProperty(k))).map(_.toInt).getOrElse(-1)
    val j = Job(e.jobId, prop("perfbench.span"), prop("perfbench.pass"),
      msToNs(e.time), -1L)
    jobs += j
    jobById(e.jobId) = j
    totals.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.end = msToNs(e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmitted(e.stageInfo.stageId) = t)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      totals.stages += 1
      stageSubmitted.remove(e.stageInfo.stageId)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals
    t.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) t.tasksFailed += 1
    stageSubmitted.get(e.stageId).foreach(s =>
      t.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      t.taskRunMs += m.executorRunTime
      t.taskCpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        totals.stagedBytes += b.memSize + b.diskSize
        totals.stagedBlocks += 1
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val t = totals
    t.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    t.xmlParseNodes += Tracer.xmlParseNodes(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  // ---- derived numbers ---------------------------------------------------

  /** Union length of [start, end) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Pass wall minus the union of its job intervals, summed over passes. */
  def driverGapNs: Long = {
    val byPass = jobs.filter(j => j.end > 0 && j.pass >= 0).groupBy(_.pass)
    spans.filter(s => s.name == "pass" && s.end > 0).map { p =>
      val iv = byPass.getOrElse(p.pass, Nil).map(j =>
        (math.max(j.start, p.start), math.min(j.end, p.end)))
      (p.end - p.start) - union(iv.toSeq)
    }.sum
  }

  /** Calls, total seconds and jobs of every harness span named `name`,
    * jobs counted through nested spans. */
  def spanStats(name: String): (Int, Double, Int) = {
    val ss = spans.filter(s => s.name == name && s.end > 0)
    val ids = ss.map(_.id).toSet
    val parent = spans.map(s => s.id -> s.parent).toMap
    def under(id: Int): Boolean =
      id >= 0 && (ids.contains(id) || under(parent.getOrElse(id, -1)))
    (ss.size, ss.map(s => (s.end - s.start) / 1e9).sum,
      jobs.count(j => under(j.span)))
  }

  /** Self seconds by span name: duration minus what child spans and jobs
    * cover. Jobs appear as `spark.job`. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val kids = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    spans.filter(_.end > 0).foreach(s =>
      kids.getOrElseUpdate(s.parent, mutable.ArrayBuffer.empty) += (s.start -> s.end))
    jobs.filter(_.end > 0).foreach(j =>
      kids.getOrElseUpdate(j.span, mutable.ArrayBuffer.empty) += (j.start -> j.end))
    val rows = spans.filter(_.end > 0).map { s =>
      val iv = kids.getOrElse(s.id, Nil).map { case (a, b) =>
        (math.max(a, s.start), math.min(b, s.end)) }
      (s.name, (s.end - s.start) / 1e9, (s.end - s.start - union(iv.toSeq)) / 1e9)
    } ++ jobs.filter(_.end > 0).map(j =>
      ("spark.job", (j.end - j.start) / 1e9, (j.end - j.start) / 1e9))
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, rs) =>
      (n, rs.size, rs.map(_._2).sum, rs.map(_._3).sum)
    }
  }

  /** Spans and jobs as JSON-ready maps, times in ms from the tracer start. */
  def spanRecords: Seq[java.util.Map[String, Any]] = {
    def rec(id: Any, name: String, parent: Int, pass: Int, s: Long, e: Long) = {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", id); m.put("name", name); m.put("parent", parent)
      m.put("pass", pass)
      m.put("start_ms", (s - nano0) / 1e6); m.put("end_ms", (e - nano0) / 1e6)
      m
    }
    spans.filter(_.end > 0).map(s =>
      rec(s.id, s.name, s.parent, s.pass, s.start, s.end)).toSeq ++
      jobs.filter(_.end > 0).map(j =>
        rec(s"job-${j.id}", "spark.job", j.span, j.pass, j.start, j.end))
  }
}

object Tracer {
  private def isGraftXml(e: Expression) =
    e.getClass.getName.startsWith("graft.xml.")

  /** XML parse expressions in an executed plan: graft.xml expressions plus
    * bare `from_xml` (one wrapped by a graft memo counts once). Descends
    * into adaptive plans and query stages; reused exchanges and cached
    * inputs are not this query's work and are skipped. */
  def xmlParseNodes(plan: SparkPlan): Long = {
    def inExpr(e: Expression, underGraft: Boolean): Long = {
      val graft = isGraftXml(e)
      val self = if (graft || (!underGraft &&
        e.getClass.getSimpleName == "XmlToStructs")) 1L else 0L
      self + e.children.map(inExpr(_, graft)).sum
    }
    def walk(p: SparkPlan): Long = {
      val own = p.expressions.map(inExpr(_, underGraft = false)).sum
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children
      }
      own + kids.map(walk).sum
    }
    walk(plan)
  }
}
