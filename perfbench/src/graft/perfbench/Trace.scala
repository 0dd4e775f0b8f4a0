package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One recorded span. Times are wall-clock milliseconds (the clock
  * Spark stamps its job events with) plus a nanosecond duration. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Long, startNs: Long, var endMs: Long = -1L,
    var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder around the calls the benchmark makes into
  * graft's layers. Spans are only kept while an op is traced: a traced
  * run traces every op of its count window and none after it, and
  * `trace.overhead` compares the two. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var opId = -1
  @volatile private var opSpan = -1
  @volatile private var active = false
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  private def open(name: String, parent: Int): Span = spans.synchronized {
    val s = Span(spans.size, parent, opId, name, System.currentTimeMillis(),
      System.nanoTime())
    spans += s
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
  }

  /** Start op `id`; spans are kept only when `traced`. */
  def beginOp(id: Int, name: String, traced: Boolean): Unit = {
    opId = id
    active = enabled && traced
    opSpan = if (active) open(name, -1).id else -1
  }

  def endOp(): Unit = {
    if (active) spans.synchronized(close(spans(opSpan)))
    active = false
    opSpan = -1
  }

  /** Record `f` as a child span of the innermost open span on this
    * thread (the op span for threads graft starts itself). */
  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val parent = stack.get.headOption.getOrElse(opSpan)
      val s = open(name, parent)
      stack.set(s.id :: stack.get)
      try f
      finally {
        close(s)
        stack.set(stack.get.drop(1))
      }
    }

  /** Self time per span name: duration minus the part of its interval
    * covered by its children. */
  def selfTimes: Map[String, Double] = {
    val ss = all.filter(_.endNs >= 0)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Intervals.union(kids.getOrElse(s.id, Nil)
          .map(c => (c.startNs, c.endNs)))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }
}

object Intervals {
  /** Total length of the union of [start, end) intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** What the listener saw of one Spark job. */
final class JobRec(val id: Int, val op: Int, val startMs: Long,
    val callSite: String, val stages: Set[Int]) {
  @volatile var endMs: Long = -1L
  @volatile var tasks = 0
  @volatile var shuffleBytes = 0L
  @volatile var inputBytes = 0L
  @volatile var outputBytes = 0L
  @volatile var outputRecords = 0L
}

/** The benchmark's Spark listener: jobs with their call sites, task
  * counts, shuffle, input and output bytes. A traced run registers it
  * for its count window and removes it when the window ends. It keeps
  * only jobs submitted while a traced op ran: the
  * runner tags each op's jobs through Spark local properties, which
  * Spark copies into every job's properties at submission (threads
  * graft starts inherit them), so the tag is right however late the
  * asynchronous bus delivers the event. */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      touch()
      sqlSites.put(s.executionId, s.description + "\n" + s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(JobListener.OpKey)))
      .flatMap(_.toIntOption)
    if (op.isEmpty) return
    // A job's call site is the stage name Spark gives it ("collect at
    // ChunkPlanner.scala:108") with the user stack below. Jobs that
    // adaptive execution submits from its own threads carry that
    // thread's stack instead, so a job of a SQL execution takes the
    // call site of the action that started the execution.
    val sql = props.flatMap(p => Option(p.getProperty(
        org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(_.toLongOption).flatMap(id => Option(sqlSites.get(id)))
    val site = sql.getOrElse(e.stageInfos.sortBy(-_.stageId).headOption
      .map(s => s.name + "\n" + s.details).getOrElse(""))
    val j = new JobRec(e.jobId, op.get, e.time, site, e.stageIds.toSet)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
          j.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = touch()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = touch()
  override def onTaskStart(e: SparkListenerTaskStart): Unit = touch()

  /** Wait until every started job has ended and no event arrived for
    * `quietMs` — a quiet period, not a fixed beat: the bus is
    * asynchronous, so a job's start and end can both still be queued
    * when the jobs map looks settled. */
  def drain(quietMs: Long = 500, maxMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline &&
      (System.currentTimeMillis() - lastEventMs < quietMs ||
        all.exists(_.endMs < 0)))
      Thread.sleep(25)
  }

  def all: Seq[JobRec] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toList.sortBy(_.id)
  }
}

object JobListener {
  /** Local property naming the traced op a job belongs to. */
  val OpKey = "graft.perfbench.op"
}
