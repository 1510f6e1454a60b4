package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval of a traced pass, in epoch microseconds. `parent`
  * is the span that caused it (0 for a pass root); `layer` groups spans
  * for self-time sums.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    pass: Int, start: Long, end: Long)

/** Task-level counters of one Spark job, summed over its tasks. */
final class JobCounters {
  var stages = 0; var tasks = 0; var failedTasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var inputBytes = 0L; var inputRows = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spillMem = 0L; var spillDisk = 0L; var peakExecMem = 0L
}

object Clock {
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000
}

/** Spans around the benchmark's own calls into graft's public functions,
  * plus the Spark SQL executions, jobs and stages they cause.
  *
  * A call span puts its id in the calling thread's `spark.jobGroup.id`
  * local property. Spark copies local properties into threads the
  * caller creates, so jobs that `ModelRunner` submits from its pool
  * threads carry the id of the `ModelRunner.run` span that made the pool.
  * Threads graft did not create for the call, such as the global
  * execution context `Catalog.catalogTable` reads footers on, carry no
  * id; their jobs count as unattributed.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var pass = 0

  // the write node's section of the formatted plan: its first argument is
  // the output path
  private val WriteTarget =
    """InsertIntoHadoopFsRelationCommand\s*\nInput: [^\n]*\nArguments: (\S+?),""".r
  private val GroupKey = "spark.jobGroup.id"
  private val ExecKey = "spark.sql.execution.id"

  def span[A](name: String, layer: String)(body: => A): A = {
    val id = ids.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(0L)
    val p = pass
    val prevGroup = sc.getLocalProperty(GroupKey)
    stack.set(id :: stack.get)
    sc.setLocalProperty(GroupKey, id.toString)
    val start = Clock.nowUs
    try body
    finally {
      spans.add(Span(id, parent, name, layer, p, start, Clock.nowUs))
      stack.set(stack.get.tail)
      sc.setLocalProperty(GroupKey, prevGroup)
    }
  }

  // listener side: SQL executions and jobs become child spans of the call
  // span named by their job group
  // spans made here carry pass -1: the listener runs behind the caller,
  // so their pass is resolved later through the call span that caused them
  private val execParent = mutable.Map[Long, (Long, Long, String)]()
  private val jobInfo = mutable.Map[Int, (Long, Long)]()
  private val stageJob = mutable.Map[Int, Int]()
  val jobCounters = mutable.Map[Long, JobCounters]()  // by job span id
  /** SQL executions that write files: (call span, start, end, output path). */
  val writes = mutable.ArrayBuffer[(Long, Long, Long, String)]()
  private val writeStart = mutable.Map[Long, (Long, Long, String)]()

  private def group(id: Option[String]): Long =
    id.flatMap(_.toLongOption).getOrElse(0L)

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val parent = group(s.jobGroupId)
        val node = s.sparkPlanInfo.nodeName
        execParent(s.executionId) = (parent, s.time * 1000, node)
        WriteTarget.findFirstMatchIn(s.physicalPlanDescription).foreach(m =>
          writeStart(s.executionId) = (parent, s.time * 1000, m.group(1)))
      case e: SparkListenerSQLExecutionEnd =>
        execParent.remove(e.executionId).foreach { case (parent, st, node) =>
          spans.add(Span(-e.executionId - 1, parent, node, "spark.sql", -1, st,
            e.time * 1000))
        }
        writeStart.remove(e.executionId).foreach { case (parent, st, desc) =>
          writes += ((parent, st, e.time * 1000, desc))
        }
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    val call = group(props.flatMap(p => Option(p.getProperty(GroupKey))))
    val exec = props.flatMap(p => Option(p.getProperty(ExecKey)))
      .flatMap(_.toLongOption)
    val parent = exec.filter(execParent.contains).map(x => -x - 1).getOrElse(call)
    jobInfo(j.jobId) = (parent, j.time * 1000)
    j.stageIds.foreach(s => stageJob(s) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(j.jobId).foreach { case (parent, st) =>
      spans.add(Span(jobSpan(j.jobId), parent, s"job ${j.jobId}", "spark.job",
        -1, st, j.time * 1000))
    }
  }

  private def jobSpan(jobId: Int): Long = (1L << 40) + jobId
  private def counters(stageId: Int): Option[JobCounters] =
    stageJob.get(stageId).map(j => jobCounters.getOrElseUpdate(jobSpan(j), new JobCounters))

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    counters(i.stageId).foreach(_.stages += 1)
    for (st <- i.submissionTime; en <- i.completionTime; j <- stageJob.get(i.stageId))
      spans.add(Span((2L << 40) + i.stageId * 100L + i.attemptNumber(), jobSpan(j),
        s"stage ${i.stageId}", "spark.stage", -1, st * 1000, en * 1000))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    counters(t.stageId).foreach { c =>
      c.tasks += 1
      if (!t.taskInfo.successful) c.failedTasks += 1
      val m = t.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, t.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillMem += m.memoryBytesSpilled; c.spillDisk += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.asScala.toSeq)
}

/** Time of a span tree that no child covers, summed per layer. */
object SelfTime {
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Microseconds of `interval` during which none of `busy` is open. */
  def idle(interval: (Long, Long), busy: Seq[(Long, Long)]): Long = {
    val (s, e) = interval
    val clipped = busy.map { case (a, b) => (a max s, b min e) }.filter(x => x._2 > x._1)
    (e - s) - (if (clipped.isEmpty) 0L else covered(clipped))
  }

  def byLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        idle((s.start, s.end), kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)))
      }.sum
    }
  }
}
