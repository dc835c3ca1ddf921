package lakebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.rules.RuleExecutor

import scala.collection.mutable

/** One recorded interval: a layer call made by the benchmark, or a Spark
  * job reported by the listener (`exec.job`). Times are `System.nanoTime`.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, pass: Int,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. When off, `span` only runs its body and the
  * counters stay empty, so the untraced run pays nothing for it.
  */
final class Tracer {
  var on = false
  var op = -1
  var pass = -1
  private var nextId = 0
  private var stack = List.empty[Int]
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def newId(): Int = { nextId += 1; nextId }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, op, pass, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def add(counter: String, v: Double): Unit = if (on) counters(counter) += v
}

/** Per-job totals gathered from the scheduler's events. Tasks are charged
  * to the job that owns their stage.
  */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = startMs
  var stages, tasks = 0
  var taskMs, inBytes, inRows, shuffleWrite, spill, gcMs, outBytes, outRows = 0L
}

final class ExecListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.inBytes += m.inputMetrics.bytesRead
      j.inRows += m.inputMetrics.recordsRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.gcMs += m.jvmGCTime
      j.outBytes += m.outputMetrics.bytesWritten
      j.outRows += m.outputMetrics.recordsWritten
    }
  }
  def take(): Seq[JobRec] = synchronized {
    val r = jobs.values.toSeq
    jobs.clear(); stageJob.clear()
    r
  }
}

/** Catalyst's own rule metering (always on inside `RuleExecutor`): reset
  * before a traced pass, read after it.
  */
object RuleMeter {
  private val Line = """^(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r

  def reset(): Unit = RuleExecutor.resetMetrics()

  /** (rule name → total ns) from the meter's dump. */
  def read(): Map[String, Long] =
    RuleExecutor.dumpTimeSpent().split("\n").toSeq.map(_.trim).collect {
      case Line(rule, _, total, _, _) => rule -> total.toLong
    }.toMap
}

/** Interval arithmetic over nanosecond intervals. */
object Intervals {
  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (a max lo, b min hi) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
