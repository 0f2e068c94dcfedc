package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into a layer made by the benchmark. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. While `on` is false, `span` only runs its body. */
final class Tracer(var on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private var currentOp = ""

  def op[A](name: String)(body: => A): A = {
    val prev = currentOp
    currentOp = name
    try body finally currentOp = prev
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, currentOp, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** Spark work attributed to one op: job, stage and task counts and the
  * task metrics the UI shows, plus write time per output directory.
  */
final class OpStats {
  var jobs, stages, tasks, failedTasks = 0L
  var execCpuNs, schedDelayMs, shuffleRead, shuffleWrite = 0L
  var spill, input, output = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val writeNsByPath = mutable.Map.empty[String, Long]

  /** Wall seconds during which at least one job of the op was running. */
  def jobSeconds: Double = {
    var covered = 0L
    var end = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered / 1000.0
  }
}

/** Attributes Spark jobs to the op that launched them. The benchmark
  * tags each op with the local property `Tap.OpKey`, which threads the op
  * starts inherit (a streaming query's thread keeps it even though it sets
  * its own job group); jobs from threads without the tag fall back to
  * `current`, the op the benchmark is running, which stays set until the
  * listener bus has been drained.
  */
final class Tap extends SparkListener with QueryExecutionListener {
  @volatile var current = ""
  private val byOp = mutable.Map.empty[String, OpStats]
  private val jobOp = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, String]

  private def stats(op: String) = byOp.getOrElseUpdate(op, new OpStats)

  /** Remove and return what was recorded for `op`. */
  def take(op: String): OpStats = synchronized(byOp.remove(op).getOrElse(new OpStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tap.OpKey)))
      .getOrElse(current)
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageOp(_) = op)
    stats(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (op <- jobOp.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      stats(op).jobSpans += ((t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stats(stageOp.getOrElse(e.stageInfo.stageId, current)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageOp.getOrElse(e.stageId, current))
    s.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.execCpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      if (e.taskInfo != null) s.schedDelayMs += math.max(0L, e.taskInfo.duration -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
    }
  }

  /** Write time by output directory; runs on the listener bus, which the
    * benchmark drains before it moves on to the next op.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planned = qe.executedPlan.collect { case w: DataWritingCommandExec => w.cmd }
    val path = (qe.logical.collect { case c: InsertIntoHadoopFsRelationCommand => c } ++
      planned.collect { case c: InsertIntoHadoopFsRelationCommand => c })
      .headOption.map(_.outputPath.toString)
    path.foreach { p =>
      synchronized {
        val s = stats(current)
        s.writeNsByPath(p) = s.writeNsByPath.getOrElse(p, 0L) + durationNs
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tap {
  /** Local property naming the op a job belongs to. */
  val OpKey = "perfbench.op"
}
