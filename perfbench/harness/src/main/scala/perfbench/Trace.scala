package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** In-memory span recorder. A span is (id, parent, name, start, end, run);
  * the parent is whichever span was open when this one started, so nested
  * `span` calls build the call tree. Nothing is written until [[toJson]]
  * at exit. When disabled, `span` runs the body and records nothing. */
final class Spans(runId: String) {
  import Spans.Span

  var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  /** Total seconds of the recorded spans with this exact name. */
  def seconds(name: String): Double =
    done.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def toJson: String = done.sortBy(_.id).map { s =>
    s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("\n")
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Counters for one traced pass, fed by Spark's listener bus. Jobs carry the
  * `perfbench.op` local property the harness sets around each operation,
  * so input bytes are charged to the operation that read them. */
final class PassCounters extends SparkListener {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  /** (submission, completion) epoch-ms of every completed stage. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Per stage: slowest task / mean task run time, for stages with >= 2 tasks. */
  val stageSkews = mutable.ArrayBuffer.empty[Double]
  /** Stages and tasks of jobs submitted from inside `DocSource.read`:
    * the per-path file listing, whose call site is the source itself. */
  var listTasks = 0
  val listSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val inputBytesByOp = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Root `saveAsTable` SQL executions: start time by id, and the
    * (start, end) of each finished one. Nested executions are skipped, so
    * the durations are disjoint and add up. */
  private val tableWriteStarts = mutable.Map.empty[Long, Long]
  val tableWrites = mutable.ArrayBuffer.empty[(Long, Long)]

  private val stageOp = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.OpProperty))).getOrElse("")
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages += 1
    for (s <- info.submissionTime; c <- info.completionTime) {
      stageSpans += ((s, c))
      if (info.name.contains("DocSource.scala")) {
        listSpans += ((s, c))
        listTasks += info.numTasks
      }
    }
    stageTaskMs.remove(info.stageId).foreach { ms =>
      if (ms.size >= 2 && ms.sum > 0) stageSkews += ms.max.toDouble / (ms.sum.toDouble / ms.size)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      inputBytesByOp(stageOp.getOrElse(e.stageId, "")) += m.inputMetrics.bytesRead
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) && s.description.contains("saveAsTable") =>
        tableWriteStarts(s.executionId) = s.time
      case end: SparkListenerSQLExecutionEnd =>
        tableWriteStarts.remove(end.executionId).foreach(t0 => tableWrites += ((t0, end.time)))
      case _ =>
    }
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' || c > '~' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
