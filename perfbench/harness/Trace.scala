package perfbench

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** In-memory span recorder for the traced run. One client thread drives
  * the program, so the open-span stack is a plain list. The innermost
  * open span id rides every Spark job as a local property, which is how
  * jobs, stages and tasks are attributed to the call that caused them.
  */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Int, name: String, parent: Int, iter: Int,
                        startUs: Long, var endUs: Long)

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var iter: Int = -1

  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size + 1, name, stack.headOption.getOrElse(0), iter, nowUs, 0L)
    spans += s
    stack = s.id :: stack
    sc.setLocalProperty(Tracer.Prop, s.id.toString)
    try f
    finally {
      s.endUs = nowUs
      stack = stack.tail
      sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.toString).orNull)
    }
  }

  def toJson: String = spans.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
      "start_us" -> s.startUs, "end_us" -> s.endUs)
  }.mkString("[", ",", "]")
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Scheduler-side counters, aggregated per job and tagged with the span
  * that submitted the job. Registered from outside the program.
  */
final class JobListener extends SparkListener {
  final class Agg {
    var stages = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var waitMs = 0L; var inBytes = 0L; var outBytes = 0L; var outRecords = 0L
    var shufWrite = 0L; var shufRead = 0L; var shufRecords = 0L; var spill = 0L
  }
  final case class Job(span: String, agg: Agg)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop))).getOrElse("0")
    jobs(e.jobId) = Job(span, new Agg)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  private def agg(stageId: Int): Option[Agg] =
    stageJob.get(stageId).flatMap(jobs.get).map(_.agg)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    agg(e.stageId).foreach { a =>
      a.tasks += 1
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
        a.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.inBytes += m.inputMetrics.bytesRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.shufRecords += m.shuffleWriteMetrics.recordsWritten
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
      }
    }
  }

  def toJson: String = synchronized {
    jobs.map { case (id, j) =>
      val a = j.agg
      Json.obj("job" -> id, "span" -> j.span.toInt, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_ms" -> a.runMs, "task_cpu_ms" -> a.cpuNs / 1e6, "sched_wait_ms" -> a.waitMs,
        "bytes_read" -> a.inBytes, "bytes_written" -> a.outBytes,
        "records_written" -> a.outRecords, "shuffle_write" -> a.shufWrite,
        "shuffle_read" -> a.shufRead, "shuffle_records" -> a.shufRecords,
        "spill" -> a.spill)
    }.mkString("[", ",", "]")
  }
}

/** Catalyst phase times (QueryPlanningTracker) per executed action. */
final class PhaseListener extends QueryExecutionListener {
  private val rows = mutable.ArrayBuffer.empty[String]

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
    rows += Json.obj("start_ms" -> start,
      "analysis_ms" -> ms(QueryPlanningTracker.ANALYSIS),
      "optimization_ms" -> ms(QueryPlanningTracker.OPTIMIZATION),
      "planning_ms" -> ms(QueryPlanningTracker.PLANNING))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def toJson: String = synchronized(rows.mkString("[", ",", "]"))
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case Raw(j) => j
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Pre-rendered JSON embedded as is. */
  final case class Raw(json: String)
}

object Props {
  def load(path: String): Properties = {
    val p = new Properties()
    val in = new java.io.FileInputStream(path)
    try p.load(new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
    p
  }
}
