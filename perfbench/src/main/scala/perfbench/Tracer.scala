package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval around a public graft call (times in epoch ms). */
final case class Span(id: Int, name: String, parent: Int, runId: String, pass: Int,
                      startMs: Double, endMs: Double)

/** What one Spark job cost, attributed to the span that was current on
  * the submitting thread when the job started. */
final class JobRec(val id: Int, val span: Int, val site: String, val startMs: Long) {
  var endMs: Long = -1
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L // shuffle write + shuffle read
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
}

/** Spans kept in memory plus a listener that charges every job, task,
  * executor CPU nanosecond and byte to a span. The span id travels as a
  * Spark local property, which Spark copies into each job it submits
  * from this thread (and into the threads it forks for broadcasts and
  * subqueries), so attribution needs nothing inside graft. */
final class Tracer(sc: SparkContext, val runId: String) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private var nextId = 1
  private var current = 0
  private var on = false
  /** The measured pass the next spans belong to. */
  var pass = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      jobs(e.jobId) = new JobRec(e.jobId, span, callSite(site), e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      for (j <- stageJob.get(si.stageId); rec <- jobs.get(j)) {
        rec.tasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          rec.cpuNs += m.executorCpuTime
          rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
          rec.inputBytes += m.inputMetrics.bytesRead
          rec.inputRows += m.inputMetrics.recordsRead
          rec.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Turn tracing on (listener attached, spans recorded) or off. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    if (flag) sc.addSparkListener(listener) else {
      org.apache.spark.BusDrain(sc)
      sc.removeSparkListener(listener)
    }
    on = flag
  }

  /** Run `body` inside a span named `name`; a no-op wrapper when off. */
  def span[T](name: String)(body: => T): T = if (!on) body else {
    val id = nextId
    nextId += 1
    val parent = current
    current = id
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = nowMs()
    try body
    finally {
      spans += Span(id, name, parent, runId, pass, t0, nowMs())
      current = parent
      sc.setLocalProperty(SpanProp, if (parent == 0) null else parent.toString)
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = Json.writeLines(path, spans.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId, "pass" -> s.pass,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)
  })

  def writeJobs(path: java.nio.file.Path): Unit = synchronized {
    Json.writeLines(path, jobs.values.map { j =>
      Json.obj("id" -> j.id, "span" -> j.span, "site" -> j.site,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks,
        "cpu_s" -> j.cpuNs / 1e9, "shuffle_bytes" -> j.shuffleBytes,
        "input_bytes" -> j.inputBytes, "input_rows" -> j.inputRows,
        "output_bytes" -> j.outputBytes)
    })
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  /** The graft module that submitted a job, read from the job's call-site
    * stack: the outermost incremental store on the stack owns the job
    * (a watermark advance writes through SliceStore, and is still a
    * watermark job), otherwise the innermost graft frame's class. */
  def callSite(details: String): String = {
    val frames = details.linesIterator.map(_.trim.stripPrefix("at ")).toSeq
    def has(cls: String) = frames.exists(_.startsWith(cls))
    if (has("graft.incremental.Watermarks")) "incremental.watermarks"
    else if (has("graft.incremental.SliceStore")) "incremental.slicestore"
    else frames.find(f => f.startsWith("graft.")).map(_.takeWhile(_ != '(').split('.').dropRight(1)
      .mkString(".").stripSuffix("$")).getOrElse("")
  }
}

/** Minimal JSON writer: the harness emits flat records only. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(s) => s
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def writeLines(path: java.nio.file.Path, rows: Iterable[Raw]): Unit =
    java.nio.file.Files.writeString(path, rows.map(_.json).mkString("", "\n", "\n"))
}
