package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are epoch nanoseconds; `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
    startNs: Long, endNs: Long)

/** Stage record taken from the listener (times in epoch ms, as Spark reports
  * them). Ids are [[Tracer.key]]s, unique across the run's sessions. */
final class StageRec(val stageId: Long, val name: String) {
  var jobId: Long = -1L
  var submitMs: Long = 0L
  var endMs: Long = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var shufWriteBytes = 0L
  var shufWriteNs = 0L
  var shufReadBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var recordsRead = 0L
  val taskMs = ArrayBuffer.empty[Long]
  def wallS: Double = math.max(0L, endMs - submitMs) / 1e3
}

final class JobRec(val jobId: Long, val op: Long, val phaseSpan: Long, val startMs: Long) {
  var endMs: Long = startMs
}

/** Op record kept by the benchmark for every traced op. */
final class OpRec(val id: Long, val kind: String, val name: String, val startNs: Long) {
  var endNs: Long = startNs
  def wallS: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. The benchmark opens an op span around each call into
 * the engine and phase spans (plan, exec) inside reads; Spark jobs and stages are
 * taken from a [[SparkListener]] and linked to the op through the
 * `graftbench.op` / `graftbench.phase` local properties. Nothing is written until
 * [[toJson]] is called at the end of the run.
 */
final class Tracer {
  private val nextId = new AtomicLong(1L)
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = epochBase + System.nanoTime()

  /** True while the current iteration is traced (the traced run alternates). */
  var active = false
  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[OpRec]
  val jobs = mutable.LinkedHashMap.empty[Long, JobRec]
  val stages = mutable.LinkedHashMap.empty[Long, StageRec]
  private var curOp: OpRec = _
  private var sc: SparkContext = _
  private var sessions = 0

  /** Listen to a new session. Each session numbers its jobs and stages from
    * zero, so records are keyed by session and id. */
  def attach(context: SparkContext): Unit = {
    sc = context
    sessions += 1
    context.addSparkListener(new Listener(sessions))
  }

  def beginOp(kind: String, name: String): OpRec = {
    val r = new OpRec(nextId.getAndIncrement(), kind, name, nowNs)
    curOp = r
    if (active && sc != null) sc.setLocalProperty("graftbench.op", r.id.toString)
    r
  }

  def endOp(r: OpRec): Unit = {
    r.endNs = nowNs
    curOp = null
    if (sc != null) { sc.setLocalProperty("graftbench.op", null); sc.setLocalProperty("graftbench.phase", null) }
    if (active) synchronized { ops += r; spans += Span(r.id, 0L, r.id, s"op:${r.kind}:${r.name}", "op", r.startNs, r.endNs) }
  }

  /** A plan/exec phase inside the current op. */
  def phase[T](name: String, layer: String)(body: => T): T = {
    val op = curOp
    if (!active || op == null) return body
    val id = nextId.getAndIncrement()
    if (sc != null) sc.setLocalProperty("graftbench.phase", id.toString)
    val t0 = nowNs
    try body
    finally {
      val t1 = nowNs
      if (sc != null) sc.setLocalProperty("graftbench.phase", null)
      synchronized { spans += Span(id, op.id, op.id, name, layer, t0, t1) }
    }
  }

  /** A one-thread kernel probe span (a root span of its own). */
  def probe[T](name: String, layer: String)(body: => T): T = {
    val t0 = nowNs
    try body
    finally synchronized { spans += Span(nextId.getAndIncrement(), 0L, 0L, name, layer, t0, nowNs) }
  }

  private final class Listener(session: Int) extends SparkListener {
    private def key(id: Int): Long = Tracer.key(session, id)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = e.properties
      val op = Option(props).flatMap(p => Option(p.getProperty("graftbench.op"))).map(_.toLong)
      op.foreach { id =>
        val phase = Option(props.getProperty("graftbench.phase")).map(_.toLong).getOrElse(0L)
        Tracer.this.synchronized {
          jobs(key(e.jobId)) = new JobRec(key(e.jobId), id, phase, e.time)
          e.stageInfos.foreach { si =>
            val s = stages.getOrElseUpdate(key(si.stageId), new StageRec(key(si.stageId), si.name))
            if (s.jobId < 0) s.jobId = key(e.jobId)
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(key(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stages.get(key(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.tasks += 1
        s.taskMs += e.taskInfo.duration
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.deserMs += m.executorDeserializeTime
          s.shufWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shufWriteNs += m.shuffleWriteMetrics.writeTime
          s.shufReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.inputBytes += m.inputMetrics.bytesRead
          s.outputBytes += m.outputMetrics.bytesWritten
          s.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stages.get(key(si.stageId)).foreach { s =>
        s.submitMs = si.submissionTime.getOrElse(0L)
        s.endMs = si.completionTime.getOrElse(s.submitMs)
      }
    }
  }

  /** Stages that ran (skipped stages never complete) for the given op. */
  def stagesOf(op: Long): Seq[StageRec] = synchronized {
    val js = jobs.values.filter(_.op == op).map(_.jobId).toSet
    stages.values.filter(s => js(s.jobId) && s.submitMs > 0L).toSeq
  }

  def jobsOf(op: Long): Seq[JobRec] = synchronized(jobs.values.filter(_.op == op).toSeq)

  /**
   * Role of a stage inside a write op, read from what the stage did. The
   * writing job is the first job with a stage that wrote output, else the
   * op's last job (V2 writers report no output bytes). Its last stage is
   * `reduce`; stages of later jobs are `rollup`; any other stage that wrote
   * shuffle data is `map` (adaptive execution runs a shuffle-map stage as a
   * job of its own before the writing job); the rest are `sample`, the
   * boundary pass. Reads have the one role `scan`.
   */
  def roleOf(kind: String, s: StageRec, opStages: Seq[StageRec]): String =
    if (kind == "scan" || kind == "lookup") "scan"
    else {
      val writers = opStages.filter(_.outputBytes > 0L).map(_.jobId)
      val writeJob = if (writers.nonEmpty) writers.min else opStages.map(_.jobId).max
      if (s.jobId > writeJob) "rollup"
      else if (s.jobId == writeJob && s.stageId == opStages.filter(_.jobId == writeJob).map(_.stageId).max) "reduce"
      else if (s.shufWriteBytes > 0L) "map"
      else "sample"
    }

  /** Job and stage spans, linked under their op (and phase, when one was open). */
  def listenerSpans(): Seq[Span] = synchronized {
    val out = ArrayBuffer.empty[Span]
    val opIds = ops.map(_.id).toSet
    for (j <- jobs.values if opIds(j.op)) {
      val jobSpan = nextId.getAndIncrement()
      val parent = if (j.phaseSpan != 0L) j.phaseSpan else j.op
      out += Span(jobSpan, parent, j.op, s"job:${Tracer.id(j.jobId)}", "spark.job", j.startMs * 1000000L, j.endMs * 1000000L)
      val kind = ops.find(_.id == j.op).map(_.kind).getOrElse("")
      val opStages = stagesOf(j.op)
      for (s <- stages.values if s.jobId == j.jobId && s.submitMs > 0L) {
        out += Span(nextId.getAndIncrement(), jobSpan, j.op, s"stage:${Tracer.id(s.stageId)}:${s.name}",
          s"spark.stage.${roleOf(kind, s, opStages)}", s.submitMs * 1000000L, s.endMs * 1000000L)
      }
    }
    out.toSeq
  }

  def toJson(header: String): String = {
    val all = synchronized(spans.toSeq) ++ listenerSpans()
    val sb = new StringBuilder
    sb.append("{").append(header).append(",\"spans\":[\n")
    all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("\n]}\n").toString
  }
}

object Tracer {
  def key(session: Int, id: Int): Long = (session.toLong << 32) | id
  def id(key: Long): Int = key.toInt
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
