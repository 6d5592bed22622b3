package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the raw run record (maps, sequences,
  * numbers, strings, booleans, null). */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => write(sb, f.toDouble)
    case n: Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString)
        sb.append(':')
        write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case a: Array[_] => write(sb, a.toSeq)
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

/** One Spark job as the listener saw it: the span that launched it
  * (from the benchmark-set local property; -1 when the job came from a
  * thread the benchmark does not own, such as the HTTP service pool),
  * its interval in epoch ms and its stage ids. */
final case class JobRec(id: Int, span: Int, t0: Long, t1: Long,
                        stages: Seq[Int])

/** One completed stage attempt with its summed task metrics. */
final case class StageRec(id: Int, t1: Long, tasks: Int, cpuNs: Long,
                          inBytes: Long, shuffleReadBytes: Long,
                          shuffleWriteBytes: Long, outBytes: Long,
                          spillBytes: Long, maxTaskMs: Long,
                          medTaskMs: Long)

/** Collects jobs, stages and task durations for the traced run. */
final class JobListener(prop: String) extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  private val open = new ConcurrentHashMap[Int, JobRec]()
  private val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(prop)))
      .map(_.toInt).getOrElse(-1)
    open.put(e.jobId, JobRec(e.jobId, span, e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val r = open.remove(e.jobId)
    if (r != null) jobs.add(r.copy(t1 = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val ds = Option(taskMs.remove(si.stageId)).map(_.asScala.toSeq.sorted)
      .getOrElse(Nil)
    val (maxT, medT) =
      if (ds.isEmpty) (0L, 0L) else (ds.last, ds(ds.length / 2))
    if (m != null)
      stages.add(StageRec(si.stageId, si.completionTime.getOrElse(0L),
        si.numTasks, m.executorCpuTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, maxT, medT))
  }
}

/** A span: one call into a layer, timed from outside it. */
final class SpanRec(val id: Int, val parent: Int, val name: String,
                    val req: Int, val t0: Double, val ref: Int) {
  var t1: Double = 0.0
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "req" -> req, "t0" -> t0, "t1" -> t1, "ref" -> ref)
}

/** Span recorder for the traced run. Spans live in memory and are
  * written out with the run record. While tracing is on, the innermost
  * open span's id rides the `perfbench.span` Spark local property, so
  * the listener attributes each job the benchmark thread launches to
  * the call that launched it; jobs from other threads are attributed
  * later by time window. `setOn` attaches and detaches the listener, so
  * the untraced half of a traced run pays for neither. */
final class Tracer(spark: SparkSession, val traceRun: Boolean) {
  val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  val listener = new JobListener(Prop)
  val spans = ArrayBuffer[SpanRec]()
  private var stack: List[Int] = Nil
  private var attached = false
  private var req = 0
  var on = false

  /** Epoch milliseconds at nanosecond resolution. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def newRequest(): Int = { req += 1; req }

  def setOn(b: Boolean): Unit = if (traceRun) {
    if (b && !attached) {
      sc.addSparkListener(listener)
      attached = true
    } else if (!b && attached) {
      org.apache.spark.PerfbenchAccess.drain(sc)
      sc.removeSparkListener(listener)
      attached = false
    }
    on = b
  }

  /** Id of the span most recently opened under `name` (for pairing). */
  def lastId(name: String): Int =
    spans.reverseIterator.find(_.name == name).map(_.id).getOrElse(-1)

  def span[A](name: String, ref: Int = -1)(f: => A): A =
    if (!on) f
    else {
      val rec = new SpanRec(spans.length, stack.headOption.getOrElse(-1),
        name, req, now(), ref)
      spans += rec
      stack = rec.id :: stack
      sc.setLocalProperty(Prop, rec.id.toString)
      try f
      finally {
        rec.t1 = now()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
      }
    }

  def finish(): Unit = setOn(false)

  def record: Map[String, Any] = Map(
    "spans" -> spans.map(_.toMap),
    "jobs" -> listener.jobs.asScala.toSeq.map(j => Map("id" -> j.id,
      "span" -> j.span, "t0" -> j.t0, "t1" -> j.t1, "stages" -> j.stages)),
    "stages" -> listener.stages.asScala.toSeq.map(s => Map("id" -> s.id,
      "t1" -> s.t1, "tasks" -> s.tasks, "cpu_ns" -> s.cpuNs,
      "in_bytes" -> s.inBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
      "shuffle_write_bytes" -> s.shuffleWriteBytes,
      "out_bytes" -> s.outBytes, "spill_bytes" -> s.spillBytes,
      "max_task_ms" -> s.maxTaskMs, "med_task_ms" -> s.medTaskMs)))
}

/** One timed operation of the measured window. `ok` turns false when
  * the call threw or a correctness check on its output failed. */
final class OpRec(val kind: String, val t0: Double, val t1: Double,
                  val traced: Boolean, val n: Int) {
  var ok = true
}

/** Times operations from outside, counts attempts and failures, and
  * keeps the time the benchmark spends on its own bookkeeping (input
  * preparation, correctness checks) out of the measured wall time. */
final class Recorder(tr: Tracer) {
  val ops = ArrayBuffer[OpRec]()
  val failures = ArrayBuffer[String]()
  var attempted = 0
  var failed = 0
  var excludedMs = 0.0
  /** Off while a set-up round warms caches: calls run, nothing counts. */
  var recording = true

  def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 50) failures += what
  }

  /** An item outside the timed window (a set-up round, a final check). */
  def item(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  def op[A](kind: String, n: Int = 1)(f: => A): (OpRec, Option[A]) = {
    if (!recording) return (new OpRec(kind, 0, 0, false, n), Some(f))
    tr.newRequest()
    val t0 = tr.now()
    val res =
      try Some(f)
      catch { case e: Exception => lastError = e; None }
    val r = new OpRec(kind, t0, tr.now(), tr.on, n)
    ops += r
    attempted += 1
    if (res.isEmpty) {
      r.ok = false
      fail(s"$kind threw ${lastError.toString.take(300)}")
    }
    (r, res)
  }
  private var lastError: Throwable = null

  /** A correctness check on an operation's output. */
  def check(r: OpRec, ok: Boolean, what: => String): Unit =
    if (recording && !ok && r.ok) {
      r.ok = false
      fail(s"${r.kind}: $what")
    }

  /** Benchmark bookkeeping that is not the program's work. */
  def untimed[A](f: => A): A = {
    val t0 = tr.now()
    try f finally excludedMs += tr.now() - t0
  }
}
