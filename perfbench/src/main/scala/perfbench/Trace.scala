package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark work, as the listeners have counted it so far. */
final case class Counts(
    jobs: Long = 0, tasks: Long = 0, inputBytes: Long = 0, inputRecords: Long = 0,
    outputBytes: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
    planNanos: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    outputBytes - o.outputBytes, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, planNanos - o.planNanos)
}

/** Counts jobs, tasks and task I/O from the Spark listener bus, and the
  * analysis, optimization and planning time of every query execution.
  */
final class Listeners extends SparkListener with QueryExecutionListener {
  private val jobs, tasks, inBytes, inRecords, outBytes, shuffle, spill, plan =
    new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      inRecords.addAndGet(m.inputMetrics.recordsRead)
      outBytes.addAndGet(m.outputMetrics.bytesWritten)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  private val PlanPhases = Seq("analysis", "optimization", "planning")

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    plan.addAndGet(PlanPhases.flatMap(phases.get).map(_.durationMs).sum * 1000000L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  def snapshot: Counts = Counts(jobs.get, tasks.get, inBytes.get, inRecords.get,
    outBytes.get, shuffle.get, spill.get, plan.get)
}

/** One timed interval: an operation of the workload (parent -1) or a call
  * into one of the engine's layers inside it.
  */
final case class Span(
    id: Int, parent: Int, op: Long, layer: String, name: String, kind: String,
    startNs: Long, endNs: Long, counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** An operation as the end-to-end metrics see it. */
final case class OpTime(kind: String, name: String, seconds: Double)

/** Times the workload's operations, and in a traced run records a span
  * with listener counts around every layer call. Spans stay in memory
  * until the run ends.
  *
  * An untraced run registers no listener and records no call span: it
  * only reads the clock around each operation.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val listeners = new Listeners
  if (traced) {
    spark.sparkContext.addSparkListener(listeners)
    spark.listenerManager.register(listeners)
  }

  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[OpTime]
  private var open = List.empty[Int]
  private var nextOp = 0L
  private var recording = false

  private def counts(): Counts =
    if (!traced) Counts()
    else {
      BenchBridge.drainListenerBus(spark.sparkContext)
      listeners.snapshot
    }

  private def span[T](layer: String, name: String, kind: String)(body: => T): (T, Span) = {
    val c0 = counts()
    val t0 = System.nanoTime()
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    spans += null // reserve the id; filled when the span closes
    open = id :: open
    try {
      val r = body
      val t1 = System.nanoTime()
      val s = Span(id, parent, nextOp, layer, name, kind, t0, t1, counts() - c0)
      spans(id) = s
      (r, s)
    } finally open = open.tail
  }

  /** Start counting operations into the end-to-end figures. */
  def startRecording(): Unit = { spans.clear(); ops.clear(); recording = true }
  def stopRecording(): Unit = recording = false

  /** One operation of the workload: `kind` is "read" or "write". */
  def op[T](kind: String, name: String)(body: => T): T = {
    nextOp += 1
    if (traced && recording) {
      val (r, s) = span("op", name, kind)(body)
      ops += OpTime(kind, name, s.seconds)
      r
    } else {
      val t0 = System.nanoTime()
      val r = body
      if (recording) ops += OpTime(kind, name, (System.nanoTime() - t0) / 1e9)
      r
    }
  }

  /** A call into the engine layer `layer` (a package of the engine). */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!traced || !recording) body else span(layer, s"$layer.$name", "")(body)._1

  /** Seconds of the recorded operations. */
  def opSeconds: Double = ops.map(_.seconds).sum

  def callsNamed(name: String): Seq[Span] = spans.filter(s => s != null && s.name == name).toSeq

  /** Recorded operation spans (the top level of the trace). */
  def opSpans: Seq[Span] = spans.filter(s => s != null && s.parent < 0).toSeq

  /** A span's duration minus the part its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val live = spans.filter(_ != null)
    val childSum = live.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    live.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  /** The trace as JSON lines, one span a line. */
  def jsonLines: Iterator[String] = spans.iterator.filter(_ != null).map { s =>
    Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
      "name" -> s.name, "kind" -> s.kind, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "jobs" -> s.counts.jobs, "tasks" -> s.counts.tasks,
      "input_bytes" -> s.counts.inputBytes, "input_records" -> s.counts.inputRecords,
      "output_bytes" -> s.counts.outputBytes, "shuffle_bytes" -> s.counts.shuffleBytes,
      "spill_bytes" -> s.counts.spillBytes, "plan_ns" -> s.counts.planNanos))
  }
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
      d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
