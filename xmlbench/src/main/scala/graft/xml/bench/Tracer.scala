package graft.xml.bench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** One timed interval. Spans of one op share `trace`; `parent` is the span
 *  that caused this one (-1 for an op's root). Times are epoch nanoseconds,
 *  so driver spans and the scheduler's stage timestamps share one axis. */
final case class Span(
    trace: Long,
    id: Long,
    parent: Long,
    name: String,
    startNs: Long,
    endNs: Long,
    attrs: Map[String, Double])

/**
 * In-memory span recorder for the traced run. Spans are opened and closed
 * on the single driver thread around each call into an engine layer; the
 * scheduler's stages arrive through [[StageSpans]] and hang off whichever
 * span was open when their job started. Nothing is written until [[write]].
 */
final class Tracer(sc: SparkContext) {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val listener = new StageSpans
  private var open: List[(Long, Long)] = Nil // (trace, id) of the open spans, innermost first
  private var attached = false

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  /** Stage spans are only collected while attached; the untraced twin of
   *  each op runs detached so the listener's cost counts as overhead. */
  def attach(): Unit = if (!attached) { sc.addSparkListener(listener); attached = true }
  def detach(): Unit = if (attached) { sc.removeSparkListener(listener); attached = false }

  /** Runs `body` inside a span; a new trace when no span is open. `attrs`
   *  sees the body's result, so counts are recorded at the same boundary. */
  def span[T](name: String)(body: => T)(attrs: T => Map[String, Double]): T = {
    nextId += 1
    val id = nextId
    val (trace, parent) = open.headOption.getOrElse((id, -1L))
    val start = nowNs
    open = (trace, id) :: open
    sc.setLocalProperty(StageSpans.SpanKey, s"$trace:$id")
    try {
      val out = body
      spans += Span(trace, id, parent, name, start, nowNs, attrs(out))
      out
    } finally {
      open = open.tail
      sc.setLocalProperty(StageSpans.SpanKey, open.headOption.map { case (t, i) => s"$t:$i" }.orNull)
    }
  }

  /** Waits for the scheduler events in flight, then turns completed stages
   *  into child spans of the span that launched them. */
  def collectStages(): Unit = {
    org.apache.spark.xmlbench.ListenerBus.drain(sc)
    listener.completed.forEach { (_, st) =>
      nextId += 1
      spans += st.copy(id = nextId)
    }
    listener.completed.clear()
  }

  /** One JSON object per line. */
  def write(file: File): Unit = {
    val out = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      out.println(
        s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":{$attrs}}""")
    } finally out.close()
  }
}

object StageSpans {
  val SpanKey = "graft.xmlbench.span"
}

/** Listener half of the tracer: maps each job's stages to the span open on
 *  the driver when the job started (streaming threads inherit it), and
 *  records each completed stage with its task, CPU and GC totals. */
final class StageSpans extends SparkListener {
  private val owner = new ConcurrentHashMap[Int, (Long, Long)]()
  val completed = new ConcurrentHashMap[Int, Span]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    Option(js.properties).flatMap(p => Option(p.getProperty(StageSpans.SpanKey))).foreach { v =>
      val Array(trace, id) = v.split(":").map(_.toLong)
      js.stageIds.foreach(s => owner.put(s, (trace, id)))
    }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val si = ev.stageInfo
    val own = owner.remove(si.stageId)
    for {
      (trace, parent) <- Option(own)
      start <- si.submissionTime
      end <- si.completionTime
    } {
      val m = si.taskMetrics
      completed.put(si.stageId, Span(trace, 0L, parent, "spark.stage",
        start * 1000000L, end * 1000000L,
        Map(
          "tasks" -> si.numTasks.toDouble,
          "cpu_s" -> m.executorCpuTime / 1e9,
          "gc_s" -> m.jvmGCTime / 1e3)))
    }
  }
}

/** Just enough JSON for the benchmark's flat records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.result()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(values: Iterable[String]): String = values.mkString("[", ",", "]")
}
