package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters of the jobs started inside one span. */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var taskBusyNs = 0L
  /** Bytes that result tasks returned to the driver (collects). */
  var resultBytes = 0L
  /** Wall-clock ms of the span's first job start; -1 while none ran. */
  var firstJobMs = -1L
}

/** One recorded span: a timed call into a library layer. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Long, endMs: Long, stats: SpanStats) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Listener that attributes jobs to the span active on the submitting
  * thread. A job is keyed by the `perfbench.span` local property it starts
  * with, its stages by the job, and each task by its stage. */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.Map.empty[String, SpanStats]
  private val byStage = mutable.Map.empty[Int, SpanStats]

  def register(key: String): SpanStats = synchronized(bySpan.getOrElseUpdate(key, new SpanStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey))).flatMap(bySpan.get)
      .foreach { s =>
        s.jobs += 1
        if (s.firstJobMs < 0) s.firstJobMs = e.time
        e.stageIds.foreach(byStage(_) = s)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskBusyNs += m.executorRunTime * 1000000L
      if (e.taskType == "ResultTask") s.resultBytes += m.resultSize
    }
  }
}

/** In-memory span recorder for the traced run. Spans are written as JSON
  * lines when the run ends; with tracing off, `span` only runs the body. */
final class Trace(spark: SparkSession, private var enabled: Boolean, run: String) {
  private val listener = new SpanListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Stops recording and removes the listener, for untraced comparison runs. */
  def detach(): Unit = if (enabled) { spark.sparkContext.removeSparkListener(listener); enabled = false }
  def attach(): Unit = if (!enabled) { spark.sparkContext.addSparkListener(listener); enabled = true }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val key = s"$run/$id"
    val stats = listener.register(key)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Trace.SpanKey)
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setLocalProperty(Trace.SpanKey, key)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(Trace.SpanKey, outer)
      stack = stack.tail
      org.apache.spark.PerfbenchBus.drain(sc)
      spans += Span(id, name, parent, run, t0, t1, stats)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Counters of a span and all spans nested in it. */
  def inclusive(s: Span): SpanStats = {
    val t = new SpanStats
    def add(x: Span): Unit = {
      t.jobs += x.stats.jobs; t.tasks += x.stats.tasks
      t.shuffleWriteBytes += x.stats.shuffleWriteBytes; t.spillBytes += x.stats.spillBytes
      t.taskBusyNs += x.stats.taskBusyNs; t.resultBytes += x.stats.resultBytes
      if (x.stats.firstJobMs >= 0 && (t.firstJobMs < 0 || x.stats.firstJobMs < t.firstJobMs))
        t.firstJobMs = x.stats.firstJobMs
      spans.filter(c => c.parent == x.id).foreach(add)
    }
    add(s)
    t
  }

  def write(path: java.nio.file.Path): Unit = if (spans.nonEmpty) {
    val lines = spans.map { s =>
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run": "${s.run}", """ +
        f""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "jobs": ${s.stats.jobs}, """ +
        f""""tasks": ${s.stats.tasks}, "shuffle_write_bytes": ${s.stats.shuffleWriteBytes}, """ +
        f""""spill_bytes": ${s.stats.spillBytes}, "task_busy_s": ${s.stats.taskBusyNs / 1e9}%.6f, """ +
        f""""result_bytes": ${s.stats.resultBytes}, "first_job_ms": ${s.stats.firstJobMs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val SpanKey = "perfbench.span"
}
