package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans recorded around the benchmark's calls into the engine, kept in
  * memory and written out when the run ends. A span names its parent
  * (0 = none); times are nanoseconds since the trace was created. */
final class Trace(val runId: String) {
  final class Span(val id: Int, val parent: Int, var name: String, val start: Long) {
    var end: Long = -1L
    def sec: Double = (end - start) / 1e9
  }

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Id of the innermost open span (0 = none); read by the listener. */
  @volatile var current: Int = 0

  def now: Long = System.nanoTime() - t0

  /** Runs `body` inside a new span; returns the result and the span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val s = new Span(spans.length + 1, current, name, now)
    spans += s
    stack ::= s
    current = s.id
    try (body, s)
    finally {
      s.end = now
      stack = stack.tail
      current = stack.headOption.map(_.id).getOrElse(0)
    }
  }

  def all: Seq[Span] = spans.toSeq

  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    Json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end))
  }
}

/** Spark counters per span. A job is charged to the span open on the
  * driver when it starts (a pipelined commit therefore lands in the step
  * it overlaps); its tasks' counters follow the job's stages. */
final class SpanListener(trace: Trace) extends SparkListener {
  final class Counters {
    var jobs = 0L; var taskMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; taskMs += o.taskMs; gcMs += o.gcMs
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    }
  }
  private val bySpan = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private var started = 0L
  private var ended = 0L

  private def of(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = trace.current
    of(span).jobs += 1
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageSpan.getOrElse(e.stageId, trace.current))
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Waits (bounded) until every started job's end event has arrived: the
    * listener bus is asynchronous, and a job's task events precede its
    * end event. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(ended < started) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  /** Counters summed over the given span ids. */
  def sum(ids: Iterable[Int]): Counters = synchronized {
    val c = new Counters
    ids.foreach(id => bySpan.get(id).foreach(c.add))
    c
  }
}

/** JSON for the fork's result file and the trace lines. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
