package bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Engine-side counters for one span (or for a whole window). */
final class Counts {
  val jobs, stages, tasks, taskRunMs, rowsIn, shuffleWrite, shuffleRead = new LongAdder
  def add(o: Counts): Unit =
    Seq(jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks,
      taskRunMs -> o.taskRunMs, rowsIn -> o.rowsIn,
      shuffleWrite -> o.shuffleWrite, shuffleRead -> o.shuffleRead)
      .foreach { case (a, b) => a.add(b.sum) }
}

/** Process-wide codegen counters, which no listener event carries:
  * classes compiled and the time spent compiling them. */
final case class Gauges(compiles: Long, compileNs: Long) {
  def -(o: Gauges): Gauges = Gauges(compiles - o.compiles, compileNs - o.compileNs)
  def compileMs: Double = compileNs / 1e6
}

object Gauges {
  def now(): Gauges =
    Gauges(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}

/** One traced interval: name, wall clock, parent and request id, plus the
  * [[Gauges]] movement while it was open and the Spark work attributed to
  * it (jobs carry the innermost open span's id as a local property, so
  * stages and tasks land on it even when they run on other threads). */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    start: Long) {
  @volatile var end: Long = 0L
  @volatile var gauges: Gauges = Gauges(0, 0)
  val counts = new Counts
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder plus the SparkListener that feeds it. Spans are
  * kept in memory and written out once at exit ([[dump]]); nothing is
  * written while a window is being measured. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "bench.span"
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobsOpen = new AtomicLong(0)
  /** Jobs that start under no span (e.g. on the HTTP server's own threads)
    * are attributed to this span id when one is set. Callers that set it
    * must [[drain]] before changing it: job-start events arrive
    * asynchronously. */
  @volatile var ambient: Long = 0L
  val unattributed = new Counts

  sc.addSparkListener(this)

  /** Id of this thread's innermost open span (0 if none). */
  def current: Long = stack.get().headOption.map(_.id).getOrElse(0L)

  def span[T](name: String, request: Long = -1L)(body: => T): T = {
    val parents = stack.get()
    val s = Span(ids.incrementAndGet(), name, parents.headOption.map(_.id).getOrElse(0L),
      if (request >= 0) request else parents.headOption.map(_.request).getOrElse(-1L),
      System.nanoTime())
    spans.put(s.id, s)
    stack.set(s :: parents)
    val prevProp = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    val g0 = Gauges.now()
    try body
    finally {
      s.gauges = Gauges.now() - g0
      s.end = System.nanoTime()
      sc.setLocalProperty(Prop, prevProp)
      stack.set(parents)
    }
  }

  private def target(spanId: Long): Counts =
    if (spanId > 0) spans.get(spanId).counts else unattributed

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsOpen.incrementAndGet()
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).getOrElse(if (ambient > 0) ambient else 0L)
    e.stageIds.foreach(st => stageSpan.put(st, id))
    target(id).jobs.increment()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsOpen.decrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    target(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = target(stageSpan.getOrDefault(e.stageId, 0L))
    c.tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      c.taskRunMs.add(m.executorRunTime)
      c.rowsIn.add(m.inputMetrics.recordsRead)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  /** Waits until every started job's end event has been delivered (the
    * listener bus is asynchronous; task events precede their job's end). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (jobsOpen.get() > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  def all: Seq[Span] = spans.values().asScala.toSeq.sortBy(_.id)

  /** Self time: wall time minus the wall time of direct children. */
  def selfMs(s: Span): Double = s.ms - all.filter(_.parent == s.id).map(_.ms).sum

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def byId(id: Long): Span = spans.get(id)

  /** JSON lines, one span each, with self time and attributed counts. */
  def dump(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      val c = s.counts
      w.write(Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ns" -> s.start, "end_ns" -> s.end, "ms" -> s.ms, "self_ms" -> selfMs(s),
        "codegen_compiles" -> s.gauges.compiles, "codegen_ms" -> s.gauges.compileMs,
        "jobs" -> c.jobs.sum, "stages" -> c.stages.sum, "tasks" -> c.tasks.sum,
        "task_run_ms" -> c.taskRunMs.sum, "rows_in" -> c.rowsIn.sum,
        "shuffle_write" -> c.shuffleWrite.sum,
        "shuffle_read" -> c.shuffleRead.sum))
      w.newLine()
    } finally w.close()
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kvs: (String, Any)*): String = value(mutable.LinkedHashMap(kvs: _*))
}
