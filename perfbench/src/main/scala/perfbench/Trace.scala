package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. `gcMs` and `codegen` are inclusive deltas
  * of JVM-wide counters over the span; self values are derived offline. */
final case class Span(id: Int, name: String, layer: String, parent: Int, run: String,
    startNs: Long, endNs: Long, gcMs: Long, codegen: Long)

/** Per-span Spark counters, filled by [[SpanListener]]. */
final class Counters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  def toMap: Map[String, Any] = Map("jobs" -> jobs.get, "tasks" -> tasks.get,
    "task_cpu_ns" -> taskCpuNs.get, "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "spill_bytes" -> spillBytes.get)
}

/** Attributes every job, and the tasks of its stages, to the span that was
  * innermost on the submitting thread (carried as a job local property). */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  def counters(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toInt).getOrElse(-1)
    counters(span).jobs.incrementAndGet()
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageSpan.getOrDefault(e.stageId, -1))
    c.tasks.incrementAndGet()
    val m: TaskMetrics = e.taskMetrics
    if (m != null) {
      c.taskCpuNs.addAndGet(m.executorCpuTime)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Span recorder: spans stay in memory and are dumped once at the end.
  * Disabled, it adds nothing but the by-name call. */
final class Tracer(sc: SparkContext, val enabled: Boolean, run: String) {
  import Tracer._
  private val ids = new AtomicInteger
  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      sc.setLocalProperty(Property, id.toString)
      val (gc0, cg0) = (gcMs(), codegenCount())
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        val s = Span(id, name, layer, parents.headOption.getOrElse(0), run, t0, t1,
          gcMs() - gc0, codegenCount() - cg0)
        done.synchronized(done += s)
        stack.set(parents)
        sc.setLocalProperty(Property, parents.headOption.map(_.toString).orNull)
      }
    }

  /** Spans plus their listener counters, after the listener bus drained. */
  def dump(): (Seq[Span], Map[Int, Map[String, Any]]) = {
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))
    val counters = listener.map(_.bySpan.asScala.map { case (k, v) => k.toInt -> v.toMap }.toMap)
      .getOrElse(Map.empty)
    (done.synchronized(done.toList).sortBy(_.id), counters)
  }
}

object Tracer {
  val Property = "perfbench.span"
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def codegenCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
