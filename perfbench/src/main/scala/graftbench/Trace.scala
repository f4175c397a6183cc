package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: what the listener saw for the jobs
  * started while the span was open on the calling thread.
  */
final class Counters {
  val jobs = new AtomicLong
  val jobMs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val scanBytes = new AtomicLong
}

/** One timed region of one statement. `parent` is the statement's root
  * span id (-1 for a root).
  */
final case class Span(id: Int, stmt: Int, layer: String, parent: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Listener that attributes jobs, stages and tasks to the span that was
  * open when the job started. The span id travels as a Spark local
  * property, so jobs started on Spark's own threads (broadcasts, adaptive
  * stages) still carry it.
  */
final class Attribution extends SparkListener {
  val counters = new ConcurrentHashMap[Int, Counters]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  def of(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Property)))
    prop.foreach { s =>
      val span = s.toInt
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      of(span).jobs.incrementAndGet()
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { span =>
      of(span).jobMs.addAndGet(e.time - jobStart.get(e.jobId))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(of(_).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = of(span)
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.scanBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
}

/** Span recorder. Untraced runs use [[Trace.Off]], whose `span` only runs
  * the body, so both modes execute the same calls in the same order.
  */
sealed trait Trace {
  def span[A](stmt: Int, layer: String)(body: => A): A
  def enabled: Boolean
}

object Trace {
  val Property = "graftbench.span"

  object Off extends Trace {
    def span[A](stmt: Int, layer: String)(body: => A): A = body
    def enabled = false
  }
}

final class Tracer(sc: SparkContext) extends Trace {
  val listener = new Attribution
  val spans = mutable.ArrayBuffer.empty[Span]
  private val roots = mutable.Map.empty[Int, Int]
  def enabled = true

  def attach(): Unit = sc.addSparkListener(listener)

  /** Waits until the listener has seen every event posted so far, then
    * removes it.
    */
  def detach(): Unit = {
    org.apache.spark.graftbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
  }

  private def root(stmt: Int): Int =
    roots.getOrElseUpdate(stmt, {
      val now = System.nanoTime()
      spans += Span(spans.length, stmt, "statement", -1, now, now)
      spans.length - 1
    })

  def span[A](stmt: Int, layer: String)(body: => A): A = {
    val parent = root(stmt)
    val id = spans.length
    spans += null
    sc.setLocalProperty(Trace.Property, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Trace.Property, null)
      spans(id) = Span(id, stmt, layer, parent, t0, t1)
      val r = spans(parent)
      spans(parent) = r.copy(endNs = math.max(r.endNs, t1))
    }
  }

  def countersOf(s: Span): Counters = listener.of(s.id)
}
