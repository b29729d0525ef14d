package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans timed from outside the engine, plus the Spark work that ran
  * while each span was open.
  *
  * A span is opened around one call into a layer. Its id is put into
  * the calling thread's Spark local properties, so every job that call
  * submits (and every job of a thread it starts) carries the id; the
  * listener assigns the job's tasks to that span. Spans are kept in
  * memory and only summarised when the run ends.
  */
final class Trace(sc: SparkContext) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val work = new java.util.concurrent.ConcurrentHashMap[Int, Work]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var attached = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { id =>
        workOf(id).jobs.incrementAndGet()
        e.stageIds.foreach(stageSpan.put(_, id))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val w = workOf(id)
        w.tasks.incrementAndGet()
        w.taskNanos.addAndGet(e.taskInfo.duration * 1000000L)
        Option(e.taskMetrics).foreach { m =>
          w.gcNanos.addAndGet(m.jvmGCTime * 1000000L)
          w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(SpanProperty))).map(_.toInt)

  private def workOf(id: Int): Work = work.computeIfAbsent(id, _ => new Work)

  def attach(): Unit = if (!attached) { sc.addSparkListener(listener); attached = true }

  def detach(): Unit = if (attached) {
    drain(); sc.removeSparkListener(listener); attached = false
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerBus.drain(sc)

  /** Runs `f` inside a span named `name` whose parent is `parent`. */
  def span[A](name: String, parent: Int = 0)(f: Int => A): A = {
    val id = nextId.getAndIncrement()
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try f(id)
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(SpanProperty, prev)
      spans.synchronized { spans += Span(id, parent, name, t0, t1) }
    }
  }

  /** Every span recorded so far, with the Spark work assigned to it. */
  def recorded: Seq[(Span, Work)] = {
    drain()
    spans.synchronized(spans.toList).map(s => s -> workOf(s.id))
  }

  /** How tracing accounts for the traced passes' wall time, from each
    * pass's start to its end, the benchmark's work between ops included.
    * Layer spans are the children of the traced op spans;
    * `trace.harness_frac` is the share in `Harness` spans (output checks,
    * unpersists, file counts and deletes between ops);
    * `trace.unaccounted_frac` is the share neither covers, held to
    * `Tolerance` (a note says when it is over). `trace.overhead_frac` is
    * the mean traced op over the mean of `plainOps`, minus 1 (a mean,
    * because the median of a mix of queries jumps between two of them); the
    * callers pass the untraced ops after the first pass, which runs
    * slower than later ones. */
  def accounting(passes: Seq[(Long, Long)], tracedOps: Seq[(Int, Double)],
      plainOps: Seq[Double]): (Map[String, Double], Option[String]) = {
    val opIds = tracedOps.map(_._1).toSet
    val inside = spans.synchronized(spans.toList)
      .filter(s => passes.exists { case (p0, p1) => s.start >= p0 && s.end <= p1 })
    val layers = inside.filter(s => opIds.contains(s.parent))
    val harness = inside.filter(_.name == Harness)
    val wall = passes.map { case (p0, p1) => p1 - p0 }.sum.toDouble
    def frac(ns: Long) = if (wall > 0) ns / wall else 0.0
    val unaccounted = frac(wall.toLong - union((layers ++ harness).map(s => (s.start, s.end))))
    val ops = tracedOps.map(_._2)
    val m = Map(
      "trace.unaccounted_frac" -> unaccounted,
      "trace.harness_frac" -> frac(harness.map(s => s.end - s.start).sum),
      "trace.overhead_frac" ->
        (if (plainOps.isEmpty || ops.isEmpty) 0.0
         else ops.sum / ops.size / (plainOps.sum / plainOps.size) - 1))
    (m, Option.when(unaccounted > Tolerance)(
      f"trace: ${unaccounted * 100}%.1f%% of the traced passes' wall time is in no span, " +
        f"over the ${Tolerance * 100}%.0f%% tolerance"))
  }
}

object Trace {
  val SpanProperty = "graftbench.span"

  /** Name of the spans around the benchmark's own work between ops. */
  val Harness = "harness"

  /** Largest share of the traced passes' wall time that may lie outside
    * every layer and harness span. */
  val Tolerance = 0.02

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  final class Work {
    import java.util.concurrent.atomic.AtomicLong
    val jobs, tasks, taskNanos, gcNanos, shuffleBytes, spillBytes =
      new AtomicLong()
    def add(o: Work): Work = {
      jobs.addAndGet(o.jobs.get); tasks.addAndGet(o.tasks.get)
      taskNanos.addAndGet(o.taskNanos.get)
      gcNanos.addAndGet(o.gcNanos.get); shuffleBytes.addAndGet(o.shuffleBytes.get)
      spillBytes.addAndGet(o.spillBytes.get)
      this
    }
  }

  /** Total length covered by possibly overlapping intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
