package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

/** In-memory spans and counters recorded at the layer boundaries the
  * benchmark calls into. Everything is JVM-global: on `local[N]` the
  * executor tasks run in this same JVM, so the enrich decorator and the
  * fetch function (deserialized per task) record into the same object.
  *
  * Spans are kept in memory and written once at the end of a traced run.
  * Span recording is off unless [[on]] is set; the counters are always
  * kept (a few atomic adds per call).
  */
object Trace {
  final case class Span(id: Long, name: String, layer: String,
                        start: Long, end: Long, parent: Long, batch: Long)

  @volatile var on = false
  /** Driver-side span the current stage runs under (the executor-side
    * convert spans attach to it).
    */
  @volatile var stageParent: Long = -1L
  @volatile var batchId: Long = -1L
  /** Convert span on this task thread (fetch spans attach to it). */
  val threadParent: ThreadLocal[java.lang.Long] =
    ThreadLocal.withInitial(() => java.lang.Long.valueOf(-1L))

  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]

  def nextId(): Long = ids.incrementAndGet()

  def record(id: Long, name: String, layer: String, start: Long, end: Long,
             parent: Long, batch: Long): Unit =
    if (on) spans.add(Span(id, name, layer, start, end, parent, batch))

  /** Runs `f` under a span (child of `parent`); returns its result. */
  def span[A](name: String, layer: String, parent: Long)(f: Long => A): A = {
    val id = nextId()
    val t0 = System.nanoTime()
    try f(id)
    finally record(id, name, layer, t0, System.nanoTime(), parent, batchId)
  }

  def all: Vector[Span] = spans.asScala.toVector
  def clear(): Unit = spans.clear()

  /** Self time per layer in ms: each span's duration minus the part of
    * its interval that its children's intervals cover (children may run
    * in parallel, so their union is taken), summed per layer.
    */
  def selfMsByLayer(ss: Seq[Span]): Map[String, Double] = {
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, mine) =>
      layer -> mine.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }

  def writeJson(path: java.nio.file.Path, ss: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("[\n")
      ss.sortBy(_.start).zipWithIndex.foreach { case (s, k) =>
        if (k > 0) w.write(",\n")
        w.write(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
          s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},""" +
          s""""batch":${s.batch}}""")
      }
      w.write("\n]\n")
    } finally w.close()
  }
}

/** Per-layer counters recorded by the benchmark-owned decorators. */
object Counters {
  val calls = new LongAdder
  val callNs = new ConcurrentLinkedQueue[java.lang.Long]
  val fetchNs = new LongAdder
  /** Time spent converting, excluding the fetch (local) or inside the
    * stub's handler (remote).
    */
  val serviceNs = new LongAdder
  /** Client call time minus stub handler time, remote only. */
  val wireNs = new LongAdder
  val wireCalls = new LongAdder
  val breakerOpen = new LongAdder
  /** Fed by the traced run's `SparkListener`. */
  val jobs = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
  val taskCpuNs = new LongAdder

  def reset(): Unit = {
    Seq(calls, fetchNs, serviceNs, wireNs, wireCalls, breakerOpen, jobs,
      shuffleBytes, spillBytes, taskCpuNs).foreach(_.reset())
    callNs.clear()
  }
}
