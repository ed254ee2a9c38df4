package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** One timed call into a layer: `parent` is the span that caused it
  * (0 for a root), `request` the request id every span of one
  * statement shares. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, request: String,
                      start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer {
  private val ids = new AtomicLong()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Time `body` as a child of the enclosing span on this thread. */
  def span[T](name: String, request: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current.get
    current.set(id)
    val start = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, name, request, start, System.nanoTime()))
      current.set(parent)
    }
  }

  def all: Seq[Span] = spans.toArray(Array.empty[Span]).toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.id).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""request":"${s.request}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Self time of each span: its duration minus the part of its
    * interval that its children cover (overlapping children count
    * once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Benchmark-owned listener: Spark jobs started per job group. */
final class JobCounter extends SparkListener {
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null) counts.computeIfAbsent(group, _ => new AtomicInteger()).incrementAndGet()
    lastEvent.set(System.nanoTime())
  }

  def jobs(group: String): Int = Option(counts.get(group)).map(_.get).getOrElse(0)

  /** The listener bus is asynchronous: wait until it has been quiet for
    * `quietMs` (bounded by `maxMs`) before reading counts. */
  def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEvent.get < quietMs * 1000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}
