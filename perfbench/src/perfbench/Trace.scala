package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Spans and counts recorded by the benchmark around each of its calls into
 * an engine layer. A span's name starts with its layer (`sinks.write0`);
 * `req` names the request it serves (`batch:3`, `refresh:7`, `q:a1_count:0`);
 * `parent` is the enclosing span on the same thread, or one attached later.
 * A disabled tracer records nothing, so timed runs pay one branch per call.
 * Everything stays in memory until [[write]] at exit. */
final class Tracer(@volatile var enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counts = new ConcurrentLinkedQueue[Count]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  /** Which part of the run is recording: `setup`, `window` or `probe`. */
  @volatile var phase: String = "window"

  def span[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime
      try body
      finally {
        val t1 = System.nanoTime
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, req, phase, t0, t1))
      }
    }

  /** A span whose interval was measured elsewhere (the streaming listener's
   * phase durations); returns its id so children can be attached. */
  def record(name: String, req: String, parent: Long, start: Long, end: Long): Long =
    if (!enabled) 0L
    else {
      val id = nextId.getAndIncrement()
      spans.add(Span(id, parent, name, req, phase, start, end))
      id
    }

  def count(name: String, req: String, value: Double): Unit =
    if (enabled) counts.add(Count(name, req, phase, value))

  /** Re-parent the recorded spans matching `p` under `parent`. */
  def adopt(parent: Long)(p: Span => Boolean): Unit =
    if (enabled) {
      val moved = spans.asScala.filter(p).toList
      moved.foreach { s => spans.remove(s); spans.add(s.copy(parent = parent)) }
    }

  def write(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.start).map { s =>
      Json.mapper.writeValueAsString(Map("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "req" -> s.req, "phase" -> s.phase, "start_ns" -> s.start, "end_ns" -> s.end))
    } ++ counts.asScala.toSeq.map { c =>
      Json.mapper.writeValueAsString(Map("kind" -> "count", "name" -> c.name, "req" -> c.req,
        "phase" -> c.phase, "value" -> c.value))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, req: String, phase: String,
      start: Long, end: Long)
  final case class Count(name: String, req: String, phase: String, value: Double)
}

/** The JSON mapper for the benchmark's output files. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}
