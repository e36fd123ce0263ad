package perfbench

import java.nio.ByteBuffer
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call at a layer boundary. Spans of one request share
  * `trace`; `parent` is 0 for a root. Times are `System.nanoTime`. */
final case class Span(id: Long, trace: Long, parent: Long, name: String, start: Long, end: Long) {
  def dur: Long = end - start
  /** The layer is the name up to the first dot (`remote.multiGet` → `remote`). */
  def layer: String = { val d = name.indexOf('.'); if (d < 0) name else name.substring(0, d) }
}

/** Identity of an open span, handed across threads to its children. */
final case class Ctx(trace: Long, id: Long)

/** In-memory span recorder. Off by default: a disabled tracer runs the
  * body and records nothing. Parents resolve, in order, from an explicit
  * context, the keys a caller linked to its span (the same key objects
  * reach a fan-out thread; the same key bytes reach a server thread), or
  * the span open on the current thread. */
final class Tracer {
  @volatile var enabled: Boolean = false

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Ctx]()
  private val byObject =
    java.util.Collections.synchronizedMap(new java.util.IdentityHashMap[AnyRef, Ctx]())
  private val byBytes = new ConcurrentHashMap[ByteBuffer, Ctx]()

  def span[A](name: String, parent: Ctx = null)(body: => A): A =
    if (!enabled) body
    else {
      val p = if (parent != null) parent else current.get()
      val id = ids.incrementAndGet()
      val ctx = Ctx(if (p == null) id else p.trace, id)
      val prev = current.get()
      current.set(ctx)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(prev)
        spans.add(Span(id, ctx.trace, if (p == null) 0L else p.id, name, t0, t1))
      }
    }

  /** Run `body` with `keys` linked to the open span, so a callee that
    * receives them on another thread or over the wire finds its parent.
    * A key object keeps the outermost link (the ring call's), so a
    * callee in between (the remote stub) still finds its own parent. */
  def linked[A](keys: Seq[Array[Byte]], byContent: Boolean)(body: => A): A = {
    val ctx = if (enabled) current.get() else null
    if (ctx == null || keys.isEmpty) body
    else {
      keys.foreach { k =>
        byObject.putIfAbsent(k, ctx)
        if (byContent) byBytes.put(ByteBuffer.wrap(k), ctx)
      }
      try body
      finally keys.foreach { k =>
        byObject.remove(k, ctx)
        if (byContent) byBytes.remove(ByteBuffer.wrap(k), ctx)
      }
    }
  }

  /** The parent a callee receiving `keys` should record under. */
  def parentFor(keys: Seq[Array[Byte]]): Ctx =
    if (!enabled || keys.isEmpty) current.get()
    else {
      val h = keys.head
      val o = byObject.get(h)
      if (o != null) o
      else {
        val b = byBytes.get(ByteBuffer.wrap(h))
        if (b != null) b else current.get()
      }
    }

  def recorded: Seq[Span] = spans.asScala.toSeq

  /** Write every span as one JSON line. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {

  /** Length of the part of `[lo, hi)` that the intervals cover. Parallel
    * children overlap, so they count once, not once each. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curHi) {
        if (curHi > curLo) total += curHi - curLo
        curLo = a; curHi = b
      } else if (b > curHi) curHi = b
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }

  /** Self time of every span: its duration minus the part its direct
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(s.start, s.end, cs))
    }.toMap
  }

  /** Per layer: calls, total time and total self time (ns). */
  final case class Row(calls: Long, totalNs: Long, selfNs: Long)

  def byLayer(spans: Seq[Span]): Map[String, Row] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> Row(ss.size.toLong, ss.map(_.dur).sum, ss.map(s => self(s.id)).sum)
    }
  }
}
