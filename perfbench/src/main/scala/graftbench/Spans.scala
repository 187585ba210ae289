package graftbench

/** One traced interval. Times are nanoseconds on the harness's clock;
  * `parent` is the id of the span that caused this one (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String, query: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {

  /** Length of the union of intervals: a walk in start order with a cursor
    * at the furthest end seen, so overlapping intervals count once. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var cursor = Long.MinValue
    var total = 0L
    iv.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, cursor)
      if (e > from) total += e - from
      cursor = math.max(cursor, e)
    }
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover, children clipped to the span and counted once where
    * they overlap. */
  def selfTime(span: Span, children: Seq[Span]): Long =
    span.dur - unionLength(children.map(c =>
      (math.max(c.start, span.start), math.min(c.end, span.end))))

  /** Self time summed per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => selfTime(s, kids.getOrElse(s.id, Nil))).sum
    }
  }
}

/** Keeps spans in memory for the length of a run. */
final class Tracer {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def spans: Seq[Span] = buf.toSeq

  /** Records a finished interval and returns its id. */
  def add(parent: Int, name: String, query: String, start: Long, end: Long): Int =
    synchronized {
      val id = nextId; nextId += 1
      buf += Span(id, parent, name, query, start, end)
      id
    }

  /** Times `body` as a span; children are recorded by the caller with the
    * id handed to `body`. The span's id is reserved before `body` runs. */
  def span[A](parent: Int, name: String, query: String)(body: Int => A): A = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val t0 = System.nanoTime()
    try body(id)
    finally synchronized { buf += Span(id, parent, name, query, t0, System.nanoTime()) }
  }
}
