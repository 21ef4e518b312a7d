package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer, recorded from the benchmark's side of the
  * call. `parent` is the id of the enclosing span (-1 at the root); spans of
  * one rep share `rep`.
  */
final case class Span(id: Int, name: String, parent: Int, rep: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Off by default: the end-to-end runs never
  * record, and a traced run writes the spans once, when it ends.
  */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var rep = -1

  def startRep(id: Int): Unit = rep = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, rep, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Duration minus the part of it that child spans cover. Children of one
    * span never overlap (one driver thread), so their durations add up.
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"rep":${s.rep},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  val Off = new Trace(false)
}
