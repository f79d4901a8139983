package graft

import scala.collection.mutable.ArrayBuffer

/** One routing or prune decision an operator made during a call:
  * `op` names the decision site (`grep.route`, `ann.cells`, ...),
  * `route` what it chose, and `kept`/`total` its ratio (patterns or
  * files; 0/0 where the decision has none). A step that never ran
  * records nothing. */
final case class Decision(op: String, route: String, kept: Long, total: Long)

object Decision {
  private val current = new ThreadLocal[ArrayBuffer[Decision]]

  /** Run `body` and return the decisions it recorded on THIS thread,
    * in order, and on any thread it ran a [[bound]] block on.
    * Captures nest: an enclosing capture sees them too. */
  def capture[T](body: => T): (T, Seq[Decision]) = {
    val outer = current.get
    val mine = ArrayBuffer.empty[Decision]
    current.set(mine)
    val r = try body finally current.set(outer)
    val ds = mine.synchronized(mine.toList)
    if (outer != null) outer.synchronized(outer ++= ds)
    (r, ds)
  }

  /** `body` as a block that records into this thread's capture on
    * whichever thread runs it, beside this thread's own records. */
  private[graft] def bound[T](body: => T): () => T = {
    val buf = current.get
    () => {
      val prev = current.get
      current.set(buf)
      try body finally current.set(prev)
    }
  }

  private[graft] def record(d: Decision): Unit =
    Option(current.get).foreach(b => b.synchronized(b += d))
}
