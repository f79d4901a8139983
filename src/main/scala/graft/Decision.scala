package graft

/** One routing or prune decision an operator made during a call:
  * `op` names the decision site (`grep.route`, `ann.cells`, ...),
  * `route` what it chose, and `kept`/`total` its ratio (patterns or
  * files; 0/0 where the decision has none). A step that never ran
  * records nothing. */
final case class Decision(op: String, route: String, kept: Long, total: Long)

object Decision {
  private val current =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[Decision]]

  /** Run `body` and return the decisions it recorded on THIS thread,
    * in order. Captures nest: an enclosing capture sees them too. */
  def capture[T](body: => T): (T, Seq[Decision]) = {
    val outer = current.get
    val mine = scala.collection.mutable.ArrayBuffer.empty[Decision]
    current.set(mine)
    val r = try body finally current.set(outer)
    if (outer != null) outer ++= mine
    (r, mine.toList)
  }

  private[graft] def record(d: Decision): Unit =
    Option(current.get).foreach(_ += d)
}
