package graft

import org.apache.spark.unsafe.types.UTF8String

/** The String/tuple BPE apply that `graft_bpe_encode` ran before its
  * int-symbol merge table: the parity reference for
  * [[graft.functions.expressions.BpeEncodeTokens]]. Per word, symbols
  * start as [c₀, ##c₁, …] over UTF-16 chars and the adjacent pair with
  * the lowest rank merges, every occurrence left to right, until no
  * pair has a rank. Tokens go through `UTF8String.fromString`, as the
  * expression's output does, so a lone surrogate reads back as "?". */
object BpeReference {

  def encode(normalized: String, merges: Seq[String]): Seq[String] = {
    val rankTable = new java.util.HashMap[(String, String), (Int, String)]
    merges.zipWithIndex.foreach { case (m, i) =>
      val sp = m.indexOf(' ')
      val l = m.substring(0, sp)
      val r = m.substring(sp + 1)
      val merged = l + (if (r.startsWith("##")) r.substring(2) else r)
      // first rank wins on duplicates (a duplicate later rank is dead)
      rankTable.putIfAbsent((l, r), (i, merged))
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    for (word <- normalized.split(" ", -1) if word.nonEmpty) {
      var syms = word.indices.map(i =>
        if (i == 0) String.valueOf(word.charAt(i)) else "##" + word.charAt(i)).toArray
      var done = false
      while (!done && syms.length > 1) {
        var best = Int.MaxValue
        for (j <- 0 until syms.length - 1) {
          val hit = rankTable.get((syms(j), syms(j + 1)))
          if (hit != null && hit._1 < best) best = hit._1
        }
        if (best == Int.MaxValue) done = true
        else {
          val next = scala.collection.mutable.ArrayBuffer[String]()
          var k = 0
          while (k < syms.length) {
            val hit = if (k + 1 < syms.length) rankTable.get((syms(k), syms(k + 1))) else null
            if (hit != null && hit._1 == best) { next += hit._2; k += 2 }
            else { next += syms(k); k += 1 }
          }
          syms = next.toArray
        }
      }
      out ++= syms.map(s => UTF8String.fromString(s).toString)
    }
    out.toSeq
  }
}
