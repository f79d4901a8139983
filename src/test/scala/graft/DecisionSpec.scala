package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Decision records are the only channel an operator reports its
  * routing through: per call, per thread, never the session conf. */
class DecisionSpec extends AnyFunSuite {

  test("capture returns the body's decisions; an enclosing capture sees nested ones") {
    val (a, b, c) = (Decision("x.a", "r", 1, 2), Decision("x.b", "s", 3, 4),
                     Decision("x.c", "t", 5, 6))
    Decision.record(Decision("x.free", "dropped", 0, 0)) // nothing capturing
    val (inner, outer) = Decision.capture {
      Decision.record(a)
      val in = Decision.capture(Decision.record(b))._2
      Decision.record(c) // the outer buffer is restored on exit
      in
    }
    assert(inner === Seq(b))
    assert(outer === Seq(a, b, c))
    assert(Decision.capture(())._2.isEmpty)
  }

  test("no main source writes a spark.graft.* key into the session conf") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val setter = """conf\.set\(s?"spark\.graft\.""".r
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if setter.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    if (hits.nonEmpty) fail(hits.mkString("\n"))
  }
}
