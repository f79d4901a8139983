package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.obs.Profile

/** [[Profile]] is the one record of what a call cost: its counts
  * come from the call's own jobs, and no other code reads the
  * listener bus. */
class ProfileSpec extends SparkSpec {

  test("a capture counts its query's jobs, tasks, shuffle and Exchanges") {
    val (rows, p) = Profile.capture(spark)(
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 3).as("k")).count().collect())
    assert(rows.length === 3)
    assert(p.exchanges === 1)
    assert(p.jobs >= 1 && p.stages >= p.jobs && p.tasks >= p.stages)
    assert(p.shuffleWriteBytes > 0 && p.shuffleReadBytes > 0 && p.taskCpuNs > 0)
    val (_, none) = Profile.capture(spark)(())
    assert(none.jobs === 0 && none.tasks === 0 && none.exchanges === 0)
  }

  test("captures do not nest; both runs its first block under the caller's capture") {
    val e = intercept[IllegalArgumentException](
      Profile.capture(spark)(Profile.capture(spark)(())))
    assert(e.getMessage.contains("does not nest"))
    val ((a, b), p) = Profile.capture(spark)(Profile.both(spark)(
      { Decision.record(Decision("t.a", "other", 0, 0)); spark.range(10).collect().length },
      { Decision.record(Decision("t.b", "caller", 0, 0)); spark.range(5).collect().length }))
    assert((a, b) === (10, 5))
    assert(p.jobs >= 2)
    assert(p.decisions.map(_.op).sorted === Seq("t.a", "t.b"))
    val boom = intercept[IllegalStateException](
      Profile.both(spark)(throw new IllegalStateException("other thread"), 1))
    assert(boom.getMessage === "other thread")
  }

  test("no source outside graft.obs registers a SparkListener or drains the listener bus") {
    val banned = Seq("extends SparkListener", "new SparkListener", "listenerBus",
      "waitUntilEmpty")
    val self = Paths.get("src/test/scala/graft/ProfileSpec.scala")
    val obs = Paths.get("src/main/scala/graft/obs")
    val hits = Seq("src/main/scala", "src/test/scala").map(Paths.get(_)).flatMap { root =>
      assert(Files.isDirectory(root), s"run from the project root: $root")
      Files.walk(root).iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p != self && !p.startsWith(obs))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
          }
        }
    }
    if (hits.nonEmpty) fail(hits.mkString("\n"))
  }
}
