package graft.tools

import org.apache.spark.sql.SparkSession
import graft.Blocks
import graft.obs.Profile

/** One timed row of the tier artifacts: `body` runs under a [[Profile]]
  * capture (a failure prints `<fail> <label>: <error>` and reads -1
  * rows), the blocks it left are freed, and the row's JSON comes back
  * with its profile, still open for extra fields. */
object ProbeRow {
  def apply(spark: SparkSession, label: String, fail: String)(body: => Long): (String, Profile) = {
    val ((n, sec), p) = Profile.capture(spark) {
      val t0 = System.nanoTime()
      val n = try body catch { case t: Throwable => System.err.println(s"$fail $label: $t"); -1L }
      (n, (System.nanoTime() - t0) / 1e9)
    }
    Blocks.freeAll(spark)
    val costs = Seq("spill_mem" -> p.memorySpillBytes, "spill_disk" -> p.diskSpillBytes,
      "shuffle_read" -> p.shuffleReadBytes, "shuffle_write" -> p.shuffleWriteBytes,
      "task_ms" -> p.taskRunMs, "peak_exec_mem" -> p.peakExecutionMemory)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    (f"""{"query":"$label","rows":$n,"sec":$sec%.2f,$costs""", p)
  }
}
