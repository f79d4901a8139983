package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. sf0.001 keeps specs fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  /** The same tables at ten times the scale (sf0.01). */
  val sfDir10x = s"${new java.io.File(sfDir).getParent}/sf0.01"
  lazy val spark: SparkSession = SparkSpec.session

  /** The one decision `op` recorded in `ds` (fails on none or many). */
  def decision(ds: Seq[Decision], op: String): Decision = {
    val hits = ds.filter(_.op == op)
    assert(hits.size == 1, s"expected one $op decision in $ds")
    hits.head
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
