package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.queries.{GatedBy, Query, Registry}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the driver's DuckDB compare and gated_by.json
  * (each query without an oracle → its oracle twins). */
object Verify {
  import org.apache.spark.sql.types._
  /** Types the driver's pandas-based compare can sort and hash. */
  private[graft] def isScalarType(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: StructType | _: MapType => false
    case _ => true
  }

  /** Throws if the frame has any column the driver compare cannot sort
    * (array/struct/map) — see the r9 PCA `err`: pandas `sort_values`
    * dies on unhashable ndarray cells BEFORE comparing anything. */
  private[graft] def assertScalarSchema(name: String, schema: StructType): Unit = {
    val complex = schema.fields.collect {
      case f if !isScalarType(f.dataType) => s"${f.name}: ${f.dataType.simpleString}"
    }
    if (complex.nonEmpty)
      throw new IllegalStateException(
        s"registered query '$name' returns non-scalar column(s) " +
          s"${complex.mkString(", ")} - flatten (posexplode / concat_ws) " +
          "before registering; the driver compare cannot sort them")
  }
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // let AQE re-coalesce the output partitioning of cached plans:
      // without it every read of an operator-internal cache schedules
      // shuffle.partitions near-empty tasks at small scale
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c restricts to a subset for local iteration
    // (the driver never sets it — its runs always dump everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // a typo'd name in the filter would otherwise verify nothing and
    // look like success
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: SPARK_GRAFT_ONLY names not registered: " +
            unknown.toSeq.sorted.mkString(", "))
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce collapses the last
      // stage to one task, and for a shuffle-free map query that is
      // the ENTIRE computation single-threaded — at the 100× derived
      // set, text_repetition's interpreted array slices ran 20+ min
      // on one core. The repartition shuffle keeps the compute
      // parallel and only the writer is single (one file, as the
      // driver compare expects).
      try {
        val df = fn(spark, sfDir)
        assertScalarSchema(name, df.schema)
        df.repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators may cache/checkpoint internals (dedup signature and
      // member tables); drop them between queries so ~70 sequential
      // runs don't accumulate block-manager state
      Blocks.freeAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // name -> twins of every query without an oracle: tools/check.py
    // passes one when its output has rows and every twin passed
    val gated = Registry.all
      .collect { case Query(k, _, GatedBy(twins @ _*)) if only.forall(_.contains(k)) =>
        s"${q(k)}: ${twins.map(q).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    // a SPARK_GRAFT_ONLY subset run must not overwrite oracle_sql.json:
    // stale per-query parquet dirs from a prior full run survive in
    // outDir, and a later compare against a subset oracle would
    // silently check fewer queries than the artifacts suggest (r6
    // advice). Subset oracles go to a distinct file.
    val suffix = if (only.isEmpty) "" else "_partial"
    if (only.nonEmpty)
      System.err.println(s"[verify] SPARK_GRAFT_ONLY set - oracle subset " +
        s"written to oracle_sql$suffix.json; outDir may mix runs")
    Files.writeString(Paths.get(s"$outDir/oracle_sql$suffix.json"), json)
    Files.writeString(Paths.get(s"$outDir/gated_by$suffix.json"), gated)
    spark.stop()
  }
}
