package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.{AnnIndex, Manifest, MetaTable}

/** [[MetaTable]] reads what Spark's parquet writer wrote, and Spark
  * reads what MetaTable wrote — the same format both ways, so roots
  * written before metadata moved to the driver stay readable and
  * Spark readers of the metadata dirs keep working. */
class MetaTableSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("l", LongType),
    StructField("i", IntegerType), StructField("d", DoubleType),
    StructField("v", ArrayType(FloatType))))

  private val rows = Seq(
    Row("a", 1L, 7, 0.5, Seq(1.0f, 2.5f)),
    Row("b", Long.MaxValue, -3, null, Seq.empty[Float]),
    Row(null, Long.MinValue, Int.MaxValue, -1e300, Seq(3.0f, -0.0f)),
    Row("ünï", 0L, 0, Double.MaxValue, null))

  private def tmp(name: String) =
    s"${Files.createTempDirectory("metatable").toString}/$name"

  /** Order-free comparison; arrays compare as lists whatever Seq
    * class carries them. */
  private def norm(rs: Seq[Row]): Seq[Seq[Any]] =
    rs.map(_.toSeq.map { case s: Seq[_] => s.toList; case x => x })
      .sortBy(_(1).asInstanceOf[Long])

  private def sparkWrite(dir: String, rs: Seq[Row], files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
      .repartition(files).write.parquet(dir)

  test("a table Spark wrote reads on the driver as Spark collects it") {
    val dir = tmp("spark")
    sparkWrite(dir, rows, files = 1)
    assert(norm(MetaTable.read(spark, dir, schema)) ===
      norm(spark.read.parquet(dir).collect().toSeq))
    assert(norm(MetaTable.read(spark, dir, schema)) === norm(rows))
  }

  test("a table MetaTable wrote reads through Spark as written") {
    val dir = tmp("meta")
    MetaTable.write(spark, dir, schema, rows)
    val back = spark.read.parquet(dir)
    assert(back.schema === schema)
    assert(norm(back.collect().toSeq) === norm(rows))
    // and on the driver
    assert(norm(MetaTable.read(spark, dir, schema)) === norm(rows))
  }

  test("a dir of several files reads every row") {
    val dir = tmp("multi")
    sparkWrite(dir, rows, files = 3)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet")) > 1)
    assert(norm(MetaTable.read(spark, dir, schema)) === norm(rows))
  }

  test("zero-row tables round-trip both ways") {
    val bySpark = tmp("empty-spark")
    sparkWrite(bySpark, Seq.empty, files = 1)
    assert(MetaTable.read(spark, bySpark, schema).isEmpty)
    val byMeta = tmp("empty-meta")
    MetaTable.write(spark, byMeta, schema, Seq.empty)
    val back = spark.read.parquet(byMeta)
    assert(back.schema === schema && back.collect().isEmpty)
  }

  test("a column the file lacks reads as null; an ANN catalog without codes_segment reads as \"\"") {
    import spark.implicits._
    val dir = tmp("narrow")
    Seq(("x", 1L)).toDF("s", "l").write.parquet(dir)
    assert(MetaTable.read(spark, dir, schema).map(_.toSeq) ===
      Seq(Seq("x", 1L, null, null, null)))
    // an ANN version in the pre-PQ layout: its catalog has no
    // codes_segment column
    val root = tmp("ann")
    Manifest.commitWith(spark, root, 2) { d =>
      Seq((0, Array(1f, 0f))).toDF("cell", "centroid").write.parquet(s"$d/centroids")
      Seq(("seg-a", 3L, 0.9)).toDF("segment", "n_rows", "mean_cos")
        .write.parquet(s"$d/catalog")
    }
    assert(AnnIndex.catalogOf(spark, root) ===
      Seq(AnnIndex.Segment("seg-a", 3L, 0.9, "")))
    assert(AnnIndex.centroidsOf(spark, root).map(c => (c._1, c._2.toSeq)) ===
      Seq((0, Seq(1f, 0f))))
  }

  test("write refuses an existing dir unless overwriting") {
    val dir = tmp("ow")
    MetaTable.write(spark, dir, schema, rows.take(1))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      MetaTable.write(spark, dir, schema, rows)
    }
    MetaTable.write(spark, dir, schema, rows.drop(1), overwrite = true)
    assert(norm(spark.read.parquet(dir).collect().toSeq) === norm(rows.drop(1)))
  }

  test("notes round-trip; an absent note is None") {
    val dir = tmp("note")
    assert(MetaTable.readNote(spark, dir).isEmpty)
    MetaTable.writeNote(spark, dir, "batch-1-200 ✓")
    assert(MetaTable.readNote(spark, dir) === Some("batch-1-200 ✓"))
  }
}
