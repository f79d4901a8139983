package graft.sources

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Small parquet tables read and written on the driver — the version
  * metadata of every Manifest-versioned root (segment catalogs,
  * centroids, codebooks, curation state/meta, the [[StatsIndex]]
  * rows). Each of these is a few rows; through `spark.read` /
  * `df.write` every read cost a schema-inference job plus a collect
  * job and every write a job, all driver-serial (Dremel, VLDB 2020:
  * metadata reads should not cost what data reads cost).
  *
  * Same format as Spark's own writer: Spark's standard parquet
  * schema (three-level LIST, UTF-8 strings) plus its row-metadata key,
  * so `spark.read.parquet` of a table written here returns exactly
  * `schema`, and tables Spark wrote (older roots) read back here
  * unchanged. Supported column types: string, long, int, double,
  * float and arrays of those. A column `schema` asks for that a file
  * lacks reads as null (older layouts); nulls round-trip. */
object MetaTable {

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Data files of `dir` in name order, by Spark's listing rule:
    * names starting with `_` or `.` are not data. */
  private def dataFiles(spark: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq.map(_.getPath)
      .filter { f =>
        val n = f.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      }
      .sortBy(_.getName)
  }

  /** Every row of the table at `dir`, projected to `schema`. */
  def read(spark: SparkSession, dir: String, schema: StructType): Seq[Row] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, dir).flatMap { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(), f)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(g => Row.fromSeq(schema.fields.toSeq.map { fld =>
          val gt = g.getType
          if (!gt.containsField(fld.name)) null
          else {
            val i = gt.getFieldIndex(fld.name)
            if (g.getFieldRepetitionCount(i) == 0) null
            else valueOf(g, i, 0, fld.dataType)
          }
        })).toVector
      finally reader.close()
    }
  }

  private def valueOf(g: Group, i: Int, r: Int, t: DataType): Any = t match {
    case StringType => g.getString(i, r)
    case LongType => g.getLong(i, r)
    case IntegerType => g.getInteger(i, r)
    case DoubleType => g.getDouble(i, r)
    case FloatType => g.getFloat(i, r)
    case ArrayType(et, _) =>
      val list = g.getGroup(i, r)
      (0 until list.getFieldRepetitionCount(0)).map { j =>
        val e = list.getGroup(0, j)
        if (e.getFieldRepetitionCount(0) == 0) null else valueOf(e, 0, 0, et)
      }
    case other =>
      throw new UnsupportedOperationException(s"MetaTable cannot read $other")
  }

  /** Write `rows` as one parquet file under `dir`. Fails when `dir`
    * exists unless `overwrite` (then the old table is deleted first,
    * as Spark's overwrite mode does). */
  def write(spark: SparkSession, dir: String, schema: StructType,
            rows: Seq[Row], overwrite: Boolean = false): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) {
      if (!overwrite) throw new FileAlreadyExistsException(s"$dir already exists")
      fs.delete(p, true)
    }
    val mt = new MessageType("spark_schema",
      schema.fields.toSeq.map(f => parquetType(f.name, f.dataType, f.nullable)): _*)
    val groups = new SimpleGroupFactory(mt)
    val file = new Path(p, s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(Map(SparkSchemaKey -> schema.json).asJava)
      .build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.indices.foreach { i =>
        if (!r.isNullAt(i)) put(g, schema.fields(i).name, schema.fields(i).dataType, r.get(i))
      }
      w.write(g)
    } finally w.close()
  }

  private def parquetType(name: String, t: DataType, nullable: Boolean): Type = {
    val rep = if (nullable) Repetition.OPTIONAL else Repetition.REQUIRED
    t match {
      case StringType =>
        Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType()).named(name)
      case LongType => Types.primitive(INT64, rep).named(name)
      case IntegerType => Types.primitive(INT32, rep).named(name)
      case DoubleType => Types.primitive(DOUBLE, rep).named(name)
      case FloatType => Types.primitive(FLOAT, rep).named(name)
      case ArrayType(et, containsNull) =>
        Types.buildGroup(rep).as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup()
            .addField(parquetType("element", et, containsNull)).named("list"))
          .named(name)
      case other =>
        throw new UnsupportedOperationException(s"MetaTable cannot write $other")
    }
  }

  private def put(g: Group, name: String, t: DataType, v: Any): Unit = t match {
    case StringType => g.append(name, v.asInstanceOf[String])
    case LongType => g.append(name, v.asInstanceOf[Long])
    case IntegerType => g.append(name, v.asInstanceOf[Int])
    case DoubleType => g.append(name, v.asInstanceOf[Double])
    case FloatType => g.append(name, v.asInstanceOf[Float])
    case ArrayType(et, _) =>
      val list = g.addGroup(name)
      val elems = v match {
        case a: Array[_] => a.toSeq
        case s: Iterable[_] => s.toSeq
      }
      elems.foreach { e =>
        val slot = list.addGroup("list")
        if (e != null) put(slot, "element", et, e)
      }
    case other =>
      throw new UnsupportedOperationException(s"MetaTable cannot write $other")
  }

  /** The commit note in version dir `dir`, if one was written. */
  def readNote(spark: SparkSession, dir: String): Option[String] = {
    val np = new Path(s"$dir/note")
    val fs = np.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(np)) None
    else {
      val in = fs.open(np)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Write the commit note into version dir `dir`. Writers call this
    * inside the staged dir, so the note publishes (or vanishes)
    * atomically with the CAS marker. */
  def writeNote(spark: SparkSession, dir: String, note: String): Unit = {
    val np = new Path(s"$dir/note")
    val o = np.getFileSystem(spark.sparkContext.hadoopConfiguration).create(np, false)
    try o.write(note.getBytes("UTF-8")) finally o.close()
  }
}
