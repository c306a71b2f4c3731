package graft.sources

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

/** Avro object-container source/sink on the classpath's core avro library
  * (no spark-avro module ships in this environment — this is the same
  * direct-format route as [[DbfSource]], but DISTRIBUTED, because Avro is
  * an ingestion format 100 TB pipelines actually meet: row-oriented
  * landing data that a curation job reads once and rewrites columnar).
  *
  * Scale shape: the reader parallelizes the FILE LIST (one task per
  * container file — Avro files are block-compressed and the natural split
  * already is the file the upstream producer wrote); each task streams
  * records through `DataFileStream` via the Hadoop FileSystem API, so the
  * same code reads local disk, HDFS, or s3a. The writer emits one
  * container per partition (`part-NNNNN.avro`) — a real distributed sink,
  * not a driver funnel. Schema travels as the Avro schema JSON string
  * (Schema objects are not serializable).
  *
  * Type mapping (both directions): boolean/int/long/float/double/string/
  * bytes; nullable = union(null, T); DateType = int/date logical type;
  * TimestampNTZ = long/local-timestamp-micros; Timestamp = long/
  * timestamp-micros; nested structs = record; array = array. Anything
  * else fails fast rather than corrupting silently.
  *
  * Reference analogue: none (the reference's interchange formats stop at
  * CSV/DBF/SQLite); beyond-reference connector surface. */
object AvroSource {

  // ---- Spark schema -> Avro schema ---------------------------------

  private def toAvro(dt: DataType, name: String, nullable: Boolean): Schema = {
    val base = dt match {
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
      case LongType => Schema.create(Schema.Type.LONG)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case StringType => Schema.create(Schema.Type.STRING)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case DateType =>
        org.apache.avro.LogicalTypes.date()
          .addToSchema(Schema.create(Schema.Type.INT))
      case TimestampNTZType =>
        org.apache.avro.LogicalTypes.localTimestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case TimestampType =>
        org.apache.avro.LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case ArrayType(et, containsNull) =>
        Schema.createArray(toAvro(et, name + "_item", containsNull))
      case StructType(fields) => record(name, fields)
      case other => throw new IllegalArgumentException(
        s"Avro sink cannot store column $name of type ${other.simpleString}")
    }
    if (nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), base) else base
  }

  private def record(name: String, fields: Array[StructField]): Schema = {
    val fs = fields.map { f =>
      new Schema.Field(f.name, toAvro(f.dataType, f.name, f.nullable),
        null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(name, null, "graft.avro", false, fs.toList.asJava)
  }

  def avroSchema(schema: StructType, name: String = "row"): Schema =
    record(name, schema.fields)

  // ---- Avro schema -> Spark schema ---------------------------------

  private def nonNull(s: Schema): (Schema, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val branches = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(branches.size == 1,
        s"only union(null, T) is supported, got ${s}")
      (branches.head, true)
    } else (s, false)

  private def toSpark(s: Schema): DataType = {
    val lt = Option(s.getLogicalType).map(_.getName).getOrElse("")
    s.getType match {
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.INT => if (lt == "date") DateType else IntegerType
      case Schema.Type.LONG =>
        if (lt == "local-timestamp-micros") TimestampNTZType
        else if (lt == "timestamp-micros") TimestampType
        else LongType
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.STRING => StringType
      case Schema.Type.BYTES => BinaryType
      case Schema.Type.ARRAY =>
        val (e, n) = nonNull(s.getElementType); ArrayType(toSpark(e), n)
      case Schema.Type.RECORD => sparkStruct(s)
      case other => throw new IllegalArgumentException(
        s"Avro source cannot map type $other")
    }
  }

  def sparkStruct(s: Schema): StructType =
    StructType(s.getFields.asScala.map { f =>
      val (b, nullable) = nonNull(f.schema())
      StructField(f.name(), toSpark(b), nullable)
    }.toSeq)

  // ---- value conversion --------------------------------------------

  private val EpochDay0 = LocalDate.ofEpochDay(0)

  private def fromAvroValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: org.apache.avro.util.Utf8, StringType) => u.toString
    case (s: String, StringType) => s
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
    case (i: java.lang.Integer, DateType) => java.sql.Date.valueOf(EpochDay0.plusDays(i.longValue()))
    case (l: java.lang.Long, TimestampNTZType) =>
      LocalDateTime.ofEpochSecond(Math.floorDiv(l, 1000000L),
        (Math.floorMod(l, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    case (l: java.lang.Long, TimestampType) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(l, 1000000L), Math.floorMod(l, 1000000L) * 1000L))
    case (r: GenericRecord, st: StructType) => recordToRow(r, st)
    case (a: java.util.Collection[_], ArrayType(et, _)) =>
      a.asScala.map(fromAvroValue(_, et)).toSeq
    case (other, _) => other
  }

  private def recordToRow(r: GenericRecord, st: StructType): Row =
    Row.fromSeq(st.fields.zipWithIndex.map { case (f, i) =>
      fromAvroValue(r.get(i), f.dataType)
    }.toSeq)

  private def toAvroValue(v: Any, dt: DataType, sch: Schema): Any = {
    if (v == null) return null
    val target = nonNull(sch)._1
    (v, dt) match {
      case (d: java.sql.Date, DateType) => d.toLocalDate.toEpochDay.toInt
      case (d: LocalDate, DateType) => d.toEpochDay.toInt
      case (t: LocalDateTime, TimestampNTZType) =>
        t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
      case (t: java.sql.Timestamp, TimestampType) =>
        val inst = t.toInstant; inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      case (t: java.sql.Timestamp, TimestampNTZType) =>
        val ldt = t.toLocalDateTime
        ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
      case (b: Array[Byte], BinaryType) => java.nio.ByteBuffer.wrap(b)
      case (r: Row, st: StructType) => rowToRecord(r, st, target)
      case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
        val items = s.map(e => toAvroValue(e, et, target.getElementType))
        new java.util.ArrayList[Any](items.asJava)
      case (other, _) => other
    }
  }

  private def rowToRecord(row: Row, st: StructType, sch: Schema): GenericRecord = {
    val rec = new GenericData.Record(sch)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      rec.put(i, toAvroValue(row.get(i), f.dataType, sch.getFields.get(i).schema()))
    }
    rec
  }

  // ---- read / write ------------------------------------------------

  /** Read a directory of Avro container files (or one file) as a
    * DataFrame: one task per file, streamed through the Hadoop FS API.
    * The schema comes from the first file and is passed to every file's
    * decoder as the READER schema, so Avro schema resolution maps each
    * file's writer fields BY NAME (a reordered-field producer round-trips
    * correctly) and a genuinely incompatible file fails fast in the
    * per-file decoder rather than mis-mapping silently. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.getPath.getName.endsWith(".avro"))
          .map(_.getPath.toString).sorted.toSeq
      else Seq(path)
    require(files.nonEmpty, s"no .avro files under $path")
    val first = {
      val in = fs.open(new Path(files.head))
      try {
        val r = new DataFileStream[GenericRecord](in,
          new GenericDatumReader[GenericRecord]())
        try r.getSchema.toString finally r.close()
      } finally in.close()
    }
    val structType = sparkStruct(new Schema.Parser().parse(first))
    val confSer = new org.apache.spark.util.SerializableConfiguration(conf)
    val rdd = spark.sparkContext.parallelize(files, files.size).mapPartitions { it =>
      // a partially consumed iterator (limit/take/abort) never reaches the
      // drained-close below — the task-completion hook closes whatever is
      // still open so handles can't leak on a long-lived executor
      val open = new java.util.ArrayList[java.io.Closeable]()
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit] { _ =>
          open.forEach(c => scala.util.Try(c.close()))
        })
      // the first file's schema is the READER (expected) schema for every
      // file: Avro then resolves each file's own writer schema against it
      // BY FIELD NAME (reordered same-typed fields land correctly) and a
      // genuinely incompatible file fails fast in the decoder instead of
      // silently mis-mapping values by position
      val expected = new Schema.Parser().parse(first)
      it.flatMap { f =>
        val pp = new Path(f)
        val in = pp.getFileSystem(confSer.value).open(pp)
        val reader = new DataFileStream[GenericRecord](in,
          new GenericDatumReader[GenericRecord](expected))
        open.add(reader); open.add(in)
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = reader.hasNext
            if (!h) {
              reader.close(); in.close()
              open.remove(reader); open.remove(in); ()
            }
            h
          }
          def next(): Row = recordToRow(reader.next(), structType)
        }
      }
    }
    spark.createDataFrame(rdd, structType)
  }

  /** Write `df` as one Avro container per partition under `dir`
    * (part-NNNNN.avro + a _SCHEMA.avsc marker), snappy-compressed. */
  def write(df: DataFrame, dir: String): Unit = {
    val st = df.schema
    val schemaJson = avroSchema(st).toString
    val conf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val d = new Path(dir)
    val fs0 = d.getFileSystem(conf.value)
    fs0.delete(d, true); fs0.mkdirs(d)
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      val sch = new Schema.Parser().parse(schemaJson)
      val part = new Path(dir, f"part-$idx%05d.avro")
      val out = part.getFileSystem(conf.value).create(part, true)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](sch))
      w.setCodec(org.apache.avro.file.CodecFactory.snappyCodec())
      w.create(sch, out)
      try rows.foreach(r => w.append(rowToRecord(r, st, sch)))
      finally w.close() // closes the underlying stream too
      Iterator.single(1)
    }.count(): Unit
    val marker = fs0.create(new Path(d, "_SCHEMA.avsc"), true)
    try marker.write(schemaJson.getBytes("UTF-8")) finally marker.close()
  }
}
