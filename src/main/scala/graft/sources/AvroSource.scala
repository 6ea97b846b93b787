package graft.sources

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Avro container files as an engine source/sink, built directly on
  * the avro-java container API (Spark 4 ships `org.apache.avro` but
  * not the `spark-avro` connector, so the engine provides its own
  * bridge — the files are standard deflate-compressed Avro object
  * container files any Avro tool can read).
  *
  * Scale posture: the WRITE runs per partition (one container file
  * per partition through the Hadoop FileSystem API — works on HDFS/
  * object stores, no driver funnel); the READ parallelizes over the
  * listed files with one task per file (Avro containers are
  * block-compressed and not splittable mid-file without the sync-
  * marker scan; per-file tasks are how avro-mapred schedules them
  * too). Supported column types: long, int, double, boolean, string —
  * nullable via Avro `["null", T]` unions.
  */
object AvroSource {

  /** Spark schema → Avro record schema (nullable fields become
    * null-unions, matching what spark-avro emits). */
  def toAvroSchema(schema: StructType, name: String = "row"): Schema = {
    var fields = SchemaBuilder.record(name).namespace("graft").fields()
    schema.fields.foreach { f =>
      val base = f.dataType match {
        case LongType    => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case StringType  => Schema.create(Schema.Type.STRING)
        case other => throw new IllegalArgumentException(
          s"unsupported avro column type $other for field ${f.name}")
      }
      fields =
        if (f.nullable)
          fields.name(f.name).`type`(Schema.createUnion(
            java.util.List.of(Schema.create(Schema.Type.NULL), base)))
            .withDefault(null)
        else fields.name(f.name).`type`(base).noDefault()
    }
    fields.endRecord()
  }

  /** Distributed Avro write: one deflate-compressed container file per
    * partition, created through the Hadoop FileSystem API (so `path`
    * may be any supported filesystem, not just local disk). */
  def write(df: DataFrame, path: String): Unit = {
    val sparkSchema = df.schema
    val avroJson = toAvroSchema(sparkSchema).toString
    val conf = new SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    fs.delete(dir, true)
    fs.mkdirs(dir)
    df.rdd.foreachPartition { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val schema = new Schema.Parser().parse(avroJson)
      val file = new Path(path, f"part-$pid%05d.avro")
      val out = file.getFileSystem(conf.value).create(file, true)
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
        .setCodec(CodecFactory.deflateCodec(6))
      writer.create(schema, out)
      try {
        it.foreach { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < sparkSchema.length) {
            rec.put(i, row.get(i))
            i += 1
          }
          writer.append(rec)
        }
      } finally writer.close() // closes the stream too
    }
  }

  /** Distributed Avro read: list the container files, one task per
    * file, decode through `DataFileReader` (header schema resolved
    * against the requested reader schema — standard Avro schema
    * resolution, so column pruning and field reordering work the Avro
    * way). Returns a DataFrame with exactly `schema`. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path)
    val files = dir.getFileSystem(conf.value)
      .globStatus(new Path(dir, "part-*.avro"))
      .map(_.getPath.toString).sorted.toSeq
    val readerJson = toAvroSchema(schema).toString
    val n = schema.length
    val rdd = spark.sparkContext
      .parallelize(files, math.max(1, files.length))
      .flatMap { f =>
        val readerSchema = new Schema.Parser().parse(readerJson)
        val datum = new GenericDatumReader[GenericRecord](null, readerSchema)
        val reader = new DataFileReader[GenericRecord](
          new FsInput(new Path(f), conf.value), datum)
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = reader.hasNext
            if (!h) reader.close()
            h
          }
          def next(): Row = {
            val rec = reader.next()
            val vals = new Array[Any](n)
            var i = 0
            while (i < n) {
              vals(i) = rec.get(i) match {
                case cs: CharSequence => cs.toString // avro Utf8 → String
                case v => v
              }
              i += 1
            }
            Row.fromSeq(vals.toIndexedSeq)
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }
}
