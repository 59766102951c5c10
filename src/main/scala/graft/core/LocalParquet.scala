package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Small parquet files read and written on the driver, without a Spark
  * job: a Spark job pays about 0.2 s of scheduling however few rows it
  * moves, while parquet-hadoop reads a 6 k-row file or writes a 40-row
  * one in 10-15 ms. The store's journal flush and the maintainers'
  * driver-local batches do their IO here; the files are ordinary parquet
  * that Spark readers read like their own.
  *
  * Columns are string, long, int, double or boolean; a non-nullable field
  * is `required`. */
object LocalParquet {

  private def messageType(schema: StructType): MessageType = {
    import PrimitiveTypeName._
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep =
        if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      val t = f.dataType match {
        case StringType =>
          Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType())
        case LongType => Types.primitive(INT64, rep)
        case IntegerType => Types.primitive(INT32, rep)
        case DoubleType => Types.primitive(DOUBLE, rep)
        case BooleanType => Types.primitive(BOOLEAN, rep)
        case other => throw new IllegalArgumentException(
          s"LocalParquet cannot store ${f.name}: $other")
      }
      b.addField(t.named(f.name))
    }
    b.named("spark_schema")
  }

  /** Write `rows` (in `schema`'s field order; null leaves a field unset)
    * as the snappy parquet file `path`: the file lands under a dot-prefixed
    * temp name, invisible to Spark readers, and is renamed into place, so a
    * crash mid-write leaves only an ignored dot-file. */
  def write(conf: Configuration, path: Path, schema: StructType,
      rows: Iterable[Row]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    val msg = messageType(schema)
    val fs = path.getFileSystem(conf)
    fs.mkdirs(path.getParent)
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(msg)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(msg)
      var i = 0
      while (i < schema.length) {
        if (!r.isNullAt(i)) schema(i).dataType match {
          case StringType => g.add(i, r.getString(i))
          case LongType => g.add(i, r.getLong(i))
          case IntegerType => g.add(i, r.getInt(i))
          case DoubleType => g.add(i, r.getDouble(i))
          case _ => g.add(i, r.getBoolean(i))
        }
        i += 1
      }
      writer.write(g)
    } finally writer.close()
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"parquet rename failed: $tmp -> $path")
  }

  /** The rows of `files` that `keep`, in `schema`'s field order: fields
    * are matched by name and one a file lacks reads as null, as Spark
    * reads with an explicit schema. None once more than `bound` rows
    * match. Each row group is decoded column by column (the schemas here
    * are flat), with no record assembly. */
  def read(conf: Configuration, files: Seq[Path], schema: StructType,
      keep: Row => Boolean, bound: Long): Option[Array[Row]] = {
    val out = Array.newBuilder[Row]
    var n = 0L
    val it = files.iterator
    while (it.hasNext && n <= bound) {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(it.next(), conf))
      try {
        val meta = reader.getFooter.getFileMetaData
        val fileSchema = meta.getSchema
        val cols = schema.fieldNames.map(f =>
          if (fileSchema.containsField(f))
            fileSchema.getColumnDescription(Array(f))
          else null)
        var group = reader.readNextRowGroup()
        while (group != null && n <= bound) {
          val store = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
            group, new org.apache.parquet.example.data.simple.convert
              .GroupRecordConverter(fileSchema).getRootConverter,
            fileSchema, meta.getCreatedBy)
          val rows = group.getRowCount.toInt
          val values = Array.ofDim[Any](rows, schema.length)
          var i = 0
          while (i < schema.length) {
            if (cols(i) != null) {
              val c = store.getColumnReader(cols(i))
              val defined = cols(i).getMaxDefinitionLevel
              val dt = schema(i).dataType
              var r = 0
              while (r < rows) {
                if (c.getCurrentDefinitionLevel == defined)
                  values(r)(i) = dt match {
                    case StringType => c.getBinary.toStringUsingUTF8
                    case LongType => c.getLong
                    case IntegerType => c.getInteger
                    case DoubleType => c.getDouble
                    case _ => c.getBoolean
                  }
                c.consume()
                r += 1
              }
            }
            i += 1
          }
          var r = 0
          while (r < rows && n <= bound) {
            val row: Row =
              new org.apache.spark.sql.catalyst.expressions.GenericRow(values(r))
            if (keep(row)) { out += row; n += 1 }
            r += 1
          }
          group = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    if (n > bound) None else Some(out.result())
  }

  /** The data files of parquet directory `dir` as a Spark reader lists
    * them (names starting with `_` or `.` are skipped); none when `dir` is
    * absent. */
  def dataFiles(conf: Configuration, dir: Path): Seq[Path] = {
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName)
  }
}
