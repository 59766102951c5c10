package graft.core

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The testdata loaders must survive the driver regenerating parquet with
  * a different physical schema — rounds 8-9 lost ten oracle gates because
  * events.parquet silently switched from TIMESTAMP(NANOS)-as-long to
  * timestamp[us] and the loader assumed the old layout. Every layout the
  * generator has shipped (or plausibly could) must load to the same
  * UTC-microsecond TimestampType values. */
class TdLoaderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // one pre-1970 instant (negative micros) to pin the floor-division
  // borrow, one regular instant
  private val micros = Seq(-1500001L, 1723500000123456L)

  private def writeEvents(dir: String, tsField: StructField,
      tsValue: Long => Any): Unit = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), tsField,
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = micros.zipWithIndex.map { case (us, i) =>
      org.apache.spark.sql.Row(i.toLong, tsValue(us), 1L, "click", 1.0, "{}")
    }
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def loadedMicros(dir: String): Seq[Long] = {
    val df = Td.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType,
      s"loader must normalize ts to TimestampType, got ${df.schema("ts")}")
    df.select(unix_micros(col("ts"))).orderBy(col("event_id"))
      .collect().map(_.getLong(0)).toSeq
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("ts as TIMESTAMP (instant): passes through unchanged") {
    val dir = Files.createTempDirectory("td-ts").toString
    writeEvents(dir, StructField("ts", TimestampType),
      us => java.sql.Timestamp.from(java.time.Instant.EPOCH
        .plusNanos(us * 1000)))
    spark.conf.unset(NanosAsLong) // whatever an earlier load left
    val conf = spark.conf.getOption(NanosAsLong)
    assert(loadedMicros(dir) == micros)
    assert(spark.conf.getOption(NanosAsLong) == conf,
      "loading a microsecond layout must leave the session conf as it was")
  }

  test("ts as TIMESTAMP_NTZ (timestamp[us], the current generator): identity micros") {
    val dir = Files.createTempDirectory("td-ntz").toString
    writeEvents(dir, StructField("ts", TimestampNTZType),
      us => java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt,
        java.time.ZoneOffset.UTC))
    spark.conf.unset(NanosAsLong) // whatever an earlier load left
    val conf = spark.conf.getOption(NanosAsLong)
    assert(loadedMicros(dir) == micros)
    assert(spark.conf.getOption(NanosAsLong) == conf,
      "loading a microsecond layout must leave the session conf as it was")
  }

  test("ts as LONG nanos (the r7-era layout): floor-divided to micros with borrow") {
    val dir = Files.createTempDirectory("td-long").toString
    // nanos chosen so truncating division would be off by one for the
    // negative instant: -1500000999 ns div 1000 = -1500000 (trunc) but
    // floor = -1500001 — DuckDB's epoch_us floors, so must we
    val nanos = Map(-1500001L -> -1500000999L, 1723500000123456L -> 1723500000123456999L)
    writeEvents(dir, StructField("ts", LongType), us => nanos(us))
    assert(loadedMicros(dir) == micros)
  }

  test("ts as TIMESTAMP(NANOS): the loader turns nanosAsLong on, then floors") {
    // Spark cannot write TIMESTAMP(NANOS); parquet-mr's example writer can
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("td-nanos").toString
    val schema = MessageTypeParser.parseMessageType("""message events {
      |  required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true));
      |  required int64 user_id; required binary event_type (STRING);
      |  required double value; required binary props (STRING); }""".stripMargin)
    val out = new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet")
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    val nanos = Seq(-1500000999L, 1723500000123456999L)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns)
        .append("user_id", 1L).append("event_type", "click")
        .append("value", 1.0).append("props", "{}"))
    } finally w.close()
    spark.conf.unset(NanosAsLong)
    try {
      assert(loadedMicros(dir) == micros)
      assert(spark.conf.getOption(NanosAsLong).contains("true"))
    } finally spark.conf.unset(NanosAsLong)
  }
}
