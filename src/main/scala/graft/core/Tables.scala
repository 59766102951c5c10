package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Canonical storage schemas for the graph engine (SURVEY §1 / §7).
  *
  * The reference stores each twin/relationship as one schemaless JSONB doc
  * (AGE agtype) keyed by unique indexes
  * (/root/reference/src/AgeDigitalTwins/GraphInitialization.cs:12-41).
  * Spark-first layout: system properties promoted to typed columns — so
  * joins, point lookups and model filters are columnar, prunable and
  * pushdown-able — with the full document kept as a JSON string column for
  * schemaless property access.
  *
  * At 100 TB: `twins` is partitioned by `model_id` (the reference's btree on
  * $metadata.$model is exactly this access path) and sorted by `dt_id` within
  * partitions for file-skipping point lookups; `relationships` is bucketed on
  * `source_id` so traversals co-locate with their source twin partition.
  */
object Tables {

  val twinsSchema: StructType = StructType(Seq(
    StructField("dt_id", StringType, nullable = false),
    StructField("model_id", StringType, nullable = false),
    StructField("etag", StringType),
    StructField("last_update_time", StringType), // ISO-8601, like the reference
    StructField("properties", StringType)        // full JSON doc
  ))

  val relationshipsSchema: StructType = StructType(Seq(
    StructField("relationship_id", StringType, nullable = false),
    StructField("source_id", StringType, nullable = false),
    StructField("target_id", StringType, nullable = false),
    StructField("relationship_name", StringType, nullable = false),
    StructField("etag", StringType),
    StructField("properties", StringType)
  ))

  val modelsSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("bases", ArrayType(StringType)),
    StructField("descendants", ArrayType(StringType)),
    StructField("display_name", StringType),
    StructField("decommissioned", BooleanType),
    StructField("upload_time", StringType),
    StructField("dtdl", StringType),
    // pgvector-style model embedding (reference Models.cs:859-880:
    // `SET m.embedding = [..]::vector`); null until one is uploaded
    StructField("embedding", ArrayType(DoubleType))
  ))

  /** One logical row per mutation — this makes the reference's WAL
    * row-folding (SURVEY §2 E3) unnecessary while producing identical
    * downstream events. */
  val mutationsSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("ts", StringType, nullable = false),
    StructField("entity_kind", StringType), // Twin | Relationship | Telemetry
    StructField("entity_id", StringType),
    StructField("event_type", StringType),  // Create | Update | Delete | Telemetry
    StructField("old_json", StringType),
    StructField("new_json", StringType)
  ))
}

/** Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md). */
object Td {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** events.parquet has shipped with two physical layouts for `ts`:
    * TIMESTAMP(NANOS) — whose schema Spark rejects unless the session sets
    * `nanosAsLong`, so it is read as a long and floor-divided to micros —
    * and plain `timestamp[us]` (isAdjustedToUTC=false → TIMESTAMP_NTZ).
    * Only the NANOS layout sets that conf, and only once schema inference
    * has rejected the file; every other layout leaves the caller's session
    * as it was. Branch on the read schema so all load to a UTC microsecond
    * TimestampType with identical values (DuckDB `epoch_us` floor
    * semantics either way). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw =
      try table(s, d, "events")
      catch { case e: Exception if isNanosTimestamp(e) =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        table(s, d, "events")
      }
    raw.schema("ts").dataType match {
      case LongType =>
        // INTEGER `div`, not `/`: epoch nanos (~1.7e18) exceed double's
        // 2^53 exact range, so float division drifts by up to ~256 ns and
        // occasionally rounds across a microsecond boundary. `div`
        // truncates toward zero, but floor semantics must hold for
        // pre-1970 instants too: subtract the borrow when the remainder
        // is negative.
        raw.withColumn("ts", timestamp_micros(
          expr("(ts div 1000) - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")))
      case TimestampType => raw
      case _ =>
        // TIMESTAMP_NTZ: the stored wall-clock is UTC; sessions here run
        // with spark.sql.session.timeZone=UTC, so the cast is an identity
        // on the stored microseconds.
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  /** Spark's "Illegal Parquet type: INT64 (TIMESTAMP(NANOS,…))" schema
    * error, raised on the driver or wrapped in a failed footer-read job. */
  private def isNanosTimestamp(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("TIMESTAMP(NANOS"))

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
