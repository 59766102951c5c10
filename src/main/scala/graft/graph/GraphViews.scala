package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Td

/** Deterministic twin-graph derivation from the driver's TPC-H-ish testdata
  * (TESTDATA.md), so graph operators can be exercised — and oracle-checked
  * in plain SQL — at any scale factor.
  *
  * Ontology (a "place" hierarchy that exercises DTDL inheritance exactly
  * like the reference's CelestialBody→Planet→HabitablePlanet fixture,
  * /root/reference/src/AgeDigitalTwins.Test/SampleData.cs:122-201):
  *
  *   dtmi:graft:Place;1          (base)
  *     ▲ extends
  *   dtmi:graft:Region;1         twins R<r_regionkey>
  *     ▲ extends
  *   dtmi:graft:Nation;1         twins N<n_nationkey>
  *     ▲ extends
  *   dtmi:graft:Customer;1       twins C<c_custkey>
  *   dtmi:graft:Supplier;1       (extends Nation) twins S<s_suppkey>
  *
  * Edges: N→R `in_region`, C→N `located_in`, S→N `located_in`.
  */
object GraphViews {

  val Place = "dtmi:graft:Place;1"
  val Region = "dtmi:graft:Region;1"
  val Nation = "dtmi:graft:Nation;1"
  val Customer = "dtmi:graft:Customer;1"
  val Supplier = "dtmi:graft:Supplier;1"

  def models(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // Embeddings are fixed dyadic-rational vectors (exact in binary64, so
    // L2 ranking is bit-reproducible in any engine — the DuckDB oracle
    // recomputes them) standing in for a real model-description encoder.
    Seq(
      (Place, Seq.empty[String], Seq(Region, Nation, Customer, Supplier),
        "Place", Seq(0.0, 0.0, 1.0)),
      (Region, Seq(Place), Seq(Nation, Customer, Supplier),
        "Region", Seq(1.0, 0.25, 0.5)),
      (Nation, Seq(Region, Place), Seq(Customer, Supplier),
        "Nation", Seq(2.0, 0.5, 0.25)),
      (Customer, Seq(Nation, Region, Place), Seq.empty[String],
        "Customer", Seq(3.0, 0.75, 0.0)),
      (Supplier, Seq(Nation, Region, Place), Seq.empty[String],
        "Supplier", Seq(3.0, -0.75, 0.25))
    ).toDF("id", "bases", "descendants", "display_name", "embedding")
      .withColumn("decommissioned", lit(false))
      .withColumn("upload_time", lit("2026-01-01T00:00:00Z"))
      .withColumn("dtdl", lit(null).cast("string"))
      .select("id", "bases", "descendants", "display_name",
        "decommissioned", "upload_time", "dtdl", "embedding")
  }

  def twins(spark: SparkSession, dir: String): DataFrame = {
    val r = Td.region(spark, dir).select(
      concat(lit("R"), col("r_regionkey")).as("dt_id"),
      lit(Region).as("model_id"),
      col("r_name").as("name"),
      lit(null).cast("double").as("acctbal"),
      lit(null).cast("string").as("mktsegment"))
    val n = Td.nation(spark, dir).select(
      concat(lit("N"), col("n_nationkey")).as("dt_id"),
      lit(Nation).as("model_id"),
      col("n_name").as("name"),
      lit(null).cast("double").as("acctbal"),
      lit(null).cast("string").as("mktsegment"))
    val c = Td.customer(spark, dir).select(
      concat(lit("C"), col("c_custkey")).as("dt_id"),
      lit(Customer).as("model_id"),
      col("c_name").as("name"),
      col("c_acctbal").as("acctbal"),
      col("c_mktsegment").as("mktsegment"))
    val s = Td.supplier(spark, dir).select(
      concat(lit("S"), col("s_suppkey")).as("dt_id"),
      lit(Supplier).as("model_id"),
      col("s_name").as("name"),
      col("s_acctbal").as("acctbal"),
      lit(null).cast("string").as("mktsegment"))
    r.unionByName(n).unionByName(c).unionByName(s)
      .withColumn("etag", lit(null).cast("string"))
      .withColumn("last_update_time", lit("2026-01-01T00:00:00Z"))
      .withColumn("properties",
        to_json(struct(col("dt_id").as("$dtId"), col("name"),
          col("acctbal"), col("mktsegment"),
          when(col("mktsegment").isNotNull, array(col("mktsegment")))
            .as("tags"))))
      .select("dt_id", "model_id", "etag", "last_update_time", "properties")
  }

  def relationships(spark: SparkSession, dir: String): DataFrame = {
    val nr = Td.nation(spark, dir).select(
      concat(lit("N"), col("n_nationkey"), lit("-R"), col("n_regionkey")).as("relationship_id"),
      concat(lit("N"), col("n_nationkey")).as("source_id"),
      concat(lit("R"), col("n_regionkey")).as("target_id"),
      lit("in_region").as("relationship_name"))
    val cn = Td.customer(spark, dir).select(
      concat(lit("C"), col("c_custkey"), lit("-N"), col("c_nationkey")).as("relationship_id"),
      concat(lit("C"), col("c_custkey")).as("source_id"),
      concat(lit("N"), col("c_nationkey")).as("target_id"),
      lit("located_in").as("relationship_name"))
    val sn = Td.supplier(spark, dir).select(
      concat(lit("S"), col("s_suppkey"), lit("-N"), col("s_nationkey")).as("relationship_id"),
      concat(lit("S"), col("s_suppkey")).as("source_id"),
      concat(lit("N"), col("s_nationkey")).as("target_id"),
      lit("located_in").as("relationship_name"))
    nr.unionByName(cn).unionByName(sn)
      .withColumn("etag", lit(null).cast("string"))
      .withColumn("properties", lit("{}"))
  }

  /** Rewrite view-shaped twin rows (bare `{props...}` in `properties`)
    * into the STORE's canonical form, where `properties` holds the FULL
    * twin document (`$dtId` + `$metadata` + `$etag` + properties at top
    * level) — the shape every CRUD fault-in and journal fold parses.
    * The envelope is built with `to_json(struct(...))` so ids/timestamps
    * are JSON-escaped correctly; the props object (already valid JSON,
    * emitted by this object's `to_json`) is spliced in textually. Use
    * before [[graft.store.TableTwinStore.importGraph]] when bulk-loading
    * a derived view. */
  def storeCanonicalTwins(twins: DataFrame): DataFrame = {
    val envelope = to_json(struct(
      col("dt_id").as("$dtId"),
      struct(col("model_id").as("$model"),
        col("last_update_time").as("$lastUpdateTime")).as("$metadata"),
      col("etag").as("$etag")))
    val doc = when(col("properties").isNull || col("properties") === "{}",
        envelope)
      .otherwise(concat(
        expr("substring(__env, 1, length(__env) - 1)"),
        lit(","), expr("substring(properties, 2)")))
    twins.withColumn("__env", envelope)
      .withColumn("properties", doc).drop("__env")
  }

  /** Store-canonical relationship rows: `properties` becomes the full
    * relationship document (`$relationshipId`/`$sourceId`/`$targetId`/
    * `$relationshipName` + properties). Companion of
    * [[storeCanonicalTwins]] for bulk imports. */
  def storeCanonicalRels(rels: DataFrame): DataFrame = {
    val envelope = to_json(struct(
      col("relationship_id").as("$relationshipId"),
      col("source_id").as("$sourceId"),
      col("target_id").as("$targetId"),
      col("relationship_name").as("$relationshipName")))
    val doc = when(col("properties").isNull || col("properties") === "{}",
        envelope)
      .otherwise(concat(
        expr("substring(__env, 1, length(__env) - 1)"),
        lit(","), expr("substring(properties, 2)")))
    rels.withColumn("__env", envelope)
      .withColumn("properties", doc).drop("__env")
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), TwinGraph]()

  /** Memoized per (session, dir) with persisted tables — the derivation is
    * deterministic, and consecutive queries in one session (Verify/Bench)
    * shouldn't re-scan four parquet files each. `spark.catalog.clearCache`
    * UNREGISTERS a persist (the plan does not lazily re-cache on its own),
    * so re-register whenever the memoized frames come back uncached —
    * otherwise every query after a session-hygiene pass re-derives the
    * graph from parquet on each use. */
  def graph(spark: SparkSession, dir: String): TwinGraph = {
    import org.apache.spark.storage.StorageLevel
    val g = memo.computeIfAbsent((spark, dir), { _ =>
      // Dual-written variant column (r17, SURVEY §1.2/§1.3): the parsed
      // form of `properties` rides the SAME persisted frame, so the JSON
      // parse is paid once at cache fill — every property the planner
      // touches afterwards is an O(1) variant_get against cached binary,
      // where the JSON-string route re-parses the full document once PER
      // property per operator (filters don't subexpression-eliminate, so
      // an expression-level parse_json would re-parse k times too —
      // measured in SCALING.md). At the 100 TB tier the same column is
      // what a store would shred into parquet at write time.
      def withVariant(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("properties_v", try_parse_json(col("properties")))
      TwinGraph(
        withVariant(twins(spark, dir))
          .persist(StorageLevel.MEMORY_AND_DISK),
        withVariant(relationships(spark, dir))
          .persist(StorageLevel.MEMORY_AND_DISK),
        models(spark))
    })
    if (g.twins.storageLevel == StorageLevel.NONE)
      g.twins.persist(StorageLevel.MEMORY_AND_DISK)
    if (g.relationships.storageLevel == StorageLevel.NONE)
      g.relationships.persist(StorageLevel.MEMORY_AND_DISK)
    g
  }
}
