package graft.store

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import graft.dtdl.{DtdlInterface, ModelRegistry}
import graft.graph.TwinGraph

/** The store surface the API layer serves (r17): everything
  * [[graft.api.HttpApi]] touches, implemented by BOTH the driver-resident
  * [[TwinStore]] (fixture scale, the reference's in-process shape) and
  * the table-backed [[TableTwinStore]] (snapshot + journal, million-twin
  * scale) — so the SAME HTTP layer, continuation tokens and rate limits
  * serve either backing, and the sf10 serving legs can run end-to-end
  * through the API (reference capacity claim includes the API surface,
  * README.md:35 + performance.mdx:28). */
trait DigitalTwinStore {
  // ---- twins ----
  def getTwin(dtId: String): JsonNode
  def createOrReplaceTwin(dtId: String, docJson: String,
      ifNoneMatchStar: Boolean = false,
      lastUpdatedBy: Option[String] = None): JsonNode
  def createOrReplaceTwins(docs: Seq[String]): Seq[Either[String, JsonNode]]
  def patchTwin(dtId: String, patchJson: String,
      ifMatch: Option[String] = None,
      lastUpdatedBy: Option[String] = None): JsonNode
  def deleteTwin(dtId: String, ifMatch: Option[String] = None): Unit
  def getComponent(dtId: String, componentName: String): JsonNode
  def updateComponent(dtId: String, componentName: String,
      patchJson: String): JsonNode
  // ---- relationships ----
  def getRelationship(sourceId: String, relId: String): JsonNode
  def createOrReplaceRelationship(sourceId: String, relId: String,
      docJson: String, ifNoneMatchStar: Boolean = false): JsonNode
  def createOrReplaceRelationships(docs: Seq[String])
      : Seq[Either[String, JsonNode]]
  def patchRelationship(sourceId: String, relId: String,
      patchJson: String): JsonNode
  def deleteRelationship(sourceId: String, relId: String): Unit
  def listRelationships(sourceId: String,
      relationshipName: Option[String] = None): Seq[JsonNode]
  def listIncomingRelationships(targetId: String): Seq[JsonNode]
  // ---- models ----
  def models: ModelRegistry
  def createModels(dtdlJsons: Seq[String]): Seq[DtdlInterface]
  def getModel(id: String): DtdlInterface
  def getModelWithBaseContents(id: String): DtdlInterface
  def deleteModel(id: String): Unit
  def deleteAllModels(): Unit
  def searchModels(query: Option[String], vector: Option[Seq[Double]],
      limit: Int = 10): Seq[DtdlInterface]
  def updateModelEmbedding(modelId: String, embedding: Seq[Double]): Unit
  // ---- telemetry / graph projections ----
  def publishTelemetry(dtId: String, payload: String,
      componentName: Option[String] = None): Unit
  def currentSeq: Long
  /** Bumped whenever the at-rest snapshot behind [[toGraph]] is replaced
    * (a fold or an import). A fold can delete the files a built graph
    * reads without moving [[currentSeq]], so anything memoized on a
    * graph must key on both. Driver-resident stores have no snapshot. */
  def snapshotGeneration: Long = 0L
  /** The current state as the columnar tables every query operator runs
    * on, consistent with the last CRUD call. The driver-resident store
    * projects its maps; the table-backed store returns its at-rest
    * snapshot with the driver-held journal-tail overlay applied (the
    * latest event per key since the last fold, bounded by the fold
    * cadence), so building it after a write runs no Spark job and the
    * resulting plans never re-read the journal. */
  def toGraph(spark: SparkSession): TwinGraph
  def graphAt(spark: SparkSession, asOfSeq: Long): TwinGraph
  // ---- enumeration (job surface: delete-all sweeps) ----
  def twinIds: Seq[String]
  def relationshipKeys: Seq[(String, String)]

  /** Up to `n` EXISTING twin ids strictly greater than `after` in unsigned
    * UTF-8 order ([[Key.ordering]]) — the delete job's cursor walk (D14).
    * Driver traffic per call is ≤ n ids, never the full id universe; the
    * table-backed override streams the key-sorted snapshot through the
    * point reader with zero Spark jobs. The default serves driver-resident
    * stores from their key map. */
  def twinIdsAfter(after: Option[String], n: Int): Seq[String] =
    twinIds.filter(id => after.forall(a => Key.cmp(id, a) > 0))
      .sorted(Key.ordering).take(n)

  /** Relationship analogue of [[twinIdsAfter]]: cursor over
    * (sourceId, relationshipId) pairs in [[Key.pairOrdering]]. */
  def relationshipKeysAfter(after: Option[(String, String)], n: Int)
      : Seq[(String, String)] =
    relationshipKeys.filter(k => after.forall(a => Key.cmpPair(k, a) > 0))
      .sorted(Key.pairOrdering).take(n)

  /** Group several CRUD calls into ONE durability unit where the backing
    * supports it (the table store folds the group into a single journal
    * append instead of one parquet write per op). Default: plain
    * execution — driver-resident stores have no per-op write to batch. */
  def batch[T](f: => T): T = f

  /** Live (twins, relationships) corpus counts — used by the bulk delete
    * job to persist counts BEFORE truncating, so a crash between the
    * durable truncate and the next checkpoint save cannot lose them.
    * Table-backed override counts via two distributed scans; the default
    * walks the driver-resident id universe. */
  def countEntities(): (Long, Long) =
    (twinIds.size.toLong, relationshipKeys.size.toLong)

  /** Bulk delete-ALL fast path, returning (twinsDeleted,
    * relationshipsDeleted). The table-backed override journals every
    * delete in ONE distributed append and checkpoints to an empty
    * snapshot — O(one corpus scan), where the per-key walk would pay a
    * point write per entity. Default: the batched cursor walk. */
  def truncateEntities(): (Long, Long) = {
    var twins = 0L
    var rels = 0L
    var rk = relationshipKeysAfter(None, 100)
    while (rk.nonEmpty) {
      rk.foreach { case (s, r) => deleteRelationship(s, r) }
      rels += rk.size
      rk = relationshipKeysAfter(None, 100)
    }
    var tk = twinIdsAfter(None, 100)
    while (tk.nonEmpty) {
      tk.foreach(deleteTwin(_))
      twins += tk.size
      tk = twinIdsAfter(None, 100)
    }
    (twins, rels)
  }
}
