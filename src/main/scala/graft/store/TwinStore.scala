package graft.store

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.{ETag, Tables}
import graft.dtdl.{Dtdl, DtdlInterface, ModelRegistry}
import graft.graph.TwinGraph
import graft.json.{Json, JsonPatch, PatchOp}
import scala.jdk.CollectionConverters._

final case class StoreException(status: Int, msg: String)
  extends RuntimeException(msg)

final case class MutationEvent(seq: Long, ts: String, eventType: String,
    oldJson: String, newJson: String)

/** The write path (SURVEY §2.D): create/replace/patch/delete for twins,
  * relationships and models, with DTDL validation, metadata stamping, ETag
  * preconditions, and a one-row-per-logical-operation mutation log that
  * feeds the streaming pipeline (making the reference's WAL row-folding
  * operator E3 unnecessary by construction).
  *
  * CRUD is driver-side state (the reference's CRUD is row-at-a-time against
  * Postgres — OLTP, not a Spark workload); `toGraph`/`saveTables` project
  * the state into the columnar layout every query operator runs on. Bulk
  * ingest (import jobs, batch upserts) goes through the same validation
  * functions applied set-wise. At cluster scale the same merge semantics
  * map 1:1 onto Delta MERGE INTO keyed on dt_id / (source_id,
  * relationship_id) (SURVEY §2 B15).
  */
final class TwinStore(
    val clock: () => String = () => java.time.Instant.now().toString,
    /** Schema-level relationship validation is a DELIBERATE SUPERSET of
      * the reference: AgeDigitalTwins validates twin properties against
      * the model but performs no model-based validation of relationship
      * documents (its create path checks only the identity fields, and
      * `UpdateRelationshipAsync` carries an explicit "TODO: Add
      * validation logic" — Relationships.cs:260-420). We validate
      * declared relationship properties and the declared target model on
      * write by default; set false for reference-exact leniency (e.g. a
      * migration replaying documents that predate their schemas). */
    val validateRelationshipSchemas: Boolean = true)
    extends DigitalTwinStore {

  private val twins = collection.mutable.LinkedHashMap[String, ObjectNode]()
  private val rels = collection.mutable.LinkedHashMap[(String, String), ObjectNode]()
  private var registry = ModelRegistry(Map.empty)
  private val mutationLog = collection.mutable.ArrayBuffer[MutationEvent]()
  private var seq = 0L

  def models: ModelRegistry = registry
  def mutations: Seq[MutationEvent] = mutationLog.toSeq
  /** The log from index `from` on — O(tail), the prefix is not copied. */
  def mutationsFrom(from: Int): Seq[MutationEvent] =
    mutationLog.view.drop(from).toSeq
  def twinIds: Seq[String] = twins.keys.toSeq
  def relationshipKeys: Seq[(String, String)] = rels.keys.toSeq
  def hasTwin(dtId: String): Boolean = twins.contains(dtId)
  def hasRelationship(sourceId: String, relId: String): Boolean =
    rels.contains((sourceId, relId))
  def currentSeq: Long = seq

  /** Table-store bulk-truncate hooks: drop every entity WITHOUT logging
    * (the caller journaled the deletes itself, set-wise) and fast-forward
    * the seq counter past the bulk rows so later ops stay ordered. */
  private[store] def clearEntities(): Unit = { twins.clear(); rels.clear() }
  private[store] def advanceSeq(to: Long): Unit = if (to > seq) seq = to
  /** Table-store fold hook: forget the first `n` log entries once they are
    * journaled and folded into a snapshot. */
  private[store] def dropMutations(n: Int): Unit = mutationLog.remove(0, n)

  // ---- restore hooks (table-backed mode): rebuild state from a snapshot
  // without validation, stamping or mutation-logging — the docs were
  // validated when first written.
  private[store] def restoreTwin(doc: ObjectNode): Unit =
    twins(doc.get("$dtId").asText()) = doc
  private[store] def restoreRelationship(doc: ObjectNode): Unit =
    rels((doc.get("$sourceId").asText(), doc.get("$relationshipId").asText())) = doc
  private[store] def restoreSeq(n: Long): Unit = { seq = n }
  private[store] def deleteTwinUnlogged(id: String): Unit = twins.remove(id)
  private[store] def deleteRelationshipUnlogged(src: String, rid: String): Unit =
    rels.remove((src, rid))

  private def log(eventType: String, oldDoc: JsonNode, newDoc: JsonNode): Unit = {
    seq += 1
    mutationLog += MutationEvent(seq, clock(),
      eventType,
      if (oldDoc == null) null else Json.render(oldDoc),
      if (newDoc == null) null else Json.render(newDoc))
  }

  // ---------------- models (D9/D10) ----------------

  /** Parse + insert a batch of DTDL models; all-or-nothing like the
    * reference (Models.cs:248-540). Duplicates rejected. */
  def createModels(dtdlJsons: Seq[String]): Seq[DtdlInterface] = {
    val parsed = dtdlJsons.map(j => Dtdl.parseInterface(j) match {
      case Right(m) => m
      case Left(err) => throw StoreException(400, err)
    })
    val dupIn = parsed.groupBy(_.id).collect { case (id, ms) if ms.size > 1 => id }
    if (dupIn.nonEmpty)
      throw StoreException(400, s"duplicate model ids in request: ${dupIn.mkString(",")}")
    val existing = parsed.filter(m => registry.models.contains(m.id))
    if (existing.nonEmpty)
      throw StoreException(409, s"models already exist: ${existing.map(_.id).mkString(",")}")
    // every extends/component reference must resolve within request ∪ store
    // (ModelsTests.cs:146 CreateModels_MissingDependency_ThrowsFailedToResolve)
    val known = registry.models.keySet ++ parsed.map(_.id)
    val unresolved = parsed.flatMap(m =>
      (m.extendsIds ++ m.components.values).filterNot(known).map(d => s"${m.id} -> $d"))
    if (unresolved.nonEmpty)
      throw StoreException(400,
        s"failed to resolve model dependencies: ${unresolved.mkString(",")}")
    // DTDL forbids nested components: the interface a Component's schema
    // names may not itself declare Components, directly or via extends
    // (DTDL v2/v3 §Component; DTDLParser's reference behavior, exercised
    // by the reference's model validation in Validation/). Checked over
    // request ∪ store so a new model can't nest through a stored one.
    val combined = registry.models ++ parsed.map(m => m.id -> m)
    val basesAll = Dtdl.computeBases(combined)
    def declaresComponents(mid: String): Boolean =
      (mid +: basesAll.getOrElse(mid, Nil))
        .flatMap(combined.get).exists(_.components.nonEmpty)
    val nested = parsed.flatMap(m => m.components.collect {
      case (name, target) if declaresComponents(target) =>
        s"${m.id}: component '$name' -> $target"
    })
    if (nested.nonEmpty)
      throw StoreException(400,
        s"component schemas may not declare components: ${nested.mkString(",")}")
    registry = ModelRegistry(registry.models ++ parsed.map(m => m.id -> m))
    parsed
  }

  def getModel(id: String): DtdlInterface =
    registry.models.getOrElse(id, throw StoreException(404, s"Model $id not found"))

  /** Model with the full inherited surface merged in — properties,
    * relationships, components and telemetry from every base interface
    * (nearest definition wins), like GetModelAsync with
    * includeModelDefinition/base contents (ModelsTests.cs:581-650). */
  def getModelWithBaseContents(id: String): DtdlInterface = {
    getModel(id)
    val chain = registry.chain(id) // self first, then bases in order
    chain.reduceRight { (nearer, base) =>
      nearer.copy(
        properties = base.properties ++ nearer.properties,
        relationships = base.relationships ++ nearer.relationships,
        components = base.components ++ nearer.components,
        telemetry = base.telemetry ++ nearer.telemetry)
    }
  }

  /** Delete one model; fails while other models extend/reference it
    * (Models.cs:566-599). */
  def deleteModel(id: String): Unit = {
    getModel(id)
    val dependents = registry.models.values.filter(m =>
      m.id != id && (m.extendsIds.contains(id) || m.components.valuesIterator.contains(id)))
    if (dependents.nonEmpty)
      throw StoreException(409,
        s"model $id has dependents: ${dependents.map(_.id).mkString(",")}")
    registry = ModelRegistry(registry.models - id)
    modelEmbeddings.remove(id): Unit
  }

  def deleteAllModels(): Unit = {
    registry = ModelRegistry(Map.empty)
    modelEmbeddings.clear()
  }

  // ---------------- model embeddings + semantic search ----------------

  private val modelEmbeddings = collection.mutable.Map[String, Seq[Double]]()

  /** Store/replace the vector embedding of one model (the reference's
    * UpdateModelEmbeddingAsync, Models.cs:859-880: `SET m.embedding =
    * [..]::vector`). 404 on a missing model. */
  def updateModelEmbedding(modelId: String, embedding: Seq[Double]): Unit = {
    getModel(modelId)
    if (embedding.isEmpty)
      throw StoreException(400, "embedding must be non-empty")
    modelEmbeddings(modelId) = embedding
  }

  def modelEmbedding(modelId: String): Option[Seq[Double]] =
    modelEmbeddings.get(modelId)

  /** Hybrid lexical + vector model search (SearchModelsAsync,
    * Models.cs:883-960): with a vector, rank ascending by L2 distance to
    * it (lexical needle as a filter when also given; models without an
    * embedding sort last); lexical-only filters and orders by id; with
    * neither, plain list. The model catalog is registry-resident
    * (catalog-metadata-sized), so this ranks driver-side — the
    * table-scale form is [[graft.graph.TwinGraph.searchModelsSemantic]]
    * over the `models` table. */
  def searchModels(query: Option[String], vector: Option[Seq[Double]],
      limit: Int): Seq[DtdlInterface] = {
    val needle = query.map(_.toLowerCase).filter(_.nonEmpty)
    val lexical = registry.models.values.filter { m =>
      needle.forall(n => m.id.toLowerCase.contains(n) ||
        m.displayName.exists(_.toLowerCase.contains(n)))
    }.toSeq
    vector match {
      case Some(v) =>
        def l2sq(e: Seq[Double]): Double =
          e.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
        lexical.sortBy { m =>
          val d = modelEmbeddings.get(m.id).filter(_.size == v.size).map(l2sq)
          (d.isEmpty, d.getOrElse(0.0), m.id) // nulls last, then distance, then id
        }.take(limit)
      case None => lexical.sortBy(_.id).take(limit)
    }
  }

  // ---------------- twins (D1-D5) ----------------

  /** Create or replace (D1): structural checks, DTDL validation, metadata
    * stamping, ETag, MERGE, mutation log. Returns the stored doc. */
  def createOrReplaceTwin(dtId: String, docJson: String,
      ifNoneMatchStar: Boolean, lastUpdatedBy: Option[String])
      : JsonNode = {
    val doc = Json.tryParse(docJson)
      .getOrElse(throw StoreException(400, "invalid JSON"))
      .asInstanceOf[ObjectNode]
    Json.get(doc, "/$dtId").map(_.asText()).foreach { bodyId =>
      if (bodyId != dtId)
        throw StoreException(400, s"$$dtId '$bodyId' does not match id '$dtId'")
    }
    val old = twins.get(dtId).orNull
    if (ifNoneMatchStar && old != null)
      throw StoreException(412, s"twin $dtId already exists")
    doc.put("$dtId", dtId)
    registry.validateTwin(doc) match {
      case Left(err) => throw StoreException(400, err)
      case Right(()) =>
    }
    val stored = stampTwin(doc, old, lastUpdatedBy)
    twins(dtId) = stored
    log(if (old == null) "TwinCreate" else "TwinUpdate", old, stored)
    stored
  }

  /** Per-property lastUpdateTime stamping + $lastUpdateTime + $etag —
    * only properties whose value changed get a fresh timestamp
    * (DigitalTwins.cs:300-463). */
  private def stampTwin(doc: ObjectNode, old: JsonNode,
      lastUpdatedBy: Option[String]): ObjectNode = {
    val now = clock()
    val out = doc.deepCopy[ObjectNode]()
    val meta = out.get("$metadata").asInstanceOf[ObjectNode]
    for (k <- out.properties().asScala.map(_.getKey).toSeq if !k.startsWith("$")) {
      val changed = old == null || old.get(k) == null || old.get(k) != out.get(k)
      val prevMeta = if (old != null) Json.get(old, s"/$$metadata/${k}").orNull else null
      if (changed || prevMeta == null) {
        val pm = Json.obj()
        pm.put("lastUpdateTime", now)
        // an explicitly-declared sourceTime in the incoming doc's metadata
        // survives stamping (DigitalTwins.cs SourceTime semantics)
        Json.get(doc, s"/$$metadata/${Json.escapeToken(k)}/sourceTime")
          .foreach(st => pm.set[JsonNode]("sourceTime", st.deepCopy[JsonNode]()))
        lastUpdatedBy.foreach(u => pm.put("lastUpdatedBy", u))
        meta.set[JsonNode](k, pm)
      } else meta.set[JsonNode](k, prevMeta.deepCopy[JsonNode]())
    }
    meta.put("$lastUpdateTime", now)
    out.put("$etag", ETag.generate(out.get("$dtId").asText(), now))
    out
  }

  def getTwin(dtId: String): JsonNode =
    twins.getOrElse(dtId, throw StoreException(404, s"Digital twin $dtId not found"))

  /** JSON-Patch update (D3): apply, re-validate, stamp only patched
    * top-level props, new etag (DigitalTwins.cs:558-758). */
  def patchTwin(dtId: String, patchJson: String, ifMatch: Option[String],
      lastUpdatedBy: Option[String]): JsonNode =
    patchTwin(dtId, patchJson, ifMatch, lastUpdatedBy, None)

  def patchTwin(dtId: String, patchJson: String, ifMatch: Option[String],
      lastUpdatedBy: Option[String],
      componentName: Option[String]): JsonNode = {
    val old = getTwin(dtId).asInstanceOf[ObjectNode]
    ifMatch.foreach { m =>
      val cur = Option(old.get("$etag")).map(_.asText()).getOrElse("")
      if (!ETag.matches(m, cur)) throw StoreException(412, "etag mismatch")
    }
    val ops = JsonPatch.parseOps(patchJson)
    if (ops.exists(o => o.path == "/$dtId" || o.path.startsWith("/$metadata/$model")
        && o.op == "remove"))
      throw StoreException(400, "cannot patch system properties")
    val patched = JsonPatch.apply(old, ops).asInstanceOf[ObjectNode]
    registry.validateTwin(patched) match {
      case Left(err) => throw StoreException(400, err)
      case Right(()) =>
    }
    // changed top-level props = first segment of each op path (DigitalTwins.cs:662-670)
    val changed = ops.map(o => Json.splitPointer(o.path))
      .collect { case first :: _ if !first.startsWith("$") => first }.toSet
    val now = clock()
    val meta = patched.get("$metadata").asInstanceOf[ObjectNode]
    for (k <- changed if patched.has(k)) {
      val pm = Json.obj()
      pm.put("lastUpdateTime", now)
      // a sourceTime set by this patch (or carried in the doc) survives the
      // restamp — DigitalTwinsTests.cs:357-398 patches /$metadata/x/sourceTime
      // alongside the value and reads it back
      Json.get(patched, s"/$$metadata/${Json.escapeToken(k)}/sourceTime")
        .foreach(st => pm.set[JsonNode]("sourceTime", st.deepCopy[JsonNode]()))
      lastUpdatedBy.foreach(u => pm.put("lastUpdatedBy", u))
      meta.set[JsonNode](k, pm)
    }
    for (k <- changed if !patched.has(k)) meta.remove(k)
    // A component update also stamps the component's own inner
    // $metadata.$lastUpdateTime, creating the object if absent
    // (Components.cs:297-331 stamps all three: twin $lastUpdateTime,
    // component $metadata.$lastUpdateTime, twin $metadata.<comp>).
    componentName.foreach { cn =>
      patched.get(cn) match {
        case o: ObjectNode =>
          val cm = Option(o.get("$metadata")).collect { case m: ObjectNode => m }
            .getOrElse {
              val m = Json.obj(); o.set[JsonNode]("$metadata", m); m
            }
          cm.put("$lastUpdateTime", now)
        case _ =>
      }
    }
    meta.put("$lastUpdateTime", now)
    patched.put("$etag", ETag.generate(dtId, now))
    twins(dtId) = patched
    log("TwinUpdate", old, patched)
    patched
  }

  def deleteTwin(dtId: String, ifMatch: Option[String]): Unit = {
    val old = getTwin(dtId)
    ifMatch.foreach { m =>
      val cur = Option(old.get("$etag")).map(_.asText()).getOrElse("")
      if (!ETag.matches(m, cur)) throw StoreException(412, "etag mismatch")
    }
    if (rels.keysIterator.exists(_._1 == dtId) ||
        rels.valuesIterator.exists(r => r.get("$targetId").asText() == dtId))
      throw StoreException(400, s"twin $dtId still has relationships")
    twins.remove(dtId)
    log("TwinDelete", old, null)
  }

  /** Batch upsert (D5): ≤100 docs, per-item results. */
  def createOrReplaceTwins(docs: Seq[String]): Seq[Either[String, JsonNode]] = {
    if (docs.size > 100) throw StoreException(400, "batch limited to 100 twins")
    docs.map { d =>
      try {
        val id = Json.tryParse(d).flatMap(n => Json.get(n, "/$dtId")).map(_.asText())
          .getOrElse(throw StoreException(400, "$dtId required"))
        Right(createOrReplaceTwin(id, d))
      } catch { case e: StoreException => Left(e.msg) }
    }
  }

  /** Batch relationship upsert (the POST /relationships batch endpoint,
    * RelationshipsEndpoints.cs:198-220): per-item outcome, one failure
    * never aborts the batch. */
  def createOrReplaceRelationships(docs: Seq[String]): Seq[Either[String, JsonNode]] = {
    if (docs.size > 100) throw StoreException(400, "batch limited to 100 relationships")
    docs.map { d =>
      try {
        val n = Json.tryParse(d).getOrElse(throw StoreException(400, "invalid JSON"))
        val src = Json.get(n, "/$sourceId").map(_.asText())
          .getOrElse(throw StoreException(400, "$sourceId required"))
        val rid = Json.get(n, "/$relationshipId").map(_.asText())
          .getOrElse(throw StoreException(400, "$relationshipId required"))
        Right(createOrReplaceRelationship(src, rid, d))
      } catch { case e: StoreException => Left(e.msg) }
    }
  }

  // ---------------- components (D12) ----------------

  /** Component read: the sub-object of the twin doc for a component
    * defined on its model (Components.cs:101-143). */
  def getComponent(dtId: String, componentName: String): JsonNode = {
    val twin = getTwin(dtId)
    val modelId = Json.get(twin, "/$metadata/$model").get.asText()
    if (registry.componentModel(modelId, componentName).isEmpty)
      throw StoreException(404, s"component $componentName not defined on $modelId")
    Json.get(twin, s"/$componentName")
      .getOrElse(throw StoreException(404, s"component $componentName not set on $dtId"))
  }

  /** Component update = JSON-Patch against the component sub-path, then a
    * whole-twin rewrite (Components.cs:345-349). */
  def updateComponent(dtId: String, componentName: String, patchJson: String)
      : JsonNode = {
    getComponent(dtId, componentName) // existence + definition check
    val prefixed = JsonPatch.parseOps(patchJson).map(op =>
      op.copy(path = s"/$componentName${op.path}",
        from = if (op.from == null) null else s"/$componentName${op.from}"))
    patchTwin(dtId, JsonPatch.render(prefixed), None, None,
      componentName = Some(componentName))
  }

  // ---------------- relationships (D6-D8) ----------------

  def createOrReplaceRelationship(sourceId: String, relId: String,
      docJson: String, ifNoneMatchStar: Boolean): JsonNode = {
    val doc = Json.tryParse(docJson)
      .getOrElse(throw StoreException(400, "invalid JSON")).asInstanceOf[ObjectNode]
    val name = Option(doc.get("$relationshipName")).map(_.asText())
      .getOrElse(throw StoreException(400, "$relationshipName is required"))
    val targetId = Option(doc.get("$targetId")).map(_.asText())
      .getOrElse(throw StoreException(400, "$targetId is required"))
    Option(doc.get("$sourceId")).map(_.asText()).foreach { s =>
      if (s != sourceId) throw StoreException(400, "$sourceId mismatch")
    }
    if (!twins.contains(sourceId))
      throw StoreException(404, s"source twin $sourceId not found")
    if (!twins.contains(targetId))
      throw StoreException(404, s"target twin $targetId not found")
    val srcModel = Json.get(twins(sourceId), "/$metadata/$model").get.asText()
    if (registry.models.nonEmpty && !registry.hasRelationship(srcModel, name))
      throw StoreException(400, s"Relationship '$name' is not defined in model $srcModel")
    // property-level + target-model validation against the relationship's
    // declaration — a deliberate SUPERSET of the reference (which skips
    // model-based rel-document validation entirely; see the
    // validateRelationshipSchemas scaladoc), applying the twin-write
    // rules (DigitalTwins.cs:266-457) to relationship documents too
    if (validateRelationshipSchemas && registry.models.nonEmpty)
      registry.validateRelationship(srcModel, name, doc,
        Json.get(twins(targetId), "/$metadata/$model").map(_.asText())) match {
        case Left(err) => throw StoreException(400, err)
        case Right(()) =>
      }
    val old = rels.get((sourceId, relId)).orNull
    if (ifNoneMatchStar && old != null)
      throw StoreException(412, s"relationship $relId already exists")
    val now = clock()
    doc.put("$relationshipId", relId)
    doc.put("$sourceId", sourceId)
    doc.put("$etag", ETag.generate(s"$sourceId|$relId", now))
    rels((sourceId, relId)) = doc
    log(if (old == null) "RelationshipCreate" else "RelationshipUpdate", old, doc)
    doc
  }

  def getRelationship(sourceId: String, relId: String): JsonNode =
    rels.getOrElse((sourceId, relId),
      throw StoreException(404, s"relationship $relId not found"))

  /** A5: outgoing relationships of a twin, optionally filtered by name,
    * sorted by id for stable pagination (DigitalTwins.cs relationship
    * listing). 404s when the twin itself is absent, like the reference. */
  def listRelationships(sourceId: String,
      relationshipName: Option[String]): Seq[JsonNode] = {
    getTwin(sourceId)
    rels.collect {
      case ((s, _), doc) if s == sourceId &&
        relationshipName.forall(_ == doc.get("$relationshipName").asText()) => doc
    }.toSeq.sortBy(_.get("$relationshipId").asText())
  }

  /** A6: incoming relationships of a twin (the Azure shape carries only
    * the identity fields + a link, not the full doc). */
  def listIncomingRelationships(targetId: String): Seq[JsonNode] = {
    getTwin(targetId)
    rels.values.filter(d =>
        Option(d.get("$targetId")).exists(_.asText() == targetId))
      .toSeq.sortBy(d => (d.get("$sourceId").asText(), d.get("$relationshipId").asText()))
  }

  def patchRelationship(sourceId: String, relId: String, patchJson: String)
      : JsonNode = {
    val old = getRelationship(sourceId, relId).asInstanceOf[ObjectNode]
    val ops = JsonPatch.parseOps(patchJson)
    // identity/reserved fields ($relationshipId, $sourceId, $targetId,
    // $relationshipName, $etag) are immutable through PATCH — otherwise a
    // patch replacing /$targetId would silently bypass the target-model
    // constraint enforced on create
    ops.find(op => op.path.startsWith("/$") ||
        Option(op.from).exists(_.startsWith("/$"))).foreach { op =>
      throw StoreException(400,
        s"patch path '${op.path}' targets a reserved relationship field")
    }
    val patched = JsonPatch.apply(old, ops).asInstanceOf[ObjectNode]
    // a patch must not move the document outside its declared property
    // schema either (same rule as patchTwin's re-validation); the target
    // model is re-resolved from the (immutable) $targetId so the declared
    // target constraint is re-checked with the same strength as create
    if (validateRelationshipSchemas && registry.models.nonEmpty &&
        twins.contains(sourceId)) {
      val srcModel = Json.get(twins(sourceId), "/$metadata/$model").get.asText()
      val name = Option(patched.get("$relationshipName")).map(_.asText()).getOrElse("")
      val targetModel = Option(patched.get("$targetId")).map(_.asText())
        .flatMap(twins.get)
        .flatMap(t => Json.get(t, "/$metadata/$model").map(_.asText()))
      registry.validateRelationship(srcModel, name, patched, targetModel) match {
        case Left(err) => throw StoreException(400, err)
        case Right(()) =>
      }
    }
    val now = clock()
    patched.put("$etag", ETag.generate(s"$sourceId|$relId", now))
    rels((sourceId, relId)) = patched
    log("RelationshipUpdate", old, patched)
    patched
  }

  def deleteRelationship(sourceId: String, relId: String): Unit = {
    val old = getRelationship(sourceId, relId)
    rels.remove((sourceId, relId))
    log("RelationshipDelete", old, null)
  }

  // ---------------- telemetry (A10) ----------------

  def publishTelemetry(dtId: String, payload: String,
      componentName: Option[String]): Unit = {
    val twin = getTwin(dtId)
    val env = Json.obj()
    env.put("digitalTwinId", dtId)
    env.put("messageId", java.util.UUID.randomUUID().toString)
    env.put("timestamp", clock())
    env.put("eventType", "Telemetry")
    env.set[JsonNode]("telemetry", Json.parse(payload))
    env.put("modelId", Json.get(twin, "/$metadata/$model").get.asText())
    componentName.foreach(c => env.put("componentName", c))
    log("Telemetry", null, env)
  }

  // ---------------- projections to DataFrames ----------------

  def toGraph(spark: SparkSession): TwinGraph =
    buildGraph(spark, twins, rels)

  /** Time-travel read over the in-memory mutation log: fold every event
    * with seq ≤ `asOfSeq` into twin/relationship maps and materialize the
    * same frames [[toGraph]] builds — the in-memory analogue of
    * [[TableTwinStore.graphAt]], and the [[graft.adt.VersionedGraphSource]]
    * backing for this store. O(log) driver-side, which is the store's own
    * scale class (the whole store is driver-resident; the table-backed
    * store does this fold set-wise). Models are not versioned — the
    * returned graph carries the current registry, same caveat as the
    * table store. */
  def graphAt(spark: SparkSession, asOfSeq: Long): TwinGraph = {
    val t = collection.mutable.LinkedHashMap[String, ObjectNode]()
    val r = collection.mutable.LinkedHashMap[(String, String), ObjectNode]()
    mutationLog.iterator.takeWhile(_.seq <= asOfSeq).foreach { e =>
      def doc = Json.parse(
        if (e.newJson != null) e.newJson else e.oldJson).asInstanceOf[ObjectNode]
      e.eventType match {
        case "TwinCreate" | "TwinUpdate" =>
          val d = doc; t(d.get("$dtId").asText()) = d
        case "TwinDelete" =>
          t.remove(doc.get("$dtId").asText()): Unit
        case "RelationshipCreate" | "RelationshipUpdate" =>
          val d = doc
          r((d.get("$sourceId").asText(), d.get("$relationshipId").asText())) = d
        case "RelationshipDelete" =>
          val d = doc
          r.remove((d.get("$sourceId").asText(),
            d.get("$relationshipId").asText())): Unit
        case _ => // model events are unversioned; telemetry carries no state
      }
    }
    buildGraph(spark, t, r)
  }

  private def buildGraph(spark: SparkSession,
      twinMap: collection.Map[String, ObjectNode],
      relMap: collection.Map[(String, String), ObjectNode]): TwinGraph = {
    import org.apache.spark.sql.Row
    val twinRows = twinMap.map { case (id, doc) =>
      Row(id, Json.get(doc, "/$metadata/$model").map(_.asText()).orNull,
        Option(doc.get("$etag")).map(_.asText()).orNull,
        Json.get(doc, "/$metadata/$lastUpdateTime").map(_.asText()).orNull,
        Json.render(doc))
    }.toSeq
    val relRows = relMap.map { case ((src, rid), doc) =>
      Row(rid, src, doc.get("$targetId").asText(),
        doc.get("$relationshipName").asText(),
        Option(doc.get("$etag")).map(_.asText()).orNull,
        Json.render(doc))
    }.toSeq
    TwinGraph(
      spark.createDataFrame(twinRows.asJava, Tables.twinsSchema),
      spark.createDataFrame(relRows.asJava, Tables.relationshipsSchema),
      TwinStore.modelsDf(spark, registry, modelEmbeddings.toMap))
  }

  def mutationsDf(spark: SparkSession): DataFrame =
    TwinStore.mutationsDf(spark, mutationLog.toSeq)
}

object TwinStore {

  /** Registry → `models` table rows (Tables.modelsSchema). */
  def modelsDf(spark: SparkSession, registry: ModelRegistry,
      embeddings: Map[String, Seq[Double]] = Map.empty): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = registry.models.values.map { m =>
      Row(m.id, registry.bases(m.id), registry.descendants(m.id),
        m.displayName.orNull, false, null, m.raw,
        embeddings.get(m.id).orNull)
    }.toSeq
    spark.createDataFrame(rows.asJava, Tables.modelsSchema)
  }

  /** One mutation event → its `mutations` table row values, in
    * Tables.mutationsSchema column order — the single place the
    * kind/entity-id derivation lives (shared by the DataFrame view and
    * the driver-side journal append). */
  def mutationRow(m: MutationEvent)
      : (Long, String, String, String, String, String, String) = {
    val kind =
      if (m.eventType.startsWith("Twin")) "Twin"
      else if (m.eventType.startsWith("Relationship")) "Relationship"
      else "Telemetry"
    val entityId = Option(if (m.newJson != null) m.newJson else m.oldJson)
      .flatMap(Json.tryParse).flatMap { n =>
        Json.get(n, "/$dtId").orElse(Json.get(n, "/$relationshipId"))
          .orElse(Json.get(n, "/digitalTwinId")).map(_.asText())
      }.orNull
    (m.seq, m.ts, kind, entityId, m.eventType, m.oldJson, m.newJson)
  }

  /** Mutation events → `mutations` table rows (Tables.mutationsSchema). */
  def mutationsDf(spark: SparkSession, events: Seq[MutationEvent]): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = events.map { m =>
      val t = mutationRow(m)
      Row(t._1, t._2, t._3, t._4, t._5, t._6, t._7)
    }.toSeq
    spark.createDataFrame(rows.asJava, Tables.mutationsSchema)
  }
}
