package graft.api

import java.net.InetSocketAddress
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.adt.{AdtParseException, AdtPlanException, QueryService, QueryThrottledException, RateLimiter}
import graft.jobs.{ImportJob, JobRecord, JobService}
import graft.json.Json
import graft.store.{DigitalTwinStore, StoreException}

/** The HTTP binding — the reference's primary consumption path
  * (ApiService/Extensions/DigitalTwinsEndpoints.cs:39-66,
  * QueryEndpoints.cs:21-72, ModelsEndpoints.cs, ImportJobEndpoints.cs),
  * re-expressed over this repo's service layer with the JDK's built-in
  * `HttpServer` — no client/server library exists in this zero-egress
  * build, and none is needed for route-surface parity.
  *
  * Route surface (Azure Digital Twins data-plane shapes, the ones the
  * reference's AzureDigitalTwinsSdkIntegrationTests exercise):
  *
  *   GET/PUT/PATCH/DELETE /digitaltwins/{id}
  *   GET                  /digitaltwins/{id}/relationships[?relationshipName=]
  *   GET/PUT/PATCH/DELETE /digitaltwins/{id}/relationships/{rid}
  *   GET                  /digitaltwins/{id}/incomingrelationships
  *   POST                 /digitaltwins/{id}/telemetry
  *   GET/PATCH            /digitaltwins/{id}/components/{name}
  *   POST                 /query        {"query": ..., "continuationToken"?}
  *   GET/POST             /models       GET/DELETE /models/{id}
  *   PUT/GET              /jobs/imports/{id}    PUT/GET /jobs/deletions/{id}
  *
  * Semantics carried over: `If-None-Match: *` on PUT (412 when the entity
  * exists), `If-Match` preconditions on PATCH/DELETE (412 on ETag
  * mismatch), `ETag` response headers, the Azure error envelope
  * `{"error":{"code":...,"message":...}}`, 429 + Retry-After when the
  * query rate limiter rejects, and the query response page shape
  * `{"value":[...], "continuationToken":...}`. */
final class HttpApi(
    store: DigitalTwinStore,
    sparkSession: () => SparkSession,
    limiter: Option[RateLimiter] = None,
    jobService: JobService = new JobService(),
    auth: Option[Auth.AuthConfig] = None,
    permissionProvider: Option[Auth.PermissionProvider] = None,
    protection: Option[Protection] = None) {

  /** Effective provider when authorization runs: explicit wins, else the
    * reference's always-registered claims provider (Program.cs:193). */
  private val provider: Auth.PermissionProvider =
    permissionProvider.getOrElse(new Auth.ClaimsPermissionProvider(
      auth.map(_.permissionsClaimName).getOrElse("permissions")))

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def port: Int = server.getAddress.getPort
  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)

  /** Source URI per import job, so resume can re-stream the blob. */
  private val jobSources =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** QueryService memoized per store state: twin/relationship mutations
    * bump `currentSeq`, a store fold replaces the snapshot (and deletes
    * the journal files the old service's plans read) without advancing
    * seq, and model create/delete changes the registry (which never
    * advances seq either), so the key is all three. The pagination-snapshot
    * cache is OWNED HERE and shared across service generations: a token
    * issued before a write must keep serving its pinned snapshot after
    * the write retires the service that built it (the SDK's AsPages loop
    * with interleaved writers) — pin lifecycle is the cache's LRU +
    * deferred-free grace, not service retirement. */
  private var cachedQs
      : Option[((Long, Long, graft.dtdl.ModelRegistry), QueryService)] = None
  private val snapshotCache = new graft.adt.SnapshotCache()

  private def queryService(): QueryService = synchronized {
    val key = (store.currentSeq, store.snapshotGeneration, store.models)
    cachedQs match {
      case Some((k, qs)) if k == key => qs
      case _ =>
        // versioned source: continuation tokens carry the store seq they
        // started at, and a pin that outlived both its cache entry AND
        // this service generation rebuilds AS OF that seq — pagination
        // isolation across interleaved writers no longer depends on the
        // pin staying resident
        val versioned = new graft.adt.VersionedGraphSource {
          def currentVersion: Long = store.currentSeq
          def graphAt(v: Long) = store.graphAt(sparkSession(), v)
        }
        val qs = new QueryService(store.toGraph(sparkSession()), limiter,
          snapshotCache, Some(versioned))
        cachedQs = Some((key, qs))
        qs
    }
  }

  // ---------------- auth + admission ----------------

  /** Required `resource/action` per route class, mirroring the
    * reference's per-endpoint RequirePermission calls
    * (DigitalTwinsEndpoints.cs:31-151, RelationshipsEndpoints.cs:46-216,
    * QueryEndpoints.cs:66, ModelsEndpoints.cs:60-173,
    * ImportJobEndpoints.cs:29-87, TelemetryEndpoints.cs:39,
    * ComponentsEndpoints.cs:37-67). Graph lifecycle routes are dev-only
    * and carry no permission beyond authentication
    * (GraphEndpoints.cs:11-33). */
  private def requiredPermission(method: String,
      segs: List[String]): Option[Auth.Permission] = {
    import Auth._
    def act: Action = method match {
      case "GET" => Action.Read
      case "DELETE" => Action.Delete
      case _ => Action.Write
    }
    segs match {
      case "query" :: _ => Some(Permission(Resource.Query, Action.Act))
      // batch relationship create/replace
      case "relationships" :: _ =>
        Some(Permission(Resource.Relationships, Action.Write))
      case "digitaltwins" :: _ :: sub :: _
          if sub == "relationships" || sub == "incomingrelationships" =>
        Some(Permission(Resource.Relationships, act))
      // hybrid search (POST only) is a read (DigitalTwinsEndpoints.cs:150);
      // any other verb on /digitaltwins/search is a twin op on the id
      // "search" and must keep the method-derived action
      case "digitaltwins" :: "search" :: Nil if method == "POST" =>
        Some(Permission(Resource.DigitalTwins, Action.Read))
      // telemetry POST and component PATCH land on Write via `act`
      case "digitaltwins" :: _ =>
        Some(Permission(Resource.DigitalTwins, act))
      // search is a POST but a read (ModelsEndpoints.cs:171)
      case "models" :: "search" :: _ =>
        Some(Permission(Resource.Models, Action.Read))
      case "models" :: _ => Some(Permission(Resource.Models, act))
      case "jobs" :: "imports" :: rest =>
        val action = rest match {
          case _ :: "cancel" :: _ => Action.Act
          case _ :: "resume" :: _ => Action.Act
          case _ => act
        }
        Some(Permission(Resource.JobsImports, action))
      case "jobs" :: "deletions" :: _ =>
        Some(Permission(Resource.JobsDeletions, act))
      case _ => None
    }
  }

  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    // drop the api-version query param the Azure SDK appends
    val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    try {
      // authentication (401), admission (429), authorization (403) — the
      // reference's middleware order: rate limiting + DB protection run
      // before authn/authz (Program.cs:317-326), but authn must come
      // first HERE because per-user admission keys on the token subject;
      // the observable contract (which status for which failure) matches.
      val principalOr: Either[String, Option[Auth.Principal]] = auth match {
        case None => Right(None)
        case Some(cfg) =>
          Auth.validateBearer(
            Option(ex.getRequestHeaders.getFirst("Authorization")), cfg)
            .map(Some(_))
      }
      principalOr match {
        case Left(msg) =>
          ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
          error(ex, 401, "Unauthorized", msg)
        case Right(principal) =>
          val userId = principal.map(_.subject).filter(_.nonEmpty)
            .orElse(Option(ex.getRemoteAddress)
              .flatMap(a => Option(a.getAddress)).map(_.getHostAddress))
            .getOrElse("anonymous")
          protection.map(_.admit(method, segs, userId))
            .getOrElse(Protection.Admitted) match {
            case Protection.Rejected(retry, reason) =>
              ex.getResponseHeaders.set("Retry-After", retry.toString)
              error(ex, 429, "TooManyRequests", reason)
            case Protection.Admitted =>
              try {
                val denied = for {
                  cfg <- auth
                  if cfg.authorizationEnabled
                  req <- requiredPermission(method, segs)
                  p <- principal
                  if !provider.permissionsFor(p).exists(_.grants(req))
                } yield req
                denied match {
                  case Some(req) =>
                    error(ex, 403, "Forbidden", s"missing permission '$req'")
                  case None => dispatch(ex, method, segs, userId)
                }
              } finally protection.foreach(_.release(userId))
          }
      }
    } catch {
      case StoreException(status, msg) => error(ex, status, codeFor(status), msg)
      case e: com.fasterxml.jackson.core.JacksonException =>
        error(ex, 400, "BadRequest", s"invalid JSON: ${e.getMessage}")
      case e: IllegalArgumentException => error(ex, 400, "BadRequest",
        String.valueOf(e.getMessage))
      case e: AdtParseException => error(ex, 400, "BadRequest", e.getMessage)
      case e: AdtPlanException => error(ex, 400, "BadRequest", e.getMessage)
      case e: QueryThrottledException =>
        ex.getResponseHeaders.set("Retry-After", "1")
        error(ex, 429, "TooManyRequests", e.getMessage)
      case e: Exception => error(ex, 500, "InternalServerError",
        String.valueOf(e.getMessage))
    } finally ex.close()
  }

  // ---------------- dispatch ----------------

  private def dispatch(ex: HttpExchange, method: String, segs: List[String],
      userId: String): Unit = {
    {
      (method, segs) match {
        case ("GET", List("digitaltwins", id)) =>
          val doc = store.getTwin(id)
          respondJson(ex, 200, Json.render(doc), etagOf(doc))
        case ("PUT", List("digitaltwins", id)) =>
          val doc = store.createOrReplaceTwin(id, body(ex),
            ifNoneMatchStar = hasIfNoneMatchStar(ex))
          respondJson(ex, 200, Json.render(doc), etagOf(doc))
        case ("PATCH", List("digitaltwins", id)) =>
          val doc = store.patchTwin(id, body(ex), ifMatch = ifMatch(ex))
          respond(ex, 204, "", etagOf(doc))
        case ("DELETE", List("digitaltwins", id)) =>
          store.deleteTwin(id, ifMatch = ifMatch(ex))
          respond(ex, 204, "")

        case ("GET", List("digitaltwins", id, "relationships")) =>
          // raw query, decoded exactly once (getQuery pre-decodes, which
          // would corrupt names containing '+' or '%')
          val name = Option(ex.getRequestURI.getRawQuery)
            .flatMap(_.split("&").collectFirst {
              case kv if kv.startsWith("relationshipName=") =>
                java.net.URLDecoder.decode(kv.drop(17), "UTF-8")
            })
          page(ex, store.listRelationships(id, name).map(Json.render))
        case ("GET", List("digitaltwins", id, "incomingrelationships")) =>
          // the Azure incoming shape: identity fields + relationshipLink
          page(ex, store.listIncomingRelationships(id).map { d =>
            val src = d.get("$sourceId").asText()
            val rid = d.get("$relationshipId").asText()
            val o = Json.obj()
            o.put("$relationshipId", rid)
            o.put("$sourceId", src)
            o.put("$relationshipName", d.get("$relationshipName").asText())
            o.put("$relationshipLink", s"/digitaltwins/$src/relationships/$rid")
            Json.render(o)
          })
        case ("GET", List("digitaltwins", id, "relationships", rid)) =>
          val doc = store.getRelationship(id, rid)
          respondJson(ex, 200, Json.render(doc), etagOf(doc))
        case ("PUT", List("digitaltwins", id, "relationships", rid)) =>
          val doc = store.createOrReplaceRelationship(id, rid, body(ex),
            ifNoneMatchStar = hasIfNoneMatchStar(ex))
          respondJson(ex, 200, Json.render(doc), etagOf(doc))
        case ("PATCH", List("digitaltwins", id, "relationships", rid)) =>
          requireEtagMatch(ex, store.getRelationship(id, rid))
          val doc = store.patchRelationship(id, rid, body(ex))
          respond(ex, 204, "", etagOf(doc))
        case ("DELETE", List("digitaltwins", id, "relationships", rid)) =>
          requireEtagMatch(ex, store.getRelationship(id, rid))
          store.deleteRelationship(id, rid)
          respond(ex, 204, "")

        // batch create/replace (RelationshipsEndpoints.cs:198-220): one
        // result entry per input, item failures don't abort the batch
        case ("POST", List("relationships")) =>
          val arr = Json.parse(body(ex))
          if (!arr.isArray)
            throw StoreException(400, "expected a JSON array of relationships")
          if (arr.size() > 100) // reject before serializing 100+ elements
            throw StoreException(400, "batch limited to 100 relationships")
          import scala.jdk.CollectionConverters._
          val results = store.createOrReplaceRelationships(
            arr.elements().asScala.map(Json.render).toSeq)
          val items = results.map {
            case Right(doc) => s"""{"success":true,"relationship":${Json.render(doc)}}"""
            case Left(msg) =>
              s"""{"success":false,"error":${Json.render(Json.text(msg))}}"""
          }
          respondJson(ex, 200, items.mkString("{\"results\":[", ",", "]}"))

        // batch twin create/replace (DigitalTwinsEndpoints.cs:110-129):
        // BatchDigitalTwinResult shape, per-item outcome, item failures
        // never abort the batch
        case ("POST", List("digitaltwins")) =>
          val arr = Json.parse(body(ex))
          if (!arr.isArray)
            throw StoreException(400, "expected a JSON array of digital twins")
          if (arr.size() > 100)
            throw StoreException(400, "batch limited to 100 twins")
          import scala.jdk.CollectionConverters._
          val docs = arr.elements().asScala.map(Json.render).toSeq
          val results = store.createOrReplaceTwins(docs)
          val items = docs.zip(results).map { case (d, r) =>
            val id = Json.tryParse(d).flatMap(n => Json.get(n, "/$dtId"))
              .map(_.asText()).getOrElse("")
            val o = Json.obj()
            o.put("digitalTwinId", id)
            r match {
              case Right(_) => o.put("isSuccess", true)
              case Left(msg) =>
                o.put("isSuccess", false)
                o.put("errorMessage", msg)
            }
            Json.render(o)
          }
          val failures = results.count(_.isLeft)
          respondJson(ex, 200,
            s"""{"results":[${items.mkString(",")}],""" +
              s""""successCount":${results.size - failures},""" +
              s""""failureCount":$failures,"hasFailures":${failures > 0}}""")

        // hybrid twin search (DigitalTwinsEndpoints.cs:132-151 →
        // HybridSearchAsync, DigitalTwins.cs:1223-1248): vector ranking
        // over a twin embedding property with an optional model filter
        case ("POST", List("digitaltwins", "search")) =>
          val reqNode = Json.parse(body(ex))
          import scala.jdk.CollectionConverters._
          val vec = Option(reqNode.get("vector")).filter(_.isArray)
            .map(_.elements().asScala.map(_.asDouble()).toSeq)
            .getOrElse(throw StoreException(400, "vector required"))
          val prop = Option(reqNode.get("embeddingProperty"))
            .filter(!_.isNull).map(_.asText()).getOrElse("embedding")
          val modelFilter = Option(reqNode.get("modelFilter"))
            .filter(!_.isNull).map(_.asText())
          val limit = Option(reqNode.get("limit")).filter(!_.isNull)
            .map { n =>
              if (!n.canConvertToInt || n.asInt() <= 0)
                throw StoreException(400, "limit must be a positive integer")
              n.asInt()
            }.getOrElse(10)
          val graph = store.toGraph(sparkSession())
          val rows = graph.vectorSearch(prop, vec, limit, modelFilter)
            .select("properties").collect()
            .map(_.getString(0)).toSeq
          respondJson(ex, 200, rows.mkString("{\"value\":[", ",", "]}"))

        case ("POST", List("digitaltwins", id, "telemetry")) =>
          store.publishTelemetry(id, body(ex))
          respond(ex, 204, "")
        case ("POST", List("digitaltwins", id, "components", comp, "telemetry")) =>
          store.publishTelemetry(id, body(ex), componentName = Some(comp))
          respond(ex, 204, "")
        case ("GET", List("digitaltwins", id, "components", comp)) =>
          respondJson(ex, 200, Json.render(store.getComponent(id, comp)))
        case ("PATCH", List("digitaltwins", id, "components", comp)) =>
          store.updateComponent(id, comp, body(ex))
          respond(ex, 204, "")

        case ("POST", List("query")) =>
          val req = Json.parse(body(ex))
          val q = Option(req.get("query")).map(_.asText())
            .getOrElse(throw StoreException(400, "query is required"))
          val maxPer = Option(req.get("maxItemsPerPage")).map(_.asInt()).getOrElse(2000)
          val tok = Option(req.get("continuationToken")).filter(!_.isNull).map(_.asText())
          val p = queryService().query(q, maxPer, tok)
          // feed the executed charge back into the per-user complexity
          // budget (the reference's Items["QueryCharge"] loop,
          // WeightedQueryRateLimitingMiddleware.cs:28-45)
          protection.foreach(_.recordQueryCharge(userId, p.charge))
          val cont = p.continuationToken
            .map(t => s""","continuationToken":${Json.render(Json.text(t))}""")
            .getOrElse("")
          respondJson(ex, 200,
            s"""{"value":[${p.rows.mkString(",")}]$cont}""")

        case ("GET", List("models")) =>
          // ListModels options (ModelsEndpoints.cs:31-43): dependenciesFor
          // narrows to the listed models + their transitive bases (the
          // reference UNWINDs m.bases); includeModelDefinition (default
          // false) gates the raw DTDL payload.
          val params = Option(ex.getRequestURI.getRawQuery).toSeq
            .flatMap(_.split("&")).flatMap { kv =>
              kv.split("=", 2) match {
                case Array(k, v) =>
                  Some(java.net.URLDecoder.decode(k, "UTF-8") ->
                    java.net.URLDecoder.decode(v, "UTF-8"))
                case _ => None
              }
            }
          val depsFor = params.collect {
            case ("dependenciesFor", v) if v.nonEmpty => v }
          val includeDef = params.collectFirst {
            case ("includeModelDefinition", v) => v.equalsIgnoreCase("true") }
            .getOrElse(false)
          val all = store.models.models
          val selected =
            if (depsFor.isEmpty) all.values.toSeq
            else {
              val wanted = depsFor.toSet ++
                depsFor.flatMap(id => store.models.bases.getOrElse(id, Nil))
              all.values.filter(m => wanted(m.id)).toSeq
            }
          page(ex, selected.sortBy(_.id).map(m => modelJson(m, includeDef)))
        case ("POST", List("models")) =>
          val arr = Json.parse(body(ex))
          if (!arr.isArray) throw StoreException(400, "expected a JSON array of models")
          import scala.jdk.CollectionConverters._
          val created = store.createModels(arr.elements().asScala.map(Json.render).toSeq)
          respondJson(ex, 201, created.map(m => modelJson(m)).mkString("[", ",", "]"))
        // hybrid lexical/vector model search (ModelsEndpoints.cs:153-176:
        // POST /models/search {query?, vector?, limit?})
        case ("POST", List("models", "search")) =>
          val reqNode = Json.parse(body(ex))
          import scala.jdk.CollectionConverters._
          val q = Option(reqNode.get("query")).filter(!_.isNull).map(_.asText())
          val vec = Option(reqNode.get("vector")).filter(_.isArray)
            .map(_.elements().asScala.map(_.asDouble()).toSeq)
          val limit = Option(reqNode.get("limit")).map(_.asInt()).getOrElse(10)
          page(ex, store.searchModels(q, vec, limit).map(m => modelJson(m)))
        // embedding upload (Models.cs:859-880; the reference drives this
        // through the SDK — the route shape mirrors component update)
        case ("PUT", List("models", id, "embedding")) =>
          val arr = Json.parse(body(ex))
          if (!arr.isArray)
            throw StoreException(400, "expected a JSON array embedding")
          import scala.jdk.CollectionConverters._
          store.updateModelEmbedding(id,
            arr.elements().asScala.map(_.asDouble()).toSeq)
          respond(ex, 204, "")
        case ("GET", List("models", id)) =>
          // includeBaseModelContents=true (GetModelAsync option,
          // Models.cs:124-216): merge the raw DTDL content entries of the
          // model AND its transitive bases into flattened per-type arrays
          // (properties/relationships/components/telemetries/commands),
          // each omitted when empty — the SDK's flattened-surface view.
          val includeBase = Option(ex.getRequestURI.getRawQuery).toSeq
            .flatMap(_.split("&")).exists(kv => kv.split("=", 2) match {
              case Array("includeBaseModelContents", v) => v.equalsIgnoreCase("true")
              case _ => false
            })
          val m = store.getModel(id)
          if (!includeBase) respondJson(ex, 200, modelJson(m))
          else {
            val o = Json.parse(modelJson(m))
              .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            import scala.jdk.CollectionConverters._
            def hasType(n: com.fasterxml.jackson.databind.JsonNode, t: String) =
              Option(n.get("@type")).exists {
                case s if s.isTextual => s.asText() == t
                case a if a.isArray => a.elements().asScala.exists(_.asText() == t)
                case _ => false
              }
            def contentsOf(raw: String, t: String) =
              Json.tryParse(raw).flatMap(n => Option(n.get("contents"))).toSeq
                .flatMap {
                  case arr if arr.isArray => arr.elements().asScala.toSeq
                  case one if one.isObject => Seq(one)
                  case _ => Nil
                }
                .filter(hasType(_, t))
            val chain = store.models.chain(id) // self first, then bases
            for ((key, t) <- Seq("properties" -> "Property",
                "relationships" -> "Relationship", "components" -> "Component",
                "telemetries" -> "Telemetry", "commands" -> "Command")) {
              val merged = chain.flatMap(i => contentsOf(i.raw, t))
              if (merged.nonEmpty) {
                val arr = o.putArray(key)
                merged.foreach(e => arr.add(e.deepCopy[com.fasterxml.jackson.databind.JsonNode]()))
              }
            }
            respondJson(ex, 200, Json.render(o))
          }
        // delete-all first: "models" alone must not bind as an id
        // (DeleteAllModels, ModelsEndpoints.cs:85-101)
        case ("DELETE", List("models")) =>
          store.deleteAllModels()
          respond(ex, 204, "")
        case ("DELETE", List("models", id)) =>
          store.deleteModel(id)
          respond(ex, 204, "")

        case ("PUT", List("jobs", "imports", id)) =>
          val req = Json.parse(body(ex))
          val uri = Option(req.get("inputBlobUri")).map(_.asText())
            .getOrElse(throw StoreException(400, "inputBlobUri is required"))
          val rec = ImportJob.withLines(sparkSession(), uri) { lines =>
            jobService.runImport(id, store, lines)
          }
          // recorded only once the job actually ran under this URI — a
          // rejected re-PUT (409 on a running job) must not redirect a
          // later no-body resume to the wrong blob
          jobSources.put(id, uri)
          respondJson(ex, 201, jobJson(rec))
        case ("GET", List("jobs", "imports")) =>
          page(ex, jobService.list.filter(_.jobType == "import")
            .sortBy(_.id).map(jobJson))
        case ("GET", List("jobs", "imports", id)) =>
          respondJson(ex, 200, jobJson(jobService.get(id)))
        case ("POST", List("jobs", "imports", id, "cancel")) =>
          respondJson(ex, 200, jobJson(jobService.cancel(id)))
        case ("POST", List("jobs", "imports", id, "resume")) =>
          jobService.get(id) // 404 before touching any blob
          // the source URI recorded at job creation re-streams the blob;
          // a body {"inputBlobUri"} may override (e.g. after a restart)
          val uri = Json.tryParse(body(ex))
            .flatMap(n => Option(n.get("inputBlobUri")).map(_.asText()))
            .orElse(Option(jobSources.get(id)))
            .getOrElse(throw StoreException(400,
              s"no recorded source for job $id; pass inputBlobUri"))
          val rec = ImportJob.withLines(sparkSession(), uri) { lines =>
            jobService.resumeImport(id, store, lines)
          }
          respondJson(ex, 200, jobJson(rec))
        case ("DELETE", List("jobs", "imports", id)) =>
          jobService.delete(id)
          jobSources.remove(id)
          respond(ex, 204, "")
        case ("PUT", List("jobs", "deletions", id)) =>
          // table-backed stores take the bulk path: one distributed
          // journal append + checkpoint instead of a point write (and a
          // Spark edge-guard probe) per entity — the per-key walk does
          // not survive million-entity graphs behind an HTTP call
          respondJson(ex, 201, jobJson(jobService.runDelete(id, store,
            bulk = store.isInstanceOf[graft.store.TableTwinStore])))
        case ("GET", List("jobs", "deletions", id)) =>
          respondJson(ex, 200, jobJson(jobService.get(id)))

        // dev/test graph lifecycle (GraphEndpoints.cs:11-33): create is a
        // no-op on an already-materialized store; delete wipes everything
        case ("PUT", List("graph", "create")) => respond(ex, 204, "")
        case ("DELETE", List("graph", "delete")) =>
          val dropId = s"graph-drop-${java.util.UUID.randomUUID().toString.take(8)}"
          val rec = jobService.runDelete(dropId, store,
            bulk = store.isInstanceOf[graft.store.TableTwinStore])
          // runDelete reports failure in the record, not by throwing — a
          // half-wiped graph must not answer 204
          val failed = rec.status != "Succeeded"
          val detail = rec.resultJson.getOrElse("")
          jobService.delete(dropId) // scratch record, not client-visible
          if (failed)
            throw StoreException(500, s"graph delete ${rec.status}: $detail")
          respond(ex, 204, "")

        case _ => error(ex, 404, "NotFound", s"no route for $method ${segs.mkString("/")}")
      }
    }: Unit
  }

  // ---------------- helpers ----------------

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), "UTF-8")

  private def hasIfNoneMatchStar(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("If-None-Match")).exists(_.trim == "*")

  private def ifMatch(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("If-Match")).filter(_.trim != "*")

  /** 412 unless the If-Match header (when present) equals the current
    * ETag — the API-layer precondition for entities whose store call has
    * no ifMatch parameter. */
  private def requireEtagMatch(ex: HttpExchange,
      current: com.fasterxml.jackson.databind.JsonNode): Unit =
    ifMatch(ex).foreach { expected =>
      val actual = Option(current.get("$etag")).map(_.asText()).getOrElse("")
      if (expected != actual)
        throw StoreException(412, s"ETag mismatch: expected $expected, is $actual")
    }

  private def etagOf(doc: com.fasterxml.jackson.databind.JsonNode): Option[String] =
    Option(doc.get("$etag")).map(_.asText())

  /** Model payload; create/get-by-id/search always carry the definition
    * (Azure GetById does), ListModels only with includeModelDefinition. */
  private def modelJson(m: graft.dtdl.DtdlInterface,
      includeDef: Boolean = true): String = {
    val o = Json.obj()
    o.put("id", m.id)
    m.displayName.foreach(d => o.put("displayName", d))
    o.put("decommissioned", false)
    if (includeDef)
      o.set[com.fasterxml.jackson.databind.JsonNode]("model", Json.parse(m.raw)): Unit
    Json.render(o)
  }

  private def jobJson(r: JobRecord): String = {
    val o = Json.obj()
    o.put("id", r.id)
    o.put("jobType", r.jobType)
    o.put("status", r.status)
    o.put("createdDateTime", r.createdAt)
    r.finishedAt.foreach(f => o.put("finishedDateTime", f))
    r.resultJson.foreach(res =>
      o.set[com.fasterxml.jackson.databind.JsonNode]("result", Json.parse(res)): Unit)
    Json.render(o)
  }

  /** Single-page list envelope (the Azure `{"value":[...]}` shape). */
  private def page(ex: HttpExchange, items: Seq[String]): Unit =
    respondJson(ex, 200, items.mkString("{\"value\":[", ",", "]}"))

  private def codeFor(status: Int): String = status match {
    case 400 => "BadRequest"
    case 404 => "NotFound"
    case 409 => "Conflict"
    case 412 => "PreconditionFailed"
    case 429 => "TooManyRequests"
    case _ => "Error"
  }

  private def error(ex: HttpExchange, status: Int, code: String, msg: String): Unit = {
    val o = Json.obj()
    val e = Json.obj()
    e.put("code", code)
    e.put("message", msg)
    o.set[com.fasterxml.jackson.databind.JsonNode]("error", e)
    respondJson(ex, status, Json.render(o))
  }

  private def respondJson(ex: HttpExchange, status: Int, bodyText: String,
      etag: Option[String] = None): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    respond(ex, status, bodyText, etag)
  }

  private def respond(ex: HttpExchange, status: Int, bodyText: String,
      etag: Option[String] = None): Unit = {
    etag.foreach(t => ex.getResponseHeaders.set("ETag", t))
    val bytes = bodyText.getBytes("UTF-8")
    // 204 must not carry a body; -1 signals no content
    if (status == 204 || bytes.isEmpty) ex.sendResponseHeaders(status, -1)
    else {
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    }
  }
}
