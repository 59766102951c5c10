package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.adt.RateLimiter
import graft.json.Json
import graft.store.TwinStore

/** The HTTP binding end-to-end over a real socket: Azure-SDK route
  * shapes, preconditions, the error envelope, query paging and rate
  * limiting (reference surface:
  * ApiService.Test/AzureDigitalTwinsSdkIntegrationTests.cs). */
class HttpApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val client = HttpClient.newHttpClient()

  private def req(base: String, path: String): HttpRequest.Builder =
    HttpRequest.newBuilder(URI.create(s"$base$path"))
      .header("Content-Type", "application/json")

  private def send(r: HttpRequest): HttpResponse[String] =
    client.send(r, HttpResponse.BodyHandlers.ofString())

  private val model =
    """{"@id":"dtmi:api:Room;1","@type":"Interface","@context":"dtmi:dtdl:context;3",
      |"displayName":"Room","contents":[
      |{"@type":"Property","name":"temperature","schema":"double"},
      |{"@type":"Relationship","name":"adjacent_to","properties":[
      |  {"@type":"Property","name":"weight","schema":"integer"}]}]}""".stripMargin

  private def withApi[T](limiter: Option[RateLimiter] = None)(f: String => T): T = {
    val api = new HttpApi(new TwinStore(), () => spark, limiter)
    api.start()
    try f(s"http://127.0.0.1:${api.port}")
    finally api.stop()
  }

  test("twin CRUD lifecycle: PUT/GET/PATCH/DELETE, ETags, preconditions") {
    withApi() { base =>
      // models first (DTDL validation is live behind the API)
      val mc = send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$model]")).build())
      assert(mc.statusCode() == 201)
      assert(Json.parse(mc.body()).get(0).get("id").asText() == "dtmi:api:Room;1")

      // PUT a twin; response carries the stamped doc + ETag header
      val put = send(req(base, "/digitaltwins/room1").PUT(
        HttpRequest.BodyPublishers.ofString(
          """{"$metadata":{"$model":"dtmi:api:Room;1"},"temperature":21.5}""")).build())
      assert(put.statusCode() == 200)
      val etag = put.headers().firstValue("ETag").orElseThrow()
      assert(Json.parse(put.body()).get("$etag").asText() == etag)

      // If-None-Match: * on an existing twin → 412 with the Azure envelope
      val conflict = send(req(base, "/digitaltwins/room1")
        .header("If-None-Match", "*")
        .PUT(HttpRequest.BodyPublishers.ofString(
          """{"$metadata":{"$model":"dtmi:api:Room;1"}}""")).build())
      assert(conflict.statusCode() == 412)
      assert(Json.parse(conflict.body()).get("error").get("code").asText()
        == "PreconditionFailed")

      // GET returns the doc
      val got = send(req(base, "/digitaltwins/room1").GET().build())
      assert(got.statusCode() == 200)
      assert(Json.parse(got.body()).get("temperature").asDouble() == 21.5)

      // PATCH with a stale ETag → 412; with the current one → 204 + new ETag
      val stale = send(req(base, "/digitaltwins/room1")
        .header("If-Match", "W/\"nope\"")
        .method("PATCH", HttpRequest.BodyPublishers.ofString(
          """[{"op":"replace","path":"/temperature","value":25.0}]""")).build())
      assert(stale.statusCode() == 412)
      val patch = send(req(base, "/digitaltwins/room1")
        .header("If-Match", etag)
        .method("PATCH", HttpRequest.BodyPublishers.ofString(
          """[{"op":"replace","path":"/temperature","value":25.0}]""")).build())
      assert(patch.statusCode() == 204)
      val etag2 = patch.headers().firstValue("ETag").orElseThrow()
      assert(etag2 != etag)
      assert(Json.parse(send(req(base, "/digitaltwins/room1").GET().build()).body())
        .get("temperature").asDouble() == 25.0)

      // invalid patch → 400 BadRequest envelope
      val bad = send(req(base, "/digitaltwins/room1")
        .method("PATCH", HttpRequest.BodyPublishers.ofString("not json")).build())
      assert(bad.statusCode() == 400)

      // DELETE then GET → 404 DigitalTwinNotFound-style envelope
      assert(send(req(base, "/digitaltwins/room1").DELETE().build()).statusCode() == 204)
      val gone = send(req(base, "/digitaltwins/room1").GET().build())
      assert(gone.statusCode() == 404)
      assert(Json.parse(gone.body()).get("error").get("code").asText() == "NotFound")
    }
  }

  test("relationships: PUT/GET/list/incoming/PATCH/DELETE") {
    withApi() { base =>
      send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$model]")).build())
      for (id <- Seq("a", "b", "c"))
        assert(send(req(base, s"/digitaltwins/$id").PUT(
          HttpRequest.BodyPublishers.ofString(
            """{"$metadata":{"$model":"dtmi:api:Room;1"}}""")).build()).statusCode() == 200)

      val put = send(req(base, "/digitaltwins/a/relationships/r1").PUT(
        HttpRequest.BodyPublishers.ofString(
          """{"$relationshipName":"adjacent_to","$targetId":"b"}""")).build())
      assert(put.statusCode() == 200)
      send(req(base, "/digitaltwins/a/relationships/r2").PUT(
        HttpRequest.BodyPublishers.ofString(
          """{"$relationshipName":"adjacent_to","$targetId":"c"}""")).build())

      // outgoing list + name filter
      val list = Json.parse(send(
        req(base, "/digitaltwins/a/relationships").GET().build()).body())
      assert(list.get("value").size() == 2)
      val filtered = Json.parse(send(req(base,
        "/digitaltwins/a/relationships?relationshipName=adjacent_to")
        .GET().build()).body())
      assert(filtered.get("value").size() == 2)
      val none = Json.parse(send(req(base,
        "/digitaltwins/a/relationships?relationshipName=nope").GET().build()).body())
      assert(none.get("value").size() == 0)

      // incoming: identity fields + relationshipLink, not the full doc
      val in = Json.parse(send(
        req(base, "/digitaltwins/b/incomingrelationships").GET().build()).body())
      assert(in.get("value").size() == 1)
      val inc = in.get("value").get(0)
      assert(inc.get("$sourceId").asText() == "a")
      assert(inc.get("$relationshipLink").asText() == "/digitaltwins/a/relationships/r1")

      // PATCH precondition + apply
      val cur = Json.parse(send(
        req(base, "/digitaltwins/a/relationships/r1").GET().build()).body())
      val stale = send(req(base, "/digitaltwins/a/relationships/r1")
        .header("If-Match", "W/\"stale\"")
        .method("PATCH", HttpRequest.BodyPublishers.ofString(
          """[{"op":"add","path":"/weight","value":2}]""")).build())
      assert(stale.statusCode() == 412)
      val patch = send(req(base, "/digitaltwins/a/relationships/r1")
        .header("If-Match", cur.get("$etag").asText())
        .method("PATCH", HttpRequest.BodyPublishers.ofString(
          """[{"op":"add","path":"/weight","value":2}]""")).build())
      assert(patch.statusCode() == 204)

      assert(send(req(base, "/digitaltwins/a/relationships/r2").DELETE().build())
        .statusCode() == 204)
      assert(Json.parse(send(req(base, "/digitaltwins/a/relationships").GET().build())
        .body()).get("value").size() == 1)

      // relationship to a missing target → 404 envelope
      val badTarget = send(req(base, "/digitaltwins/a/relationships/r9").PUT(
        HttpRequest.BodyPublishers.ofString(
          """{"$relationshipName":"adjacent_to","$targetId":"zzz"}""")).build())
      assert(badTarget.statusCode() == 404)

      // batch POST /relationships: per-item outcomes, failures don't abort
      val batch = send(req(base, "/relationships").POST(
        HttpRequest.BodyPublishers.ofString(
          """[{"$sourceId":"b","$relationshipId":"rb1","$relationshipName":"adjacent_to","$targetId":"c"},
            |{"$sourceId":"b","$relationshipId":"rb2","$relationshipName":"adjacent_to","$targetId":"nope"}]""".stripMargin)).build())
      assert(batch.statusCode() == 200)
      val results = Json.parse(batch.body()).get("results")
      assert(results.size() == 2)
      assert(results.get(0).get("success").asBoolean())
      assert(!results.get(1).get("success").asBoolean())
      assert(results.get(1).get("error").asText().contains("nope"))
      assert(send(req(base, "/digitaltwins/b/relationships/rb1").GET().build())
        .statusCode() == 200)
    }
  }

  test("query endpoint: page shape, continuation token, 400 on bad query, 429") {
    withApi() { base =>
      send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$model]")).build())
      for (i <- 1 to 5)
        send(req(base, s"/digitaltwins/q$i").PUT(
          HttpRequest.BodyPublishers.ofString(
            s"""{"$$metadata":{"$$model":"dtmi:api:Room;1"},"temperature":$i}""")).build())

      val all = send(req(base, "/query").POST(HttpRequest.BodyPublishers.ofString(
        """{"query":"SELECT T.$dtId AS id FROM DIGITALTWINS T"}""")).build())
      assert(all.statusCode() == 200)
      val page1 = Json.parse(all.body())
      assert(page1.get("value").size() == 5)
      assert(page1.get("continuationToken") == null)

      // paging: 2 per page → token chains through all 5
      var tok: String = null
      var seen = List.empty[String]
      var pages = 0
      do {
        val bodyJson =
          if (tok == null) """{"query":"SELECT T.$dtId AS id FROM DIGITALTWINS T","maxItemsPerPage":2}"""
          else s"""{"query":"SELECT T.$$dtId AS id FROM DIGITALTWINS T","maxItemsPerPage":2,"continuationToken":${Json.render(Json.text(tok))}}"""
        val r = Json.parse(send(req(base, "/query").POST(
          HttpRequest.BodyPublishers.ofString(bodyJson)).build()).body())
        val vs = r.get("value")
        (0 until vs.size()).foreach(i => seen :+= vs.get(i).get("id").asText())
        tok = Option(r.get("continuationToken")).map(_.asText()).orNull
        pages += 1
      } while (tok != null)
      assert(pages == 3 && seen.sorted == List("q1", "q2", "q3", "q4", "q5"))

      // malformed query → 400 envelope, not a 500
      val bad = send(req(base, "/query").POST(HttpRequest.BodyPublishers.ofString(
        """{"query":"SELECT FROM WHERE"}""")).build())
      assert(bad.statusCode() == 400)

      // write verbs through the read-only endpoint → 400
      val ro = send(req(base, "/query").POST(HttpRequest.BodyPublishers.ofString(
        """{"query":"SELECT T FROM DIGITALTWINS T WHERE DELETE "}""")).build())
      assert(ro.statusCode() == 400)
    }

    // a zero-budget limiter rejects with 429 + Retry-After
    withApi(Some(new RateLimiter(budgetPerWindow = 1, windowMillis = 3600000))) { base =>
      send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$model]")).build())
      send(req(base, "/digitaltwins/t1").PUT(
        HttpRequest.BodyPublishers.ofString(
          """{"$metadata":{"$model":"dtmi:api:Room;1"}}""")).build())
      val r = send(req(base, "/query").POST(HttpRequest.BodyPublishers.ofString(
        """{"query":"SELECT T FROM DIGITALTWINS T"}""")).build())
      assert(r.statusCode() == 429)
      assert(r.headers().firstValue("Retry-After").isPresent)
      assert(Json.parse(r.body()).get("error").get("code").asText() == "TooManyRequests")
    }
  }

  test("model embedding upload + semantic search routes") {
    withApi() { base =>
      assert(send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$model]")).build()).statusCode() == 201)
      // upload an embedding; 404 for an unknown model
      assert(send(req(base, "/models/dtmi:api:Room;1/embedding").PUT(
        HttpRequest.BodyPublishers.ofString("[1.0, 0.5]")).build()).statusCode() == 204)
      assert(send(req(base, "/models/dtmi:none;1/embedding").PUT(
        HttpRequest.BodyPublishers.ofString("[1.0]")).build()).statusCode() == 404)
      // search with a vector answers the ranked page envelope
      val res = send(req(base, "/models/search").POST(
        HttpRequest.BodyPublishers.ofString(
          """{"query":"room","vector":[1.0,0.0],"limit":5}""")).build())
      assert(res.statusCode() == 200, res.body())
      val values = Json.parse(res.body()).get("value")
      assert(values.size() == 1 &&
        values.get(0).get("id").asText() == "dtmi:api:Room;1")
      // lexical miss → empty page
      val miss = send(req(base, "/models/search").POST(
        HttpRequest.BodyPublishers.ofString("""{"query":"warehouse"}""")).build())
      assert(Json.parse(miss.body()).get("value").size() == 0)
    }
  }

  test("models, components, telemetry and jobs routes") {
    withApi() { base =>
      // models list/get/delete
      send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$model]")).build())
      val list = Json.parse(send(req(base, "/models").GET().build()).body())
      assert(list.get("value").size() == 1)
      val one = Json.parse(send(req(base, "/models/dtmi:api:Room;1").GET().build()).body())
      assert(one.get("displayName").asText() == "Room")
      assert(one.get("model").get("@id").asText() == "dtmi:api:Room;1")

      // telemetry POST → 204 and a Telemetry mutation in the log
      send(req(base, "/digitaltwins/t1").PUT(
        HttpRequest.BodyPublishers.ofString(
          """{"$metadata":{"$model":"dtmi:api:Room;1"}}""")).build())
      val tel = send(req(base, "/digitaltwins/t1/telemetry").POST(
        HttpRequest.BodyPublishers.ofString("""{"temperature":22.0}""")).build())
      assert(tel.statusCode() == 204)

      // import job over a file: URI, then job status via GET
      val nd = Files.createTempFile("graft-api-import", ".ndjson")
      Files.writeString(nd,
        """{"Section": "Header"}
          |{"fileVersion": "1.0.0", "author": "api", "organization": "graft"}
          |{"Section": "Models"}
          |{"@id":"dtmi:api:Floor;1","@type":"Interface","@context":"dtmi:dtdl:context;3","contents":[]}
          |{"Section": "Twins"}
          |{"$dtId":"f1","$metadata":{"$model":"dtmi:api:Floor;1"}}
          |{"$dtId":"f2","$metadata":{"$model":"dtmi:api:Floor;1"}}
          |""".stripMargin)
      val job = send(req(base, "/jobs/imports/job1").PUT(
        HttpRequest.BodyPublishers.ofString(
          s"""{"inputBlobUri":"file://${nd.toAbsolutePath}"}""")).build())
      assert(job.statusCode() == 201)
      assert(Json.parse(job.body()).get("status").asText() == "Succeeded")
      assert(send(req(base, "/digitaltwins/f1").GET().build()).statusCode() == 200)
      val jobGet = Json.parse(send(req(base, "/jobs/imports/job1").GET().build()).body())
      assert(jobGet.get("jobType").asText() == "import")

      // job lifecycle: list / resume / cancel / delete
      val jl = Json.parse(send(req(base, "/jobs/imports").GET().build()).body())
      assert(jl.get("value").size() == 1)
      assert(send(req(base, "/jobs/imports/job1/resume").POST(
        HttpRequest.BodyPublishers.ofString("{}")).build()).statusCode() == 409,
        "resuming a succeeded job must 409")
      assert(send(req(base, "/jobs/imports/job1/cancel").POST(
        HttpRequest.BodyPublishers.ofString("")).build()).statusCode() == 400,
        "cancelling a finished job must 400")
      assert(send(req(base, "/jobs/imports/job1").DELETE().build()).statusCode() == 204)
      assert(send(req(base, "/jobs/imports/job1").GET().build()).statusCode() == 404)

      // deletion job wipes everything (rels → twins → models)
      val del = send(req(base, "/jobs/deletions/wipe1").PUT(
        HttpRequest.BodyPublishers.ofString("{}")).build())
      assert(del.statusCode() == 201)
      assert(send(req(base, "/digitaltwins/f1").GET().build()).statusCode() == 404)
      assert(Json.parse(send(req(base, "/models").GET().build()).body())
        .get("value").size() == 0)

      // dev/test graph lifecycle endpoints
      assert(send(req(base, "/graph/create").PUT(
        HttpRequest.BodyPublishers.ofString("")).build()).statusCode() == 204)
      assert(send(req(base, "/graph/delete").DELETE().build()).statusCode() == 204)

      // unknown route → 404 envelope
      assert(send(req(base, "/nope").GET().build()).statusCode() == 404)
    }
  }

  test("SDK envelope parity: encoded ids, $lastUpdateTime, ListModels options") {
    withApi() { base =>
      send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$model]")).build())

      // twin create against an unknown model → 400 (SDK
      // ...ModelNotFound_ReturnsBadRequest)
      val noModel = send(req(base, "/digitaltwins/orphan").PUT(
        HttpRequest.BodyPublishers.ofString(
          """{"$metadata":{"$model":"dtmi:api:Missing;1"}}""")).build())
      assert(noModel.statusCode() == 400)
      assert(Json.parse(noModel.body()).get("error").get("code").asText()
        == "BadRequest")

      // percent-encoded twin id round-trips through the path (SDK
      // ...WithPercentEncodedId_WorksCorrectly: id `10%B2H6_H2`)
      val encId = "10%25B2H6_H2" // encodes 10%B2H6_H2
      val putEnc = send(req(base, s"/digitaltwins/$encId").PUT(
        HttpRequest.BodyPublishers.ofString(
          """{"$metadata":{"$model":"dtmi:api:Room;1"},"temperature":42}""")).build())
      assert(putEnc.statusCode() == 200)
      assert(Json.parse(putEnc.body()).get("$dtId").asText() == "10%B2H6_H2")
      val gotEnc = Json.parse(
        send(req(base, s"/digitaltwins/$encId").GET().build()).body())
      assert(gotEnc.get("temperature").asInt() == 42)

      // $etag body field == ETag header; $metadata.$lastUpdateTime present
      // and identical between the create response and a fresh GET (SDK
      // ...VerifiesEtagAndLastUpdateTime)
      val created = Json.parse(putEnc.body())
      val hdrEtag = putEnc.headers().firstValue("ETag").orElseThrow()
      assert(created.get("$etag").asText() == hdrEtag)
      val lut = created.get("$metadata").get("$lastUpdateTime").asText()
      assert(lut.nonEmpty)
      assert(gotEnc.get("$etag").asText() == hdrEtag)
      assert(gotEnc.get("$metadata").get("$lastUpdateTime").asText() == lut)

      // ListModels: definition omitted by default, present with
      // includeModelDefinition=true (ModelsEndpoints.cs:35-43)
      val bare = Json.parse(send(req(base, "/models").GET().build()).body())
        .get("value").get(0)
      assert(bare.get("id").asText() == "dtmi:api:Room;1")
      assert(!bare.has("model"), "definition only on request")
      val full = Json.parse(send(
        req(base, "/models?includeModelDefinition=true").GET().build()).body())
        .get("value").get(0)
      assert(full.get("model").get("@id").asText() == "dtmi:api:Room;1")

      // dependenciesFor: the listed model + its transitive bases, nothing
      // else (reference UNWINDs m.bases)
      val child =
        """{"@id":"dtmi:api:Office;1","@type":"Interface",
          |"@context":"dtmi:dtdl:context;3","extends":["dtmi:api:Room;1"],
          |"contents":[]}""".stripMargin
      val lone =
        """{"@id":"dtmi:api:Shed;1","@type":"Interface",
          |"@context":"dtmi:dtdl:context;3","contents":[]}""".stripMargin
      assert(send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$child,$lone]")).build())
        .statusCode() == 201)
      val deps = Json.parse(send(
        req(base, "/models?dependenciesFor=dtmi:api:Office;1").GET().build())
        .body()).get("value")
      val ids = (0 until deps.size()).map(deps.get(_).get("id").asText()).toSet
      assert(ids == Set("dtmi:api:Office;1", "dtmi:api:Room;1"), s"got $ids")
    }
  }

  test("SDK envelope parity: relationship preconditions, component stamping, token echo") {
    withApi() { base =>
      val compModel =
        """{"@id":"dtmi:api:Thermo;1","@type":"Interface",
          |"@context":"dtmi:dtdl:context;3","contents":[
          |{"@type":"Property","name":"reading","schema":"double"}]}""".stripMargin
      val hostModel =
        """{"@id":"dtmi:api:Rig;1","@type":"Interface",
          |"@context":"dtmi:dtdl:context;3","contents":[
          |{"@type":"Component","name":"thermo","schema":"dtmi:api:Thermo;1"},
          |{"@type":"Relationship","name":"feeds"}]}""".stripMargin
      assert(send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$compModel,$hostModel]")).build())
        .statusCode() == 201)
      for (id <- Seq("rig1", "rig2"))
        assert(send(req(base, s"/digitaltwins/$id").PUT(
          HttpRequest.BodyPublishers.ofString(
            """{"$metadata":{"$model":"dtmi:api:Rig;1"},
              |"thermo":{"$metadata":{},"reading":1.0}}""".stripMargin)).build())
          .statusCode() == 200)

      // If-None-Match: * on an EXISTING relationship → 412 with the Azure
      // envelope; on a fresh one → 200 (SDK create-if-not-exists flow)
      val fresh = send(req(base, "/digitaltwins/rig1/relationships/f1")
        .header("If-None-Match", "*")
        .PUT(HttpRequest.BodyPublishers.ofString(
          """{"$relationshipName":"feeds","$targetId":"rig2"}""")).build())
      assert(fresh.statusCode() == 200)
      val dup = send(req(base, "/digitaltwins/rig1/relationships/f1")
        .header("If-None-Match", "*")
        .PUT(HttpRequest.BodyPublishers.ofString(
          """{"$relationshipName":"feeds","$targetId":"rig2"}""")).build())
      assert(dup.statusCode() == 412)
      assert(Json.parse(dup.body()).get("error").get("code").asText()
        == "PreconditionFailed")

      // Component PATCH stamps all three metadata sites (Components.cs:
      // 297-331): twin $metadata.$lastUpdateTime, the component's inner
      // $metadata.$lastUpdateTime, and twin $metadata.thermo.lastUpdateTime
      val cp = send(req(base, "/digitaltwins/rig1/components/thermo")
        .method("PATCH", HttpRequest.BodyPublishers.ofString(
          """[{"op":"replace","path":"/reading","value":7.5}]""")).build())
      assert(cp.statusCode() == 204)
      val comp = Json.parse(send(
        req(base, "/digitaltwins/rig1/components/thermo").GET().build()).body())
      assert(comp.get("reading").asDouble() == 7.5)
      val compLut = comp.get("$metadata").get("$lastUpdateTime").asText()
      assert(compLut.nonEmpty)
      val twin = Json.parse(send(
        req(base, "/digitaltwins/rig1").GET().build()).body())
      assert(twin.get("$metadata").get("$lastUpdateTime").asText() == compLut)
      assert(twin.get("$metadata").get("thermo").get("lastUpdateTime")
        .asText() == compLut)

      // includeBaseModelContents=true flattens the inherited surface
      // (reference GetModelAsync_IncludesAllBaseProperties...): a derived
      // model reports its own properties plus the base's relationships
      // and components, omitted arrays stay absent
      val derived =
        """{"@id":"dtmi:api:RigPlus;1","@type":"Interface",
          |"@context":"dtmi:dtdl:context;3","extends":["dtmi:api:Rig;1"],
          |"contents":[{"@type":"Property","name":"rpm","schema":"double"}]}""".stripMargin
      assert(send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$derived]")).build())
        .statusCode() == 201)
      val flat = Json.parse(send(req(base,
        "/models/dtmi:api:RigPlus;1?includeBaseModelContents=true")
        .GET().build()).body())
      def names(field: String): Set[String] = {
        val n = flat.get(field)
        if (n == null) Set.empty
        else (0 until n.size()).map(n.get(_).get("name").asText()).toSet
      }
      assert(names("properties") == Set("rpm"), s"got ${names("properties")}")
      assert(names("relationships") == Set("feeds"))
      assert(names("components") == Set("thermo"))
      assert(!flat.has("telemetries") && !flat.has("commands"),
        "empty merged arrays must be omitted")
      // without the option the flattened arrays are absent
      val plainModel = Json.parse(send(req(base,
        "/models/dtmi:api:RigPlus;1").GET().build()).body())
      assert(!plainModel.has("properties"))

      // Continuation token echo: the same token replayed twice returns the
      // same page (the SDK's AsPages retry path re-sends a token)
      val q1 = Json.parse(send(req(base, "/query").POST(
        HttpRequest.BodyPublishers.ofString(
          """{"query":"SELECT T.$dtId AS id FROM DIGITALTWINS T","maxItemsPerPage":1}""")).build()).body())
      val tok = q1.get("continuationToken").asText()
      assert(tok.nonEmpty)
      def pageFor(t: String) = Json.parse(send(req(base, "/query").POST(
        HttpRequest.BodyPublishers.ofString(
          s"""{"query":"SELECT T.$$dtId AS id FROM DIGITALTWINS T","maxItemsPerPage":1,"continuationToken":${Json.render(Json.text(t))}}""")).build()).body())
      val p2a = pageFor(tok)
      val p2b = pageFor(tok)
      assert(p2a.get("value").get(0).get("id").asText()
        == p2b.get("value").get(0).get("id").asText(), "token replay is stable")
      assert(p2a.get("value").get(0).get("id").asText()
        != q1.get("value").get(0).get("id").asText(), "token advances the page")
    }
  }

  test("token echo across 3+ pages stays snapshot-consistent under interleaved writes") {
    // The SDK's AsPages loop walks every page of a query while other
    // clients keep writing (AzureDigitalTwinsSdkIntegrationTests.cs
    // paging scenarios): a continuation issued on page 1 pins a snapshot,
    // so twins created/deleted mid-walk must neither appear, vanish, nor
    // duplicate across the remaining pages.
    withApi() { base =>
      assert(send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$model]")).build())
        .statusCode() == 201)
      def put(id: String): Unit =
        assert(send(req(base, s"/digitaltwins/$id").PUT(
          HttpRequest.BodyPublishers.ofString(
            """{"$metadata":{"$model":"dtmi:api:Room;1"},"temperature":20.0}""")).build())
          .statusCode() == 200)
      for (i <- 1 to 5) put(s"page$i")
      def page(tok: Option[String]) = Json.parse(send(req(base, "/query").POST(
        HttpRequest.BodyPublishers.ofString(
          s"""{"query":"SELECT T.$$dtId AS id FROM DIGITALTWINS T",
             |"maxItemsPerPage":2${tok.map(t =>
               s""","continuationToken":${Json.render(Json.text(t))}""").getOrElse("")}}"""
            .stripMargin.replace("\n", ""))).build()).body())
      def ids(p: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
        (0 until p.get("value").size()).map(p.get("value").get(_).get("id").asText())
      val p1 = page(None)
      val t1 = p1.get("continuationToken").asText()
      assert(ids(p1).size == 2 && t1.nonEmpty)
      // interleaved write AFTER the snapshot pinned: must not surface
      put("late1")
      val p2 = page(Some(t1))
      val t2 = p2.get("continuationToken").asText()
      assert(ids(p2).size == 2 && t2.nonEmpty)
      // delete an already-served twin and write another newcomer mid-walk
      assert(send(req(base, s"/digitaltwins/${ids(p1).head}")
        .DELETE().build()).statusCode() == 204)
      put("late2")
      val p3 = page(Some(t2))
      assert(ids(p3).size == 1,
        s"page 3 must hold exactly the 5th pinned twin, got ${ids(p3)}")
      assert(!p3.has("continuationToken") || p3.get("continuationToken").isNull,
        "the walk must terminate after the pinned set is exhausted")
      val walked = ids(p1) ++ ids(p2) ++ ids(p3)
      assert(walked.distinct == walked, s"no twin may repeat: $walked")
      assert(walked.toSet == (1 to 5).map(i => s"page$i").toSet,
        s"pages must cover exactly the pinned snapshot: $walked")
      // token echo at depth: re-sending t2 after the interleaved writes
      // replays page 3 identically (the SDK's retry path)
      assert(ids(page(Some(t2))) == ids(p3), "deep token replay is stable")
      // a FRESH query (no token) sees the post-write world
      val fresh = Json.parse(send(req(base, "/query").POST(
        HttpRequest.BodyPublishers.ofString(
          """{"query":"SELECT T.$dtId AS id FROM DIGITALTWINS T","maxItemsPerPage":100}""")).build()).body())
      assert(ids(fresh).toSet ==
        walked.toSet - ids(p1).head + "late1" + "late2",
        s"unpinned queries serve current data, got ${ids(fresh)}")
    }
  }

  test("batch twin upsert and hybrid twin search routes") {
    withApi() { base =>
      val sensor =
        """{"@id":"dtmi:api:Sensor;1","@type":"Interface",
          |"@context":"dtmi:dtdl:context;3","contents":[
          |{"@type":"Property","name":"embedding",
          | "schema":{"@type":"Array","elementSchema":"double"}}]}""".stripMargin
      assert(send(req(base, "/models").POST(
        HttpRequest.BodyPublishers.ofString(s"[$sensor]")).build())
        .statusCode() == 201)

      // POST /digitaltwins: BatchDigitalTwinResult shape, item failures
      // don't abort the batch (DigitalTwinsEndpoints.cs:110-129)
      val batch = send(req(base, "/digitaltwins").POST(
        HttpRequest.BodyPublishers.ofString(
          """[{"$dtId":"s1","$metadata":{"$model":"dtmi:api:Sensor;1"},"embedding":[1.0,0.0]},
            |{"$dtId":"s2","$metadata":{"$model":"dtmi:api:Sensor;1"},"embedding":[0.0,1.0]},
            |{"$metadata":{"$model":"dtmi:api:Sensor;1"}}]""".stripMargin)).build())
      assert(batch.statusCode() == 200)
      val br = Json.parse(batch.body())
      assert(br.get("successCount").asInt() == 2)
      assert(br.get("failureCount").asInt() == 1)
      assert(br.get("hasFailures").asBoolean())
      assert(br.get("results").get(0).get("digitalTwinId").asText() == "s1")
      assert(br.get("results").get(0).get("isSuccess").asBoolean())
      assert(!br.get("results").get(2).get("isSuccess").asBoolean())
      assert(br.get("results").get(2).get("errorMessage").asText().nonEmpty)

      // POST /digitaltwins/search: vector ranking over the embedding
      // property, nearest first (HybridSearchAsync)
      val found = send(req(base, "/digitaltwins/search").POST(
        HttpRequest.BodyPublishers.ofString(
          """{"vector":[1.0,0.1],"limit":2}""")).build())
      assert(found.statusCode() == 200)
      val vals = Json.parse(found.body()).get("value")
      assert(vals.size() == 2)
      assert(vals.get(0).get("$dtId").asText() == "s1", "nearest first")
      assert(vals.get(1).get("$dtId").asText() == "s2")

      // modelFilter narrows to exact model; a non-matching filter is empty
      val none = Json.parse(send(req(base, "/digitaltwins/search").POST(
        HttpRequest.BodyPublishers.ofString(
          """{"vector":[1.0,0.0],"modelFilter":"dtmi:api:Room;1"}""")).build())
        .body()).get("value")
      assert(none.size() == 0)

      // missing vector → 400
      assert(send(req(base, "/digitaltwins/search").POST(
        HttpRequest.BodyPublishers.ofString("{}")).build()).statusCode() == 400)

      // DELETE /models wipes every model in one call (DeleteAllModels)
      assert(send(req(base, "/models").DELETE().build()).statusCode() == 204)
      assert(Json.parse(send(req(base, "/models").GET().build()).body())
        .get("value").size() == 0)
    }
  }

  test("HTTP serves a TABLE-backed store; token pagination equals in-process pages (r17)") {
    val dir = Files.createTempDirectory("graft-http-table").toString
    val store = graft.store.TableTwinStore.open(spark, dir,
      () => "2026-01-01T00:00:00Z")
    store.createModels(Seq(model))
    store.batch {
      (1 to 95).foreach(i => store.createOrReplaceTwin(f"room$i%03d",
        s"""{"$$metadata":{"$$model":"dtmi:api:Room;1"},"temperature":$i}"""))
    }
    store.checkpoint() // a real at-rest snapshot behind the API
    val api = new HttpApi(store, () => spark)
    api.start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      // CRUD routes hit the table store's fault-in path (point reader)
      val got = send(req(base, "/digitaltwins/room042").GET().build())
      assert(got.statusCode() == 200)
      assert(Json.parse(got.body()).get("temperature").asDouble() == 42.0)
      // token-chained pagination over real HTTP round-trips
      val q = "SELECT T.$dtId AS id FROM DIGITALTWINS T"
      var tok: Option[String] = None
      val ids = collection.mutable.ArrayBuffer[String]()
      var pages = 0
      var done = false
      while (!done) {
        val body = Json.obj()
        body.put("query", q); body.put("maxItemsPerPage", 10)
        tok.foreach(t => body.put("continuationToken", t))
        val resp = send(req(base, "/query").POST(
          HttpRequest.BodyPublishers.ofString(Json.render(body))).build())
        assert(resp.statusCode() == 200, resp.body())
        val node = Json.parse(resp.body())
        node.get("value").forEach(v => ids += v.get("id").asText(): Unit)
        pages += 1
        tok = Option(node.get("continuationToken")).map(_.asText())
        done = tok.isEmpty
      }
      assert(pages == 10 && ids.size == 95, s"pages=$pages rows=${ids.size}")
      // the HTTP token walk must equal the in-process page stream
      val qs = new graft.adt.QueryService(store.graph, None,
        new graft.adt.SnapshotCache(), None)
      val direct = qs.queryAll(q, 10)
        .flatMap(_.rows.map(r => Json.parse(r).get("id").asText())).toSeq
      qs.freeAllSnapshots()
      assert(ids.toSeq == direct)
    } finally api.stop()
  }

  test("a query after a store fold reads the new snapshot, not the folded journal") {
    val dir = Files.createTempDirectory("graft-http-fold").toString
    val store = graft.store.TableTwinStore.open(spark, dir,
      () => "2026-01-01T00:00:00Z")
    store.createModels(Seq(model))
    val api = new HttpApi(store, () => spark)
    api.start()
    try {
      val base = s"http://127.0.0.1:${api.port}"
      val put = send(req(base, "/digitaltwins/room1").PUT(
        HttpRequest.BodyPublishers.ofString(
          """{"$metadata":{"$model":"dtmi:api:Room;1"},"temperature":21.5}""")).build())
      assert(put.statusCode() == 200, put.body())
      def query(): HttpResponse[String] =
        send(req(base, "/query").POST(HttpRequest.BodyPublishers.ofString(
          """{"query":"SELECT T.$dtId AS id, T.temperature AS t FROM DIGITALTWINS T"}""")).build())
      // the first query builds the service over the journal tail ...
      assert(query().statusCode() == 200)
      // ... which the fold deletes, leaving the store seq where it was
      store.checkpoint()
      val after = query()
      assert(after.statusCode() == 200, after.body())
      val rows = Json.parse(after.body()).get("value")
      assert(rows.size() == 1, after.body())
      assert(rows.get(0).get("id").asText() == "room1")
      assert(rows.get(0).get("t").asDouble() == 21.5)
    } finally api.stop()
  }

  test("a point query after a PATCH returns the patched value and runs only its own jobs") {
    val dir = Files.createTempDirectory("graft-http-overlay").toString
    val store = graft.store.TableTwinStore.open(spark, dir,
      () => "2026-01-01T00:00:00Z")
    store.createModels(Seq(model))
    store.batch {
      (1 to 20).foreach(i => store.createOrReplaceTwin(f"room$i%02d",
        s"""{"$$metadata":{"$$model":"dtmi:api:Room;1"},"temperature":$i}"""))
    }
    store.checkpoint()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    def counted[T](f: => T): (T, Int) = { // listener delivery is async
      jobs.set(0)
      val r = f
      var last = -1
      while (jobs.get() != last) { last = jobs.get(); Thread.sleep(200) }
      (r, last)
    }
    val api = new HttpApi(store, () => spark)
    api.start()
    spark.sparkContext.addSparkListener(listener)
    try {
      val base = s"http://127.0.0.1:${api.port}"
      def temperature(): (Double, Int) = counted {
        val resp = send(req(base, "/query").POST(HttpRequest.BodyPublishers.ofString(
          """{"query":"SELECT T.temperature AS t FROM DIGITALTWINS T WHERE T.$dtId = 'room07'"}""")).build())
        assert(resp.statusCode() == 200, resp.body())
        val rows = Json.parse(resp.body()).get("value")
        assert(rows.size() == 1, resp.body())
        rows.get(0).get("t").asDouble()
      }
      val (before, jobsFolded) = temperature()
      assert(before == 7.0)
      val etag = send(req(base, "/digitaltwins/room07").GET().build())
        .headers().firstValue("ETag").orElseThrow()
      val patch = send(req(base, "/digitaltwins/room07").header("If-Match", etag)
        .method("PATCH", HttpRequest.BodyPublishers.ofString(
          """[{"op":"replace","path":"/temperature","value":70.5}]""")).build())
      assert(patch.statusCode() == 204, patch.body())
      // the journal tail adds no job to the query: it is served from the
      // driver-resident overlay, not re-folded inside the plan
      val (after, jobsWithTail) = temperature()
      assert(after == 70.5)
      assert(jobsWithTail <= jobsFolded,
        s"query over a journal tail ran $jobsWithTail jobs, $jobsFolded without one")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      api.stop()
    }
  }
}
