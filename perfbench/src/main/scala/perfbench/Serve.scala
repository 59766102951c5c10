package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.locks.ReentrantReadWriteLock
import scala.collection.mutable
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.api.HttpApi
import graft.json.Json
import graft.store.{MutationEvent, TableTwinStore}

/** One query the serving workloads send, with its expected answer. */
final case class QuerySpec(shape: String, text: String, expect: Seq[JsonNode] => Option[String])

/** Expected documents and query answers, derived from the generated graph
  * only. */
final class Fixture(val g: GenGraph) {
  val rooms: IndexedSeq[String] = g.ofModel(Gen.Room).map(_.id)
  val buildings: IndexedSeq[String] = g.ofModel(Gen.Building).map(_.id)
  val devices: IndexedSeq[String] =
    g.twins.filter(t => Gen.descendants(Gen.Asset).contains(t.model)).map(_.id)
  /** Twins the write workload never modifies. */
  val staticTwins: IndexedSeq[String] = g.twins.map(_.id).filterNot(devices.toSet)
  val withRels: IndexedSeq[String] = g.twins.map(_.id).filter(g.outgoing(_).nonEmpty)
  val statuses = Seq("ok", "warn", "fault")
  val areas = Seq(20.0, 40.0, 60.0)

  def doc(id: String): JsonNode = Gen.twinNode(g.byId(id))

  private def ids(rows: Seq[JsonNode]): Seq[String] = rows.map(_.path("id").asText()).sorted
  private def idsAre(want: Iterable[String])(rows: Seq[JsonNode]): Option[String] = {
    val got = ids(rows)
    val w = want.toSeq.sorted
    if (got == w) None else Some(s"${got.size} ids, expected ${w.size}")
  }
  private def children(id: String, name: String) =
    g.outgoing(id).filter(_.name == name).map(_.dst)

  def point(room: String) = QuerySpec("point",
    s"SELECT T.$$dtId AS id, T.name AS name, T.area AS area FROM DIGITALTWINS T " +
      s"WHERE T.$$dtId = '$room'", { rows =>
      val t = g.byId(room)
      val ok = rows.size == 1 && rows.head.path("id").asText() == room &&
        rows.head.path("name").asText() == t.prop("name") &&
        rows.head.path("area").asDouble() == t.prop("area")
      if (ok) None
      else Some(s"point read of $room: " + rows.map(r => Json.render(r).take(300)).mkString(","))
    })

  def hop1(room: String) = QuerySpec("hop1",
    s"SELECT D.$$dtId AS id FROM DIGITALTWINS R JOIN D RELATED R.servedBy " +
      s"WHERE R.$$dtId = '$room'",
    idsAre(children(room, "servedBy")))

  def hop2(bld: String) = QuerySpec("hop2",
    s"SELECT R.$$dtId AS id FROM DIGITALTWINS B JOIN F RELATED B.contains " +
      s"JOIN R RELATED F.contains WHERE B.$$dtId = '$bld'",
    idsAre(children(bld, "contains").flatMap(children(_, "contains"))))

  def filter(area: Double) = QuerySpec("filter",
    s"SELECT T.$$dtId AS id FROM DIGITALTWINS T WHERE IS_OF_MODEL(T, '${Gen.Room}') " +
      s"AND T.area > $area",
    idsAre(g.ofModel(Gen.Room).filter(_.prop("area").asInstanceOf[Double] > area)
      .map(_.id)))

  def aggregate(status: String) = QuerySpec("aggregate",
    s"SELECT COUNT() FROM DIGITALTWINS T WHERE IS_OF_MODEL(T, '${Gen.Asset}') " +
      s"AND T.status = '$status'", { rows =>
      val want = devices.count(d => g.byId(d).prop("status") == status)
      val got = rows.headOption.map(_.path("COUNT").asLong(-1)).getOrElse(-1L)
      if (rows.size == 1 && got == want) None else Some(s"count $got, expected $want")
    })

  def vle(bld: String) = QuerySpec("vle",
    s"MATCH (b:Twin)-[:contains*1..2]->(t:Twin) WHERE b.`$$dtId` = '$bld' " +
      "RETURN t.`$dtId` AS id",
    idsAre({ val f = children(bld, "contains"); f ++ f.flatMap(children(_, "contains")) }))

  /** The full paged drain: every asset, inheritance closure included. */
  val drain = QuerySpec("drain",
    s"SELECT T.$$dtId AS id FROM DIGITALTWINS T WHERE IS_OF_MODEL(T, '${Gen.Asset}')",
    idsAre(devices))

  val relIdsOf: String => Set[String] = id => g.outgoing(id).map(_.rid).toSet
}

/** Thin JDK HTTP client for the ADT routes. */
final class Http(base: String) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def send(method: String, path: String, body: Option[String] = None,
      headers: Seq[(String, String)] = Nil): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .method(method, body.map(HttpRequest.BodyPublishers.ofString)
        .getOrElse(HttpRequest.BodyPublishers.noBody()))
    if (body.isDefined) b.header("Content-Type", "application/json")
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  def query(q: String, pageSize: Option[Int], token: Option[String]): HttpResponse[String] = {
    val o = Json.obj()
    o.put("query", q)
    pageSize.foreach(o.put("maxItemsPerPage", _))
    token.foreach(o.put("continuationToken", _))
    send("POST", "/query", Some(Json.render(o)))
  }
}

/** Latencies per operation class, collected by every client thread. */
final class Recorder {
  private val ms = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
  def add(kind: String, v: Double): Unit =
    synchronized(ms.getOrElseUpdate(kind, mutable.ArrayBuffer()) += v)
  def of(kind: String): Seq[Double] = synchronized(ms.get(kind).map(_.toSeq).getOrElse(Nil))
  def all: Seq[Double] = synchronized(ms.values.flatten.toSeq)
  def count: Int = all.size
  def json: String = synchronized(Outcome.obj(ms.toSeq.sortBy(_._1).map { case (k, v) =>
    k -> Stats.summarize(v).json }))
}

object Serve {

  val DrainPageSize = 100
  val OwnDevices = 8
  val Source = "https://perfbench.local"

  /** Fixed per-client cycles of operation kinds: the mix is identical on
    * every seed; only keys and parameters come from the seed. */
  val ReadCycle: Vector[String] = Vector("get", "query", "get", "list", "get", "query",
    "get", "query", "list", "get", "query", "get", "drain", "get", "query", "list",
    "get", "query", "get", "query")
  val WriteCycle: Vector[String] = Vector("patch", "get", "query", "relput", "patch",
    "get", "query", "reldel")

  /** Whole cycles the measured one-client loop runs per 10 s of requested
    * time. Five cycles of the write mix are 40 requests, about 25 s on a
    * 4-core host: fewer let one slow request move `ops_per_s` by more than a
    * third of its bound between seeds. */
  val CyclesPer10s = 5

  /** Requests the one-client loop sends at least in a traced run: whole
    * cycles of either mix that give the get and query classes at least 20
    * samples each. */
  val TracedRequests = 80

  /** A running serving stack: store + HTTP front end over one directory. */
  final class Stack(val store: TableTwinStore, val api: HttpApi, val dir: String,
      val importMs: Double) {
    val http = new Http(s"http://127.0.0.1:${api.port}")
  }

  def setup(ctx: Ctx, fx: Fixture, dir: String): Stack = {
    val spark = ctx.spark
    val store = TableTwinStore.open(spark, dir, () => java.time.Instant.now().toString)
    store.createModels(Gen.models)
    val twins = fx.g.twins.map(t => Row(t.id, t.model,
      graft.core.ETag.generate(t.id, Gen.Stamp), Gen.Stamp, Gen.twinDoc(t)))
    val rels = fx.g.rels.map(r => Row(r.rid, r.src, r.dst, r.name,
      graft.core.ETag.generate(r.rid, Gen.Stamp), Gen.relDoc(r)))
    val (_, importMs) = Ctx.timedMs(store.importGraph(
      spark.createDataFrame(java.util.Arrays.asList(twins: _*), graft.core.Tables.twinsSchema),
      spark.createDataFrame(java.util.Arrays.asList(rels: _*),
        graft.core.Tables.relationshipsSchema)))
    new java.io.File(s"$dir/mutations").mkdirs()
    val api = new HttpApi(store, () => spark)
    api.start()
    new Stack(store, api, dir, importMs)
  }

  // ---------------- operations ----------------

  /** Per-client state: its random stream, its cycle position and, for
    * writers, the documents and relationships it owns. */
  final class Client(val id: Int, seed: Long, fx: Fixture, writer: Boolean, clients: Int) {
    val rnd = new java.util.Random(seed * 7919L + id)
    var step = id * 5
    var queryNo = id * 2
    private def zipfOver(xs: IndexedSeq[String]) = {
      val perm = xs.sortBy(x => Check.stableId(s"$seed/$x"))
      val z = new Zipf(perm.size, 1.0)
      () => perm(z.sample(rnd))
    }
    val anyTwin: () => String =
      zipfOver(if (writer) fx.staticTwins else fx.g.twins.map(_.id))
    val anyWithRels: () => String =
      zipfOver(if (writer) fx.withRels.filterNot(fx.devices.toSet) else fx.withRels)
    val aRoom: () => String = zipfOver(fx.rooms)
    val aBuilding: () => String = zipfOver(fx.buildings)

    // writer state: owned devices with their expected tag / temperature / etag
    val own: IndexedSeq[String] =
      if (!writer) IndexedSeq.empty
      else fx.devices.sortBy(d => Check.stableId(s"$seed/own/$d")).zipWithIndex
        .collect { case (d, i) if i % clients == id => d }.take(OwnDevices)
    val tag = mutable.HashMap[String, String]()
    val temp = mutable.HashMap[String, Double]()
    val etag = mutable.HashMap[String, String]()
    own.foreach { d =>
      tag(d) = "init"
      temp(d) = fx.g.byId(d).prop("temperature").asInstanceOf[Double]
      etag(d) = graft.core.ETag.generate(d, Gen.Stamp)
    }
    val liveRels = mutable.Queue[(String, String, String, String)]() // dev, rid, etag, tag
    var writes = 0
    val acked = mutable.ArrayBuffer[(WriteKey, Long)]()
    def nextTag(): String = { writes += 1; s"w$id-$writes" }

    def nextQuery(): QuerySpec = {
      queryNo += 1
      queryNo % 6 match {
        case 0 => fx.point(aRoom())
        case 1 => fx.hop1(aRoom())
        case 2 => fx.hop2(aBuilding())
        case 3 => fx.filter(fx.areas(rnd.nextInt(fx.areas.size)))
        case 4 => fx.aggregate(fx.statuses(rnd.nextInt(fx.statuses.size)))
        case _ => fx.vle(aBuilding())
      }
    }
  }

  /** Check a response status; the body is returned when it matches. */
  private def expectStatus(r: java.net.http.HttpResponse[String], want: Int,
      what: String): Either[String, String] =
    if (r.statusCode() == want) Right(r.body())
    else Left(s"$what: HTTP ${r.statusCode()} ${r.body().take(200)}")

  private def rowsOf(body: String): Seq[JsonNode] = {
    val v = Json.parse(body).get("value")
    (0 until v.size()).map(v.get)
  }

  /** One HTTP operation of the given kind; returns its class for the
    * latency record and an error message when the result was wrong. */
  def httpOp(kind: String, c: Client, fx: Fixture, http: Http,
      gate: ReentrantReadWriteLock): (String, Option[String]) = {
    def locked[A](f: => A): A = {
      gate.readLock().lock()
      try f finally gate.readLock().unlock()
    }
    kind match {
      case "get" if c.own.nonEmpty && c.rnd.nextBoolean() =>
        // read-your-write on an owned device
        val d = c.own(c.rnd.nextInt(c.own.size))
        val err = locked(expectStatus(http.send("GET", s"/digitaltwins/$d"), 200, s"get $d"))
          .flatMap { b =>
            val n = Json.parse(b)
            if (n.path("writeTag").asText() == c.tag(d) &&
                n.path("temperature").asDouble() == c.temp(d) &&
                n.path("$etag").asText() == c.etag(d)) Right(())
            else Left(s"get $d: read-your-write violated (writeTag ${n.path("writeTag")}, " +
              s"expected ${c.tag(d)})")
          }.left.toOption
        ("get", err)
      case "get" =>
        val id = c.anyTwin()
        val err = locked(expectStatus(http.send("GET", s"/digitaltwins/$id"), 200, s"get $id"))
          .flatMap(b => if (Json.parse(b) == fx.doc(id)) Right(())
            else Left(s"get $id: document differs from the generated one")).left.toOption
        ("get", err)
      case "list" =>
        val id = c.anyWithRels()
        val err = locked(expectStatus(http.send("GET", s"/digitaltwins/$id/relationships"),
          200, s"list $id")).flatMap { b =>
          val got = rowsOf(b).map(_.path("$relationshipId").asText()).toSet
          if (got == fx.relIdsOf(id)) Right(())
          else Left(s"list $id: ${got.size} relationships, expected ${fx.relIdsOf(id).size}")
        }.left.toOption
        ("list", err)
      case "query" =>
        val q = c.nextQuery()
        val err = locked(expectStatus(http.query(q.text, None, None), 200, s"query ${q.shape}"))
          .flatMap { b =>
            val node = Json.parse(b)
            if (node.hasNonNull("continuationToken")) Left(s"query ${q.shape}: not one page")
            else q.expect(rowsOf(b)).map(e => s"query ${q.shape}: $e").toLeft(())
          }.left.toOption
        ("query", err)
      case "drain" =>
        val rows = mutable.ArrayBuffer[JsonNode]()
        var token: Option[String] = None
        var err: Option[String] = None
        var more = true
        while (more && err.isEmpty) {
          locked(expectStatus(http.query(fx.drain.text, Some(DrainPageSize), token), 200,
            "drain page")) match {
            case Left(e) => err = Some(e)
            case Right(b) =>
              rows ++= rowsOf(b)
              token = Option(Json.parse(b).get("continuationToken")).filterNot(_.isNull)
                .map(_.asText())
              more = token.isDefined
          }
        }
        ("query_drain", err.orElse(fx.drain.expect(rows.toSeq).map(e => s"drain: $e")))
      case "patch" =>
        val d = c.own(c.rnd.nextInt(c.own.size))
        val t = c.nextTag()
        val temp = (150 + c.rnd.nextInt(150)) / 10.0
        val body = s"""[{"op":"replace","path":"/writeTag","value":"$t"},""" +
          s"""{"op":"replace","path":"/temperature","value":$temp}]"""
        val (r, ackNs) = locked {
          val r = http.send("PATCH", s"/digitaltwins/$d", Some(body), Seq("If-Match" -> c.etag(d)))
          (r, System.nanoTime())
        }
        val err = expectStatus(r, 204, s"patch $d").left.toOption
        if (err.isEmpty) {
          c.tag(d) = t; c.temp(d) = temp
          c.etag(d) = r.headers().firstValue("ETag").orElse("")
          c.acked += ((WriteKey(Reconcile.TwinUpdate, d, t), ackNs))
        }
        ("write", err)
      case "reldel" if c.liveRels.nonEmpty =>
        val (d, rid, et, t) = c.liveRels.dequeue()
        val (r, ackNs) = locked {
          val r = http.send("DELETE", s"/digitaltwins/$d/relationships/$rid", None,
            Seq("If-Match" -> et))
          (r, System.nanoTime())
        }
        val err = expectStatus(r, 204, s"delete relationship $rid").left.toOption
        if (err.isEmpty) c.acked += ((WriteKey(Reconcile.RelDelete, s"$d/relationships/$rid", t),
          ackNs))
        ("write", err)
      case "relput" | "reldel" =>
        val d = c.own(c.rnd.nextInt(c.own.size))
        val t = c.nextTag()
        val rid = s"m_$t"
        val room = c.aRoom()
        val body = s"""{"$$targetId":"$room","$$relationshipName":"monitors","tag":"$t"}"""
        val (r, ackNs) = locked {
          val r = http.send("PUT", s"/digitaltwins/$d/relationships/$rid", Some(body),
            Seq("If-None-Match" -> "*"))
          (r, System.nanoTime())
        }
        val err = expectStatus(r, 200, s"put relationship $rid").left.toOption
        if (err.isEmpty) {
          c.liveRels.enqueue((d, rid, r.headers().firstValue("ETag").orElse(""), t))
          c.acked += ((WriteKey(Reconcile.RelCreate, s"$d/relationships/$rid", t), ackNs))
        }
        ("write", err)
    }
  }

  /** Closed loop: each client sends its next request only after the
    * previous one completed, until the deadline or, when `cycles` is set,
    * until it has run that many whole cycles (a fixed amount of work, the
    * same mix on every seed). Returns the wall seconds until the last
    * client finished. */
  def closedLoop(clients: Seq[Client], cycle: Vector[String], fx: Fixture, http: Http,
      gate: ReentrantReadWriteLock, seconds: Double, rec: Recorder, out: Outcome,
      cycles: Option[Int] = None): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = clients.map { c =>
      val th = new Thread(() => {
        val stopAt = cycles.map(n => c.step + n * cycle.size)
        def more = stopAt match {
          case Some(last) => c.step < last
          case None => System.nanoTime() < deadline
        }
        while (more) {
          val kind = cycle(c.step % cycle.size)
          c.step += 1
          val s0 = System.nanoTime()
          val (cls, err) =
            try httpOp(kind, c, fx, http, gate)
            catch { case e: Exception => (kind, Some(s"$kind: ${e.getClass.getSimpleName}: " +
              e.getMessage)) }
          val ms = (System.nanoTime() - s0) / 1e6
          err match {
            case None => out.ok(); rec.add(cls, ms)
            case Some(e) => out.fail(e)
          }
        }
      }, s"client-${c.id}")
      th.start()
      th
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  // ---------------- CDC consumer ----------------

  /** Drains the store's journal back to back into EventNotification and
    * DataHistory parquet sinks, one `AvailableNow` run per drain, and folds
    * the store once the run's writes are in. A fold holds the gate
    * exclusively: no request is in flight while it runs.
    *
    * The fold runs after the closed loop, not inside it: a fold leaves the
    * store's sequence number unchanged, so `HttpApi` keeps serving the
    * memoized `QueryService` whose plan still reads the journal files and
    * snapshot version the fold deleted, and every query until the next
    * write fails with FILE_NOT_EXIST (HTTP 500). */
  final class Consumer(ctx: Ctx, stack: Stack, gate: ReentrantReadWriteLock) {
    private val spark = ctx.spark
    private val root = ctx.dir("cdc")
    val notifPath = s"$root/notifications"
    val histPath = s"$root/history"
    private val ckpt = s"$root/checkpoint"
    val drainEnd = mutable.HashMap[Long, Long]() // batch id → drain end (ns)
    val drainMs = mutable.ArrayBuffer[Double]()
    val deriveMs = mutable.ArrayBuffer[Double]()
    val foldMs = mutable.ArrayBuffer[Double]()
    val journalFilesAtFold = mutable.ArrayBuffer[Int]()
    @volatile var stop = false
    private var thread: Thread = _

    def drain(): Unit = ctx.span("streaming.drain") {
      val t0 = System.nanoTime()
      val q = graft.streaming.EventPipeline.readMutationStream(spark, s"${stack.dir}/mutations")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: Dataset[MutationEvent], batchId: Long) =>
          ctx.span("events.derive") {
            val d0 = System.nanoTime()
            graft.streaming.EventPipeline.toEventNotifications(ds, Source)
              .withColumn("drain_batch", lit(batchId))
              .write.mode("append").parquet(notifPath)
            graft.streaming.EventPipeline.toDataHistory(ds, Source)
              .write.mode("append").parquet(histPath)
            deriveMs += (System.nanoTime() - d0) / 1e6
          }
          ()
        }
        .start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      val end = System.nanoTime()
      q.recentProgress.filter(_.numInputRows > 0).foreach(p => drainEnd(p.batchId) = end)
      drainMs += (end - t0) / 1e6
    }

    def fold(): Unit = ctx.span("store.fold") {
      val files = Option(new java.io.File(s"${stack.dir}/mutations").listFiles())
        .map(_.count(f => f.getName.endsWith(".parquet"))).getOrElse(0)
      val (_, ms) = Ctx.timedMs(stack.store.checkpoint())
      journalFilesAtFold += files
      foldMs += ms
    }

    /** The fold: under the exclusive gate, after a drain in the same
      * critical section, so it covers every journal file the fold deletes. */
    def drainAndFold(): Unit = {
      gate.writeLock().lock()
      try { drain(); fold() }
      finally gate.writeLock().unlock()
    }

    def start(): Unit = {
      stop = false
      // back-to-back drains run concurrently with requests: a drain reads
      // only journal files, which appear by atomic rename, never the store
      thread = new Thread(() => while (!stop) drain(), "cdc-consumer")
      thread.start()
    }

    def halt(): Unit = { stop = true; if (thread != null) thread.join() }
  }

  // ---------------- in-process probe (traced runs) ----------------

  /** The read mix without HTTP: each layer called directly under a span,
    * one operation at a time, holding the gate exclusively. Returns the
    * per-query execute times: a `QueryService.query` call minus the parse
    * and plan of the same query text, each timed on its own. */
  def probe(ctx: Ctx, stack: Stack, fx: Fixture, c: Client, gate: ReentrantReadWriteLock,
      seconds: Double, out: Outcome): Seq[Double] = {
    val spark = ctx.spark
    val store = stack.store
    var graph: graft.graph.TwinGraph = null
    var graphSeq = -1L
    def currentGraph() = {
      if (graphSeq != store.currentSeq) {
        graph = ctx.span("store.graph_rebuild")(store.toGraph(spark))
        graphSeq = store.currentSeq
      }
      graph
    }
    val executeMs = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      gate.writeLock().lock()
      try {
        (i % 6) match {
          case 0 | 4 =>
            val id = c.anyTwin()
            val doc = ctx.span("store.point_read")(store.getTwin(id))
            out.check(doc == fx.doc(id), s"probe get $id: document differs")
          case 2 =>
            val id = c.anyWithRels()
            val got = ctx.span("store.list_rels")(store.listRelationships(id, None))
              .map(_.path("$relationshipId").asText()).toSet
            out.check(got.filterNot(_.startsWith("m_")) == fx.relIdsOf(id),
              s"probe list $id: relationships differ")
          case 3 =>
            val q = c.nextQuery()
            val g = currentGraph()
            val (ast, parseMs) =
              Ctx.timedMs(ctx.span("adt.parse")(graft.adt.QueryLanguage.parse(q.text)))
            val (_, planMs) = Ctx.timedMs(ctx.span("adt.plan")(new graft.adt.AdtPlanner(g).plan(ast)))
            val qs = new graft.adt.QueryService(g)
            val (page, queryMs) = Ctx.timedMs(ctx.span("adt.query")(qs.query(q.text)))
            qs.freeAllSnapshots()
            executeMs += queryMs - parseMs - planMs
            val err =
              if (page.continuationToken.isDefined) Some("not one page")
              else q.expect(page.rows.map(Json.parse))
            out.check(err.isEmpty, s"probe query ${q.shape}: ${err.getOrElse("")}")
          case 5 =>
            val qs = new graft.adt.QueryService(currentGraph())
            val first = ctx.span("adt.snapshot")(qs.query(fx.drain.text, DrainPageSize))
            val rows = mutable.ArrayBuffer[JsonNode]() ++ first.rows.map(Json.parse)
            var tok = first.continuationToken
            while (tok.isDefined) {
              val p = ctx.span("adt.page")(qs.query(fx.drain.text, DrainPageSize, tok))
              rows ++= p.rows.map(Json.parse)
              tok = p.continuationToken
            }
            qs.freeAllSnapshots()
            out.check(fx.drain.expect(rows.toSeq).isEmpty, "probe drain: ids differ")
          case _ if c.own.nonEmpty =>
            val d = c.own(c.rnd.nextInt(c.own.size))
            val t = c.nextTag()
            val doc = ctx.span("store.write")(store.patchTwin(d,
              s"""[{"op":"replace","path":"/writeTag","value":"$t"}]""", Some(c.etag(d)), None))
            c.tag(d) = t
            c.etag(d) = doc.path("$etag").asText()
            c.acked += ((WriteKey(Reconcile.TwinUpdate, d, t), System.nanoTime()))
            out.ok()
          case _ => ()
        }
      } finally gate.writeLock().unlock()
      i += 1
    }
    executeMs.toSeq
  }

  // ---------------- the workloads ----------------

  def run(ctx: Ctx, out: Outcome, workload: String, seconds: Int, trace: Boolean,
      heap: Heap): Unit = {
    val writes = workload == "serve_write_cdc"
    val g = Gen.build(ctx.seed, Shape.Serve)
    val fx = new Fixture(g)
    out.put("graph", Outcome.obj(Seq("twins" -> g.twins.size.toString,
      "relationships" -> g.rels.size.toString, "hash" -> Outcome.str(g.hash))))
    val nClients = if (writes) math.max(1, Host.nproc - 1) else Host.nproc
    val cycle = if (writes) WriteCycle else ReadCycle

    // set-up, several times; the last stack serves the run
    val setups = mutable.ArrayBuffer[Double]()
    val imports = mutable.ArrayBuffer[Double]()
    var stack: Stack = null
    for (i <- 0 until Main.SetupRepeats) {
      val (s, ms) = Ctx.timedMs(setup(ctx, fx, ctx.dir(s"store-$i")))
      setups += ms
      imports += s.importMs
      if (i < Main.SetupRepeats - 1) { s.api.stop(); Ctx.deleteTree(s.dir) } else stack = s
    }
    out.metric("setup_s", Stats.median(setups) / 1000, "s")
    warmUp(stack, fx, out)
    if (trace) heap.sample()

    val gate = new ReentrantReadWriteLock(true)
    val clients = (0 until nClients).map(i => new Client(i, ctx.seed, fx, writes, nClients))
    val consumer = if (writes) Some(new Consumer(ctx, stack, gate)) else None
    val rdds0 = ctx.persistentRdds
    val rec = new Recorder

    if (trace) ctx.traceOn()
    consumer.foreach(_.start())
    // The measured work: one client, [[CyclesPer10s]] whole cycles per 10 s
    // of the requested time, so every seed runs the same requests. With the HTTP server
    // handling one request at a time, concurrent clients only queue behind
    // each other's queries, and at a few dozen requests per run the queueing
    // order swung the figures by more than the bound between seeds.
    // A traced run runs the same loop for at least [[TracedRequests]], so
    // that each request class the per-class metrics split out has at least
    // 20 samples (a median with ten samples beyond it).
    val cycles = CyclesPer10s * math.max(1, math.round(seconds / 10.0).toInt)
    val loopCycles =
      if (trace) math.max(cycles, math.ceil(TracedRequests.toDouble / cycle.size).toInt) else cycles
    val (wall, loopMs) = Ctx.timedMs(closedLoop(clients.take(1), cycle, fx, stack.http, gate,
      seconds, rec, out, Some(loopCycles)))
    Main.log(f"$workload: ${rec.count} requests by one client in ${loopMs / 1000}%.1f s")
    out.metric("ops_per_s", rec.count / wall, "1/s")
    out.put("latency", rec.json)

    if (trace) {
      // all clients at once for half the window, then the same mix
      // in-process, layer by layer
      val recN = new Recorder
      val wallN = closedLoop(clients, cycle, fx, stack.http, gate, seconds * 0.5, recN, out)
      val executeMs = probe(ctx, stack, fx, clients.head, gate, seconds * 0.5, out)
      // full paged drains over HTTP, one client, nothing else in flight
      (0 until 3).foreach { _ =>
        val s0 = System.nanoTime()
        val (_, err) = httpOp("drain", clients.head, fx, stack.http, gate)
        out.check(err.isEmpty, err.getOrElse(""))
        if (err.isEmpty) rec.add("query_drain", (System.nanoTime() - s0) / 1e6)
      }
      consumer.foreach(_.halt())
      consumer.foreach(_.drainAndFold())
      val (spans, overheadPct) = ctx.traceOff()
      def p50(n: String) = spans.get(n).map(_.p50Ms).getOrElse(0.0)
      def jobs(n: String) = spans.get(n).map(_.jobsPerCall).getOrElse(0.0)
      def total(sp: Map[String, SpanStats], n: String) =
        sp.get(n).map(x => x.jobsPerCall * x.count).getOrElse(0.0)
      def summary(k: String) = Stats.summarize(rec.of(k))
      Seq("get", "query", "write").foreach { k =>
        out.metric(s"${k}_p50_ms", summary(k).p50, "ms")
        out.metric(s"${k}_p99_ms", summary(k).tail, "ms")
      }
      out.metric("query_drain_p50_ms", summary("query_drain").p50, "ms")
      out.metric("api.http_overhead_ms",
        Stats.median(rec.of("get")) - p50("store.point_read"), "ms")
      out.metric("api.concurrency_gain", (recN.count / wallN) / (rec.count / wall), "ratio")
      Seq("parse", "plan", "snapshot", "page").foreach(p =>
        out.metric(s"adt.${p}_ms", p50(s"adt.$p"), "ms"))
      out.metric("adt.execute_ms", Stats.median(executeMs), "ms")
      out.metric("adt.jobs_per_query", jobs("adt.query"), "jobs")
      out.metric("store.point_read_ms", p50("store.point_read"), "ms")
      out.metric("store.list_rels_ms", p50("store.list_rels"), "ms")
      out.metric("store.write_ms", p50("store.write"), "ms")
      out.metric("store.graph_rebuild_ms", p50("store.graph_rebuild"), "ms")
      out.metric("trace.overhead_pct", overheadPct, "%")
      out.metric("core.leaked_rdds", (ctx.persistentRdds -- rdds0).size.toDouble, "count")
      consumer.foreach { cs =>
        out.metric("store.fold_ms", Stats.median(cs.foldMs), "ms")
        out.metric("store.fold_jobs", jobs("store.fold"), "jobs")
        out.metric("store.journal_files_at_fold", Stats.median(cs.journalFilesAtFold.map(_.toDouble)),
          "files")
        out.metric("streaming.drain_ms", Stats.median(cs.drainMs), "ms")
        out.metric("streaming.drain_jobs", (total(spans, "streaming.drain") +
          total(spans, "events.derive")) / math.max(cs.drainMs.size, 1), "jobs")
        out.metric("events.derive_ms", Stats.median(cs.deriveMs), "ms")
      }
      Metrics.sparkCounters(out, ctx.counter, rec.count + recN.count)
      out.put("latency_all_clients", recN.json)
    } else {
      // a last drain so every acked write can be reconciled; the fold only
      // feeds the traced fold metrics, and nothing timed follows it
      consumer.foreach(_.halt())
      consumer.foreach(_.drain())
    }
    if (trace) heap.sample()
    Main.log(f"$workload: set-ups ${setups.map(_ / 1000).map(x => f"$x%.1f").mkString(",")} s")
    out.metric("store.import_s", Stats.median(imports) / 1000, "s")
    out.metric("store.bytes_per_user_byte", bytesPerUserByte(stack, fx), "ratio")
    val (_, recMs) = Ctx.timedMs(consumer.foreach(cs => reconcile(ctx.spark, cs, clients, out, trace)))
    Main.log(f"$workload: reconciliation ${recMs / 1000}%.1f s")
    stack.api.stop()
  }

  /** Untimed requests through the point-read, listing and query paths, so
    * the first measured request pays no one-off cost (JIT, reader caches,
    * first plan). */
  private def warmUp(s: Stack, fx: Fixture, out: Outcome): Unit = {
    val id = fx.rooms.head
    Seq(s.http.send("GET", s"/digitaltwins/$id"),
      s.http.send("GET", s"/digitaltwins/$id/relationships"),
      s.http.query(fx.hop1(id).text, None, None)).foreach { r =>
      if (r.statusCode() != 200) out.fail(s"warm-up request: HTTP ${r.statusCode()} ${r.body()}")
    }
  }

  /** Bytes the store keeps on disk per byte of user documents. */
  private def bytesPerUserByte(s: Stack, fx: Fixture): Double = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s.dir))
    val disk = try walk.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum() finally walk.close()
    val user = fx.g.twins.map(t => Gen.twinDoc(t).length.toLong).sum +
      fx.g.rels.map(r => Gen.relDoc(r).length.toLong).sum
    disk.toDouble / user
  }

  /** Every acked write must have produced exactly one EventNotification
    * (and relationship writes their DataHistory lifecycle record). */
  private def reconcile(spark: SparkSession, cs: Consumer, clients: Seq[Client], out: Outcome,
      trace: Boolean): Unit = {
    val acked = clients.flatMap(_.acked)
    val events =
      if (!new java.io.File(cs.notifPath).exists()) Nil
      else spark.read.parquet(cs.notifPath).select("type", "subject", "data", "drain_batch")
        .collect().toSeq.map(r => (Reconcile.keyOf(r.getString(0), r.getString(1),
          r.getString(2)), r.getLong(3)))
    val rec = Reconcile.reconcile(acked.map(_._1), events)
    acked.foreach { case (k, _) => out.check(rec.matched.contains(k), s"write $k: " +
      (if (rec.duplicated.contains(k)) "duplicated event" else "no event")) }
    rec.unexpected.foreach(k => out.fail(s"event $k matches no acked write"))
    val lags = acked.flatMap { case (k, ackNs) =>
      rec.matched.get(k).flatMap(cs.drainEnd.get).map(end => (end - ackNs) / 1e6)
    }
    val relWrites = acked.count(a => a._1.eventType != Reconcile.TwinUpdate)
    val lifecycle =
      if (!new java.io.File(cs.histPath).exists()) 0L
      else spark.read.parquet(cs.histPath)
        .filter(col("type") === graft.events.CloudEventFactory.RelationshipLifecycleType).count()
    out.check(lifecycle == relWrites,
      s"DataHistory holds $lifecycle relationship lifecycle records for $relWrites writes")
    val lag = Stats.summarize(lags)
    if (trace) {
      out.metric("event_lag_p50_ms", lag.p50, "ms")
      out.metric("event_lag_p99_ms", lag.tail, "ms")
      // each acked write is one journal row
      out.metric("events.per_mutation", events.size.toDouble / math.max(acked.size, 1), "ratio")
      out.metric("streaming.backlog_rows",
        Stats.mean(events.groupBy(_._2).values.map(_.size.toDouble)), "rows")
    }
    out.put("event_lag", lag.json)
    out.put("cdc", Outcome.obj(Seq("acked_writes" -> acked.size.toString,
      "events" -> events.size.toString, "drains" -> cs.drainMs.size.toString,
      "folds" -> cs.foldMs.size.toString,
      "drain_ms" -> Stats.summarize(cs.drainMs).json,
      "fold_ms" -> Stats.summarize(cs.foldMs).json)))
  }
}
