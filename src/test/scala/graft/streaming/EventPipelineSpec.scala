package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.TwinStore

/** End-to-end streaming: store mutations → parquet log → Structured
  * Streaming → routed CloudEvent sinks + Kusto-shaped tables + DLQ.
  * (Reference path: WAL → replication consumer → CloudEventFactory →
  * sinks; SURVEY §3.3.) */
class EventPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val model =
    """{"@id":"dtmi:m;1","@type":"Interface","contents":[
      |{"@type":"Property","name":"temperature","schema":"double"},
      |{"@type":"Relationship","name":"feeds"}]}""".stripMargin

  def populatedStore(): TwinStore = {
    var t = 0
    val s = new TwinStore(() => { t += 1; f"2026-01-01T00:${t / 60}%02d:${t % 60}%02dZ" })
    s.createModels(Seq(model))
    s.createOrReplaceTwin("t1", """{"$metadata":{"$model":"dtmi:m;1"},"temperature":20.0}""")
    s.createOrReplaceTwin("t2", """{"$metadata":{"$model":"dtmi:m;1"},"temperature":21.0}""")
    s.createOrReplaceTwin("t1", """{"$metadata":{"$model":"dtmi:m;1"},"temperature":25.0}""")
    s.createOrReplaceRelationship("t1", "r1", """{"$relationshipName":"feeds","$targetId":"t2"}""")
    s.deleteRelationship("t1", "r1")
    s.deleteTwin("t2")
    s.publishTelemetry("t1", """{"temperature":26.0}""")
    s
  }

  test("mutation log streams into EventNotification and DataHistory sinks") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val store = populatedStore()
    store.mutationsDf(spark).write.mode("overwrite").parquet(s"$dir/mutations")

    val stream = EventPipeline.readMutationStream(spark, s"$dir/mutations")
    val en = EventPipeline.toEventNotifications(stream, "https://inst")
    val q1 = EventPipeline.runSink(en, EventPipeline.Parquet(s"$dir/en"), s"$dir/cp1")
    q1.awaitTermination(60000)

    val got = spark.read.parquet(s"$dir/en")
    assert(got.count() == 7) // 2 creates + 1 update + rel create/delete + twin delete + telemetry
    val types = got.select("type").distinct().collect().map(_.getString(0)).toSet
    assert(types == Set(
      "Konnektr.Graph.Twin.Create", "Konnektr.Graph.Twin.Update",
      "Konnektr.Graph.Twin.Delete", "Konnektr.Graph.Relationship.Create",
      "Konnektr.Graph.Relationship.Delete", "Konnektr.IoT.Telemetry"))

    // DataHistory route → three Kusto-shaped tables
    val stream2 = EventPipeline.readMutationStream(spark, s"$dir/mutations")
    val dh = EventPipeline.toDataHistory(stream2, "https://inst")
    val q2 = EventPipeline.runSink(dh, EventPipeline.Parquet(s"$dir/dh"), s"$dir/cp2")
    q2.awaitTermination(60000)
    import spark.implicits._
    val events = spark.read.parquet(s"$dir/dh")
      .as[graft.events.CloudEvent]
    val props = EventPipeline.propertyEvents(events)
    assert(props.columns.toSeq == Seq("TimeStamp", "ServiceId", "Id", "ModelId",
      "Key", "Value", "RelationshipId", "RelationshipTarget"))
    assert(props.filter($"Id" === "t1" && $"Key" === "temperature").count() >= 2)
    val twinLc = EventPipeline.twinLifeCycleEvents(events)
    assert(twinLc.filter($"Action" === "Create").count() == 2)
    assert(twinLc.filter($"Action" === "Delete").count() == 1)
    val relLc = EventPipeline.relationshipLifeCycleEvents(events)
    assert(relLc.count() == 2)
    assert(relLc.filter($"Name" === "feeds").count() == 2)
  }

  test("Kafka sink: keyed/serialized frame + fully-configured writer plan") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // frame shape: key = subject (per-entity partition affinity), value =
    // the JSON CloudEvents envelope
    val ev = graft.events.CloudEvent("id1", "https://inst",
      "Konnektr.Graph.Twin.Update", "twin1", "2026-01-01T00:00:00Z",
      "application/json", """{"modelId":"dtmi:m;1","patch":[]}""")
    val frame = EventPipeline.kafkaFrame(Seq(ev).toDS())
    assert(frame.columns.toSeq == Seq("key", "value"))
    val row = frame.collect()(0)
    assert(row.getString(0) == "twin1")
    val env = graft.json.Json.parse(row.getString(1))
    assert(env.get("type").asText() == "Konnektr.Graph.Twin.Update")
    assert(env.get("data").isObject, "data must embed as JSON, not a quoted string")

    // writer plan: format kafka + broker/topic/SASL options, built over a
    // real streaming Dataset (no broker/connector in this environment, so
    // construction — not start() — is the contract under test)
    val cfg = EventPipeline.KafkaSinkConfig(
      "broker1:9093", "twin-events",
      securityProtocol = Some("SASL_SSL"), saslMechanism = Some("PLAIN"),
      saslJaasConfig = Some("org.apache.kafka.common.security.plain.PlainLoginModule required;"))
    val opts = EventPipeline.kafkaOptions(cfg)
    assert(opts("kafka.bootstrap.servers") == "broker1:9093")
    assert(opts("topic") == "twin-events")
    assert(opts("kafka.security.protocol") == "SASL_SSL")
    assert(opts("kafka.sasl.mechanism") == "PLAIN")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[graft.events.CloudEvent]
    input.addData(ev)
    val dir = Files.createTempDirectory("graft-kafka").toString
    val writer = EventPipeline.kafkaWriter(input.toDS(), cfg, s"$dir/cp")
    assert(writer != null) // plan constructed: projection + format + options
  }

  test("webhook sink: four auth modes, per-event POST, DLQ on failure") {
    import EventPipeline.{WebhookAuth => WA}
    // header construction per auth mode (WebhookEventSink.cs parity)
    assert(EventPipeline.webhookHeaders(WA.Basic("u", "p"))("Authorization") ==
      "Basic " + java.util.Base64.getEncoder.encodeToString("u:p".getBytes("UTF-8")))
    assert(EventPipeline.webhookHeaders(WA.Bearer("tok"))("Authorization") == "Bearer tok")
    assert(EventPipeline.webhookHeaders(WA.ApiKey("X-Api-Key", "k"))("X-Api-Key") == "k")
    assert(EventPipeline.webhookHeaders(WA.OAuth("at"))("Authorization") == "Bearer at")
    assert(EventPipeline.webhookHeaders(WA.NoAuth)("Content-Type") ==
      "application/cloudevents+json")

    // end-to-end over the mutation stream with a recording post function
    val dir = Files.createTempDirectory("graft-webhook").toString
    val store = populatedStore()
    store.mutationsDf(spark).write.mode("overwrite").parquet(s"$dir/mutations")
    val stream = EventPipeline.readMutationStream(spark, s"$dir/mutations")
    val en = EventPipeline.toEventNotifications(stream, "https://inst")
    val posted = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val q = EventPipeline.runSink(en, EventPipeline.Webhook(
      "https://hook.example/events", WA.Bearer("tok"),
      () => (url, headers, body) => {
        assert(headers("Authorization") == "Bearer tok")
        posted.add(url -> body); 200
      }),
      s"$dir/cp", Some(s"$dir/dlq"))
    q.awaitTermination(60000)
    assert(posted.size == 7, s"one POST per event, got ${posted.size}")
    assert(posted.peek()._1 == "https://hook.example/events")
    assert(graft.json.Json.parse(posted.peek()._2).has("type"))

    // failing endpoint → events land in the DLQ, stream survives
    val stream2 = EventPipeline.readMutationStream(spark, s"$dir/mutations")
    val q2 = EventPipeline.runSink(
      EventPipeline.toEventNotifications(stream2, "https://inst"),
      EventPipeline.Webhook("https://hook.example/events", WA.NoAuth,
        () => (_, _, _) => 503), s"$dir/cp2", Some(s"$dir/dlq2"))
    q2.awaitTermination(60000)
    val dlq = spark.read.parquet(s"$dir/dlq2")
    assert(dlq.count() == 7)
    assert(dlq.select("dlq_error").collect()(0).getString(0).contains("503"))

    // PARTIAL failure: only the rejected events reach the DLQ — delivered
    // ones are never replayed
    val stream3 = EventPipeline.readMutationStream(spark, s"$dir/mutations")
    val ok = new java.util.concurrent.atomic.AtomicInteger()
    val q3 = EventPipeline.runSink(
      EventPipeline.toEventNotifications(stream3, "https://inst"),
      EventPipeline.Webhook("https://hook.example/events", WA.NoAuth,
        () => (_, _, body) =>
          if (graft.json.Json.parse(body).get("type").asText()
              == "Konnektr.IoT.Telemetry") 500
          else { ok.incrementAndGet(); 200 }),
      s"$dir/cp3", Some(s"$dir/dlq3"))
    q3.awaitTermination(60000)
    val dlq3 = spark.read.parquet(s"$dir/dlq3")
    assert(dlq3.count() == 1, "only the failed event is dead-lettered")
    assert(dlq3.select("type").collect()(0).getString(0) == "Konnektr.IoT.Telemetry")
    assert(ok.get() == 6, "the six accepted events were delivered once")
  }

  test("E3 fold: multiple physical WAL rows collapse to one logical event") {
    import spark.implicits._
    // txn 1 updates twin t1 three times: fold = first old + last new
    val rows = Seq(
      (1L, 1L, "t1", "TwinUpdate", "t1", """{"v":0}""", """{"v":1}"""),
      (1L, 2L, "t2", "TwinUpdate", "t1", """{"v":1}""", """{"v":2}"""),
      (1L, 3L, "t3", "TwinUpdate", "t1", """{"v":2}""", """{"v":3}"""),
      (1L, 4L, "t3", "TwinCreate", "t9", null, """{"v":9}"""),
      (2L, 5L, "t4", "TwinUpdate", "t1", """{"v":3}""", """{"v":4}""")
    ).toDF("txnId", "seq", "ts", "eventType", "entityId", "oldJson", "newJson")
    val folded = EventPipeline.foldPhysicalRows(spark, rows)
      .collect().sortBy(_.seq)
    assert(folded.length == 3)
    val t1txn1 = folded(0)
    assert(t1txn1.oldJson == """{"v":0}""" && t1txn1.newJson == """{"v":3}""")
    assert(folded(1).eventType == "TwinCreate")
    assert(folded(2).oldJson == """{"v":3}""" && folded(2).newJson == """{"v":4}""")
  }

  test("E3 streaming fold: state flushes on the transaction commit marker") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventPipeline.PhysicalChange]
    val q = EventPipeline.foldPhysicalRowsStream(input.toDS())
      .writeStream.format("memory").queryName("folded").outputMode("append").start()
    try {
      // batch 1: two WAL rows of txn 1, no commit → state held, no output
      input.addData(
        EventPipeline.PhysicalChange(1, 1, "t1", "TwinUpdate", "t1", """{"v":0}""", """{"v":1}"""),
        EventPipeline.PhysicalChange(1, 2, "t2", "TwinUpdate", "t1", """{"v":1}""", """{"v":2}"""))
      q.processAllAvailable()
      assert(spark.table("folded").count() == 0, "uncommitted txn must not emit")
      // batch 2: the commit marker arrives → one folded logical event
      input.addData(EventPipeline.PhysicalChange(1, 3, "t3", "Commit", "", null, null))
      q.processAllAvailable()
      val out = spark.table("folded").as[graft.store.MutationEvent].collect()
      assert(out.length == 1)
      assert(out(0).oldJson == """{"v":0}""" && out(0).newJson == """{"v":2}""")
      assert(out(0).seq == 1 && out(0).ts == "t2")
    } finally q.stop()
  }

  test("watermarked telemetry rollup closes windows in append mode") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def tele(seq: Long, ts: String, id: String) = graft.store.MutationEvent(
      seq, ts, "Telemetry", null, s"""{"digitalTwinId":"$id"}""")
    val input = MemoryStream[graft.store.MutationEvent]
    val q = EventPipeline.telemetryRollup(input.toDS(), "1 minute", "1 minute")
      .writeStream.format("memory").queryName("rollup").outputMode("append").start()
    try {
      input.addData(
        tele(1, "2026-01-01T00:00:10Z", "t1"),
        tele(2, "2026-01-01T00:00:20Z", "t1"),
        tele(3, "2026-01-01T00:00:30Z", "t2"))
      q.processAllAvailable()
      assert(spark.table("rollup").count() == 0,
        "window must stay open until the watermark passes its end")
      // events far past the window advance the watermark; the closed
      // [00:00, 00:01) windows emit on the following trigger
      input.addData(tele(4, "2026-01-01T00:10:00Z", "t1"))
      q.processAllAvailable()
      input.addData(tele(5, "2026-01-01T00:10:01Z", "t1"))
      q.processAllAvailable()
      val rows = spark.table("rollup")
        .select(col("twin_id"), col("n_messages")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("t1", 2L), ("t2", 1L)), s"got $rows")
    } finally q.stop()
  }

  test("telemetry rollup runs identically in batch mode") {
    import spark.implicits._
    val ds = Seq(
      graft.store.MutationEvent(1, "2026-01-01T00:00:10Z", "Telemetry", null,
        """{"digitalTwinId":"t1"}"""),
      graft.store.MutationEvent(2, "2026-01-01T00:00:50Z", "Telemetry", null,
        """{"digitalTwinId":"t1"}"""),
      graft.store.MutationEvent(3, "2026-01-01T00:02:10Z", "Telemetry", null,
        """{"digitalTwinId":"t1"}"""),
      graft.store.MutationEvent(4, "2026-01-01T00:00:30Z", "TwinCreate", null, "{}")
    ).toDS()
    val out = EventPipeline.telemetryRollup(ds).collect()
    assert(out.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L)) // [00:00)=2, [00:02)=1
  }

  test("DLQ captures sink failures without killing the stream") {
    val dir = Files.createTempDirectory("graft-dlq").toString
    val store = populatedStore()
    store.mutationsDf(spark).write.mode("overwrite").parquet(s"$dir/mutations")
    val stream = EventPipeline.readMutationStream(spark, s"$dir/mutations")
    val en = EventPipeline.toEventNotifications(stream, "https://inst")
    // a sink that fails every batch before it writes to $dir/out
    val failing = new EventPipeline.Sink {
      def deliver(batch: org.apache.spark.sql.Dataset[graft.events.CloudEvent]) =
        Some(batch.toDF().withColumn("dlq_error", lit("sink failure (injected)")))
    }
    val q = EventPipeline.runSink(en, failing, s"$dir/cp",
      dlqDir = Some(s"$dir/dlq"))
    q.awaitTermination(60000)
    val dlq = spark.read.parquet(s"$dir/dlq")
    assert(dlq.count() == 7)
    assert(dlq.select("dlq_error").distinct().collect()
      .map(_.getString(0)).head.contains("injected"))
  }

  test("MQTT route: per-event publish to one topic, partial failure → DLQ") {
    val dir = Files.createTempDirectory("graft-mqtt").toString
    val store = populatedStore()
    store.mutationsDf(spark).write.mode("overwrite").parquet(s"$dir/mutations")
    val published = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val q = EventPipeline.runSink(
      EventPipeline.toEventNotifications(
        EventPipeline.readMutationStream(spark, s"$dir/mutations"), "https://inst"),
      EventPipeline.Mqtt("twins/events",
        () => (topic, payload) => { published.add(topic -> payload); () }),
      s"$dir/cp", Some(s"$dir/dlq"))
    q.awaitTermination(60000)
    assert(published.size == 7, s"one publish per event, got ${published.size}")
    assert(published.peek()._1 == "twins/events")
    assert(graft.json.Json.parse(published.peek()._2).has("type"))

    // a publish that throws dead-letters ONLY that event
    val ok = new java.util.concurrent.atomic.AtomicInteger()
    val q2 = EventPipeline.runSink(
      EventPipeline.toEventNotifications(
        EventPipeline.readMutationStream(spark, s"$dir/mutations"), "https://inst"),
      EventPipeline.Mqtt("twins/events",
        () => (_, payload) =>
          if (graft.json.Json.parse(payload).get("type").asText()
              == "Konnektr.IoT.Telemetry") throw new RuntimeException("broker gone")
          else { ok.incrementAndGet(); () }),
      s"$dir/cp2", Some(s"$dir/dlq2"))
    q2.awaitTermination(60000)
    val dlq = spark.read.parquet(s"$dir/dlq2")
    assert(dlq.count() == 1 && ok.get() == 6)
    assert(dlq.select("dlq_error").collect()(0).getString(0).contains("broker gone"))
  }

  test("Kusto route: per-table queued ingestion, failed table batch → DLQ") {
    val dir = Files.createTempDirectory("graft-kusto").toString
    val store = populatedStore()
    store.mutationsDf(spark).write.mode("overwrite").parquet(s"$dir/mutations")
    val ingested = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val q = EventPipeline.runSink(
      EventPipeline.toDataHistory(
        EventPipeline.readMutationStream(spark, s"$dir/mutations"), "https://inst"),
      EventPipeline.Kusto(() => (table, rows) => { ingested.put(table, rows); () }),
      s"$dir/cp", Some(s"$dir/dlq"))
    q.awaitTermination(60000)
    // the populated store's feed lands rows in all three tables
    assert(ingested.containsKey("AdtPropertyEvents"))
    assert(ingested.containsKey("AdtTwinLifeCycleEvents"))
    assert(ingested.containsKey("AdtRelationshipLifeCycleEvents"))
    val prop = graft.json.Json.parse(ingested.get("AdtPropertyEvents").head)
    assert(prop.has("TimeStamp") && prop.has("Id") && prop.has("Key"))
    assert(graft.json.Json.parse(ingested.get("AdtTwinLifeCycleEvents").head)
      .has("TwinId"))

    // one table's ingestion fails → only ITS rows dead-letter; others stand
    val ok = new java.util.concurrent.atomic.AtomicInteger()
    val q2 = EventPipeline.runSink(
      EventPipeline.toDataHistory(
        EventPipeline.readMutationStream(spark, s"$dir/mutations"), "https://inst"),
      EventPipeline.Kusto(() => (table, rows) =>
        if (table == "AdtPropertyEvents") throw new RuntimeException("ingest queue down")
        else { ok.addAndGet(rows.size); () }),
      s"$dir/cp2", Some(s"$dir/dlq2"))
    q2.awaitTermination(60000)
    val dlq = spark.read.parquet(s"$dir/dlq2")
    assert(dlq.select("kusto_table").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("AdtPropertyEvents"))
    assert(dlq.count() > 0 && ok.get() > 0)
    assert(dlq.select("dlq_error").collect()(0).getString(0).contains("ingest queue down"))
  }

  test("table-store journal IS the CDC stream: CRUD → journal → CloudEvents") {
    // the reference's flow is WAL → replication slot → CloudEventFactory;
    // here the durable store's parquet journal plays the slot — the same
    // files the store folds into snapshots feed Structured Streaming with
    // no extra export step
    val dir = Files.createTempDirectory("graft-store-cdc").toString
    val store = graft.store.TableTwinStore.open(spark, s"$dir/store")
    store.createModels(Seq(model))
    store.createOrReplaceTwin("t1",
      """{"$metadata":{"$model":"dtmi:m;1"},"temperature":20.0}""")
    store.patchTwin("t1",
      """[{"op":"replace","path":"/temperature","value":21.0}]""")
    store.createOrReplaceTwin("t2",
      """{"$metadata":{"$model":"dtmi:m;1"},"temperature":22.0}""")
    store.deleteTwin("t2")

    val stream = EventPipeline.readMutationStream(spark, s"$dir/store/mutations")
    val en = EventPipeline.toEventNotifications(stream, "https://inst")
    val q = EventPipeline.runSink(en, EventPipeline.Parquet(s"$dir/out"), s"$dir/cp")
    q.awaitTermination(60000)
    val events = spark.read.parquet(s"$dir/out")
    assert(events.count() == 4)
    val types = events.select("type").collect().map(_.getString(0)).sorted.toSeq
    assert(types.count(_.endsWith("Twin.Create")) == 2)
    assert(types.count(_.endsWith("Twin.Update")) == 1)
    assert(types.count(_.endsWith("Twin.Delete")) == 1)
    // a checkpoint folds + PRUNES the journal; the streaming consumer's
    // own checkpoint means it never re-reads pruned files, exactly like a
    // replication slot past the confirmed LSN
    store.checkpoint()
    store.createOrReplaceTwin("t3",
      """{"$metadata":{"$model":"dtmi:m;1"},"temperature":23.0}""")
    val q2 = EventPipeline.runSink(
      EventPipeline.toEventNotifications(
        EventPipeline.readMutationStream(spark, s"$dir/store/mutations"),
        "https://inst"),
      EventPipeline.Parquet(s"$dir/out"), s"$dir/cp")
    q2.awaitTermination(60000)
    val after = spark.read.parquet(s"$dir/out")
    assert(after.count() == 5, "exactly the new mutation arrives, no replays")
    assert(after.filter(col("subject") === "t3").count() == 1)
  }

  test("OAuth client-credentials: cached until expiry, refreshed after, 401 retry") {
    import EventPipeline.{OAuthTokenProvider, WebhookAuth => WA}
    var now = 0L
    var issued = 0
    val provider = new OAuthTokenProvider(
      fetch = () => { issued += 1; (s"tok$issued", 300L) }, // 300 s TTL
      clock = () => now,
      refreshSkewMs = 60000L)
    // cached within TTL
    assert(provider.token() == "tok1")
    now = 100000L // 100 s in — still > 60 s before expiry
    assert(provider.token() == "tok1" && issued == 1)
    // inside the refresh skew window → re-fetch
    now = 250000L // 250 s in, 50 s to expiry < 60 s skew
    assert(provider.token() == "tok2" && issued == 2)
    // invalidate forces re-acquisition regardless of expiry
    provider.invalidate()
    assert(provider.token() == "tok3")
    // headers always carry the CURRENT token
    assert(EventPipeline.webhookHeaders(WA.OAuthRefreshed(provider))("Authorization")
      == "Bearer tok3")

    // end-to-end: first POST of each event gets 401 once (expired token on
    // the server side), the retry with a fresh token succeeds → no DLQ
    val dir = Files.createTempDirectory("graft-oauth").toString
    val store = populatedStore()
    store.mutationsDf(spark).write.mode("overwrite").parquet(s"$dir/mutations")
    val rejected = new java.util.concurrent.atomic.AtomicInteger()
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = EventPipeline.runSink(
      EventPipeline.toEventNotifications(
        EventPipeline.readMutationStream(spark, s"$dir/mutations"), "https://inst"),
      EventPipeline.Webhook("https://hook.example/events", WA.OAuthRefreshed(provider),
        () => (_, headers, body) => {
          // reject the token it was built with; accept any newer one
          if (headers("Authorization") == "Bearer tok3") { rejected.incrementAndGet(); 401 }
          else { delivered.add(headers("Authorization")); 200 }
        }),
      s"$dir/cp", Some(s"$dir/dlq"))
    q.awaitTermination(60000)
    assert(rejected.get() == 1, "401 happens once; the refreshed token then sticks")
    assert(delivered.size == 7)
    assert(!new java.io.File(s"$dir/dlq").exists, "retry succeeded — nothing dead-lettered")
  }

  // ---------------- distributed (executor-side) sink delivery ----------------

  import graft.events.CloudEvent

  private def eventStream(dir: String, events: Seq[CloudEvent]) = {
    import spark.implicits._
    events.toDS().write.mode("overwrite").parquet(s"$dir/events")
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[CloudEvent].schema)
      .parquet(s"$dir/events").as[CloudEvent]
  }

  private def mkEvents(n: Int, subjects: Int): Seq[CloudEvent] =
    (1 to n).map(i => CloudEvent(f"id$i%03d", "https://inst",
      "Konnektr.DigitalTwins.Twin.Update", s"twin${i % subjects}",
      f"2026-01-01T00:00:${i % 60}%02d.${i / 60}%03dZ", "application/json",
      s"""{"seq":$i}"""))

  /** Run `body` with the size class at `rows` delivery rows; 0 sends
    * every client sink's batches to the executors. */
  private def withCutoff[T](rows: Long)(body: => T): T = {
    spark.conf.set("spark.graft.graph.localSolveMaxEdges", rows.toString)
    try body finally spark.conf.unset("spark.graft.graph.localSolveMaxEdges")
  }

  test("distributed MQTT route: executor-side clients, parity + partial DLQ") {
    val dir = Files.createTempDirectory("graft-dmqtt").toString
    DistributedSinkRecorder.reset()
    withCutoff(0) {
      EventPipeline.runSink(
        eventStream(dir, mkEvents(24, subjects = 6)),
        // factory runs ON the executor: one "client" per partition,
        // recording into the JVM-static holder (local[*] shares the JVM)
        EventPipeline.Mqtt("twins/events",
          () => (topic, payload) => DistributedSinkRecorder.record(topic, payload)),
        s"$dir/cp", Some(s"$dir/dlq")).awaitTermination(60000)
    }
    assert(DistributedSinkRecorder.deliveredSeq.size == 24)
    assert(DistributedSinkRecorder.deliveredSeq.forall(_._2 == "twins/events"))
    assert(!new java.io.File(s"$dir/dlq").exists, "nothing dead-lettered")

    // partial failure: one subject's publishes throw → ONLY those DLQ
    DistributedSinkRecorder.reset()
    withCutoff(0) {
      EventPipeline.runSink(
        eventStream(dir, mkEvents(24, subjects = 6)),
        EventPipeline.Mqtt("twins/events", () => (topic, payload) =>
          if (payload.contains("\"subject\":\"twin3\""))
            throw new RuntimeException("broker gone")
          else DistributedSinkRecorder.record(topic, payload)),
        s"$dir/cp2", Some(s"$dir/dlq2")).awaitTermination(60000)
    }
    val dlq = spark.read.parquet(s"$dir/dlq2")
    assert(dlq.count() == 4 && DistributedSinkRecorder.deliveredSeq.size == 20)
    assert(dlq.select("subject").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("twin3"))
    assert(dlq.select("dlq_error").collect()(0).getString(0).contains("broker gone"))
  }

  test("distributed delivery is concurrent; per-subject order is preserved") {
    val dir = Files.createTempDirectory("graft-dconc").toString
    DistributedSinkRecorder.reset()
    // 32 events over 8 subjects, a 40 ms "network" per publish: serial
    // delivery would never overlap; partitioned delivery must
    withCutoff(0) {
      EventPipeline.runSink(
        eventStream(dir, mkEvents(32, subjects = 8)),
        EventPipeline.Mqtt("t",
          () => (_, payload) => DistributedSinkRecorder.recordSlow(payload, 40)),
        s"$dir/cp", Some(s"$dir/dlq")).awaitTermination(120000)
    }
    assert(DistributedSinkRecorder.deliveredSeq.size == 32)
    assert(DistributedSinkRecorder.maxInFlight.get() >= 2,
      s"expected overlapping deliveries, max in-flight was " +
        s"${DistributedSinkRecorder.maxInFlight.get()}")
    // within each subject, delivery order follows event-time order
    val bySubject = DistributedSinkRecorder.deliveredSeq
      .map { case (seq, _, payload) =>
        val n = graft.json.Json.parse(payload)
        (n.get("subject").asText(), n.get("time").asText(), seq)
      }
      .groupBy(_._1)
    bySubject.foreach { case (subj, rows) =>
      val inDeliveryOrder = rows.sortBy(_._3).map(_._2)
      assert(inDeliveryOrder == inDeliveryOrder.sorted,
        s"subject $subj delivered out of time order: $inDeliveryOrder")
    }
  }

  test("distributed Kusto route: row-identical to driver route, same DLQ outcomes") {
    val dir = Files.createTempDirectory("graft-dkusto").toString
    val store = populatedStore()
    store.mutationsDf(spark).write.mode("overwrite").parquet(s"$dir/mutations")
    def dh() = EventPipeline.toDataHistory(
      EventPipeline.readMutationStream(spark, s"$dir/mutations"), "https://inst")

    // the driver-collected route is the semantic reference
    val driverRows = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val q0 = EventPipeline.runSink(dh(), EventPipeline.Kusto(
      () => (t, rows) => { rows.foreach(r => driverRows.add((t, r))); () }), s"$dir/cp0")
    q0.awaitTermination(60000)

    DistributedSinkRecorder.reset()
    withCutoff(0) {
      EventPipeline.runSink(dh(), EventPipeline.Kusto(
        () => (t, rows) => rows.foreach(r => DistributedSinkRecorder.record(t, r))),
        s"$dir/cp1", Some(s"$dir/dlq1")).awaitTermination(60000)
    }
    import scala.jdk.CollectionConverters._
    val driverSet = driverRows.iterator().asScala.toSet
    val distSet = DistributedSinkRecorder.deliveredSeq
      .map { case (_, t, r) => (t, r) }.toSet
    assert(driverSet.nonEmpty && distSet == driverSet,
      "executor route must ingest byte-identical (table, row) pairs")
    assert(!new java.io.File(s"$dir/dlq1").exists, "nothing dead-lettered")

    // injected failure on one table → both routes dead-letter exactly the
    // same rows; the other tables' ingestions stand on both
    val q2 = EventPipeline.runSink(dh(), EventPipeline.Kusto(
      () => (t, _) => if (t == "AdtPropertyEvents") throw new RuntimeException("ingest queue down") else ()),
      s"$dir/cp2", Some(s"$dir/dlqDriver"))
    q2.awaitTermination(60000)
    DistributedSinkRecorder.reset()
    withCutoff(0) {
      EventPipeline.runSink(dh(), EventPipeline.Kusto(
        () => (t, rows) =>
          if (t == "AdtPropertyEvents") throw new RuntimeException("ingest queue down")
          else rows.foreach(r => DistributedSinkRecorder.record(t, r))),
        s"$dir/cp3", Some(s"$dir/dlqDist")).awaitTermination(60000)
    }
    def dlqSet(p: String) = spark.read.parquet(p)
      .select("kusto_table", "row_json")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dlqSet(s"$dir/dlqDist") == dlqSet(s"$dir/dlqDriver"),
      "same rows dead-letter on both routes")
    assert(DistributedSinkRecorder.deliveredSeq.nonEmpty,
      "non-failing tables still ingested")
  }

  test("client sinks: the size class picks driver or executor path") {
    import EventPipeline.{WebhookAuth => WA}
    def propEvents(n: Int, subjects: Int): Seq[CloudEvent] =
      (1 to n).map(i => CloudEvent(f"id$i%03d", "https://inst",
        graft.events.CloudEventFactory.PropertyEventType, s"twin${i % subjects}",
        f"2026-01-01T00:00:${i % 60}%02d.${i / 60}%03dZ", "application/json",
        s"""{"id":"twin${i % subjects}","key":"temperature","value":"$i"}"""))
    // every factory counts its calls: 1 = the driver path's one client,
    // one per partition task = the executor path
    def counted[C](client: C): C = {
      DistributedSinkRecorder.factoryCalls.incrementAndGet(); client
    }
    val sinks = Seq[EventPipeline.Sink](
      EventPipeline.Kusto(() => counted((t, rows) =>
        rows.foreach(r => DistributedSinkRecorder.record(t, r)))),
      EventPipeline.Mqtt("twins/events", () => counted((topic, payload) =>
        DistributedSinkRecorder.record(topic, payload))),
      EventPipeline.Webhook("https://hook.example/events", WA.NoAuth,
        () => counted((url, _, body) => { DistributedSinkRecorder.record(url, body); 200 })))
    // a property event is one delivery row for every sink; the cutoff is 64
    for (sink <- sinks; (n, subjects) <- Seq((10, 5), (120, 8))) {
      val dir = Files.createTempDirectory("graft-sizeclass").toString
      DistributedSinkRecorder.reset()
      val persisted = spark.sparkContext.getPersistentRDDs.size
      withCutoff(64) {
        EventPipeline.runSink(eventStream(dir, propEvents(n, subjects)), sink,
          s"$dir/cp", Some(s"$dir/dlq")).awaitTermination(60000)
      }
      val what = s"${sink.getClass.getSimpleName}, $n events"
      assert(DistributedSinkRecorder.deliveredSeq.size == n, what)
      val calls = DistributedSinkRecorder.factoryCalls.get
      if (n <= 64) assert(calls == 1,
        s"$what: a batch under the cutoff takes the driver path (one client), got $calls")
      else assert(calls > 1,
        s"$what: a batch over the cutoff takes the executor path (client per partition), got $calls")
      assert(!new java.io.File(s"$dir/dlq").exists, s"$what: nothing dead-lettered")
      assert(spark.sparkContext.getPersistentRDDs.size == persisted,
        s"$what: the batch left persisted RDDs behind")
    }
  }

  test("distributed Kusto ingest calls overlap across partitions") {
    val dir = Files.createTempDirectory("graft-dkingest").toString
    DistributedSinkRecorder.reset()
    // 24 property events over 6 subjects, a 40 ms "ingest queue" per
    // call: single-client serial ingestion would never overlap
    val events = (1 to 24).map(i => CloudEvent(f"id$i%03d", "https://inst",
      graft.events.CloudEventFactory.PropertyEventType, s"twin${i % 6}",
      f"2026-01-01T00:00:${i % 60}%02dZ", "application/json",
      s"""{"id":"twin${i % 6}","key":"temperature","value":"$i"}"""))
    withCutoff(0) {
      EventPipeline.runSink(eventStream(dir, events), EventPipeline.Kusto(
        () => (t, rows) => DistributedSinkRecorder.ingestSlow(t, rows, 40)),
        s"$dir/cp", Some(s"$dir/dlq")).awaitTermination(120000)
    }
    assert(DistributedSinkRecorder.deliveredSeq.size == 24)
    assert(DistributedSinkRecorder.maxInFlight.get() >= 2,
      s"expected overlapping ingest calls, max in-flight was " +
        s"${DistributedSinkRecorder.maxInFlight.get()}")
  }

  test("distributed webhook route: per-partition token refresh, status DLQ") {
    import EventPipeline.{WebhookAuth => WA}
    val dir = Files.createTempDirectory("graft-dhook").toString
    DistributedSinkRecorder.reset()
    // The provider (and its fetch closure) deserialize per partition, so
    // each partition's copy starts cold: the captured counter snapshot is
    // 0, its first fetch yields the expired "stale" token, the 401 retry
    // refreshes to a unique fresh one — per-partition token refresh.
    val localCount = new java.util.concurrent.atomic.AtomicInteger()
    val provider = new EventPipeline.OAuthTokenProvider(
      fetch = () =>
        if (localCount.incrementAndGet() == 1) ("stale", 300L)
        else (s"tok${DistributedSinkRecorder.tokenSeq.incrementAndGet()}", 300L))
    withCutoff(0) {
      EventPipeline.runSink(
        eventStream(dir, mkEvents(24, subjects = 6)),
        EventPipeline.Webhook("https://hook.example/events", WA.OAuthRefreshed(provider),
          () => (url, headers, body) =>
            if (headers("Authorization") == "Bearer stale") {
              DistributedSinkRecorder.tokenRejections.incrementAndGet(); 401
            } else { DistributedSinkRecorder.record(url, body); 200 }),
        s"$dir/cp", Some(s"$dir/dlq")).awaitTermination(60000)
    }
    assert(DistributedSinkRecorder.deliveredSeq.size == 24,
      "every event delivered after its partition's 401-retry")
    assert(DistributedSinkRecorder.tokenRejections.get() >= 1,
      "at least one partition hit the stale token and refreshed")
    assert(!new java.io.File(s"$dir/dlq").exists)

    // non-2xx without retry path → DLQ
    DistributedSinkRecorder.reset()
    withCutoff(0) {
      EventPipeline.runSink(
        eventStream(dir, mkEvents(12, subjects = 3)),
        EventPipeline.Webhook("https://hook.example/events", WA.NoAuth,
          () => (_, _, body) =>
            if (body.contains("\"subject\":\"twin1\"")) 503
            else { DistributedSinkRecorder.record("u", body); 200 }),
        s"$dir/cp2", Some(s"$dir/dlq2")).awaitTermination(60000)
    }
    val dlq = spark.read.parquet(s"$dir/dlq2")
    assert(dlq.count() == 4 && DistributedSinkRecorder.deliveredSeq.size == 8)
    assert(dlq.select("dlq_error").collect()(0).getString(0).contains("503"))
  }

  test("stream-stream interval join: streaming run matches the batch frame") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ssjoin").toString
    def evs(rows: Seq[(Long, String, Long)]) =
      rows.toDF("event_id", "ts", "user_id")
        .withColumn("ts", to_timestamp(col("ts")))
    val views = evs(Seq((1L, "2026-01-01 10:00:00", 7L),
      (2L, "2026-01-01 11:00:00", 7L), (3L, "2026-01-01 10:30:00", 8L)))
    val buys = evs(Seq((10L, "2026-01-01 11:30:00", 7L),
      (11L, "2026-01-01 14:30:00", 7L), // > 2h after both of user 7's views
      (12L, "2026-01-01 10:45:00", 8L),
      (13L, "2026-01-01 09:00:00", 8L))) // BEFORE the view: never attributed
    views.write.parquet(s"$dir/views")
    buys.write.parquet(s"$dir/buys")

    val joined = StreamJoin.intervalJoin(
      spark.readStream.schema(views.schema).parquet(s"$dir/views"),
      spark.readStream.schema(buys.schema).parquet(s"$dir/buys"),
      "user_id", "ts", window = "2 hours", watermark = "1 hour")
      .select(col("l_event_id").as("view_id"), col("r_event_id").as("purchase_id"))
    val q = joined.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/cp")
      .format("parquet").option("path", s"$dir/out").start()
    q.awaitTermination(60000)

    val got = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 10L), (3L, 12L)),
      s"attribution set wrong: $got")
    // parity with the batch execution of the IDENTICAL operator — the
    // q_stream_interval_join oracle gate checks the batch side, so this
    // equality closes the loop to the streaming side
    val batch = StreamJoin.intervalJoin(views, buys,
      "user_id", "ts", "2 hours", "1 hour")
      .select(col("l_event_id"), col("r_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
  }

  test("CDC stream composes with cohort retention (§2.E feeds §2.F)") {
    // Twin lifecycle across three distinct days through the REAL A9
    // surface: mutation log → readMutationStream → landed micro-batches →
    // TimeSeries.cohortRetention — the gate (q_mutlog_retention) covers
    // the batch frame; this proves the streaming reader yields rows the
    // time-series operators consume unchanged.
    val dir = Files.createTempDirectory("graft-cdc-ts").toString
    var today = "2026-01-01T00:00:00Z"
    val store = new TwinStore(() => today)
    store.createModels(Seq(model))
    def doc(t: Double) = s"""{"$$metadata":{"$$model":"dtmi:m;1"},"temperature":$t}"""
    store.createOrReplaceTwin("a", doc(1.0)) // day 1 cohort
    store.createOrReplaceTwin("b", doc(1.0))
    today = "2026-01-02T00:00:00Z"
    store.createOrReplaceTwin("c", doc(1.0)) // day 2 cohort
    store.createOrReplaceTwin("a", doc(2.0)) // a active on day 2
    today = "2026-01-03T00:00:00Z"
    store.createOrReplaceTwin("b", doc(2.0)) // b, c active on day 3
    store.createOrReplaceTwin("c", doc(2.0))
    store.mutationsDf(spark).write.parquet(s"$dir/mutations")

    val stream = EventPipeline.readMutationStream(spark, s"$dir/mutations")
    val q = stream.toDF().writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/cp")
      .format("parquet").option("path", s"$dir/landed").start()
    q.awaitTermination(60000)

    val landed = spark.read.parquet(s"$dir/landed")
      .select(coalesce(
          get_json_object(col("newJson"), "$['$dtId']"),
          get_json_object(col("oldJson"), "$['$dtId']")).as("twin_id"),
        col("ts"))
    val got = graft.operators.TimeSeries.cohortRetention(landed, "twin_id", "ts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("2026-01-01", 0L, 2L), // a, b created day 1
      ("2026-01-01", 1L, 1L), // a active day 2
      ("2026-01-01", 2L, 1L), // b active day 3
      ("2026-01-02", 0L, 1L), // c created day 2
      ("2026-01-02", 1L, 1L)  // c active day 3
    ), s"retention over the CDC stream diverged: $got")
  }
}

/** JVM-static recorder for executor-side delivery closures: a captured
  * local would be SERIALIZED per task and its mutations lost — statics are
  * shared in local[*]'s single JVM, so assertions see executor effects. */
object DistributedSinkRecorder {
  import java.util.concurrent._
  import java.util.concurrent.atomic._
  import scala.jdk.CollectionConverters._

  /** (global delivery sequence, topic/url, payload) */
  private val deliveredQ = new ConcurrentLinkedQueue[(Int, String, String)]()
  def deliveredSeq: Seq[(Int, String, String)] =
    deliveredQ.iterator().asScala.toSeq
  private val seq = new AtomicInteger()
  val inFlight = new AtomicInteger()
  val maxInFlight = new AtomicInteger()
  val tokenSeq = new AtomicInteger()
  val tokenRejections = new AtomicInteger()
  /** How many times a sink-client factory ran (1 = driver path; one per
    * partition task = executor path). */
  val factoryCalls = new AtomicInteger()

  def record(topic: String, payload: String): Unit = {
    deliveredQ.add((seq.incrementAndGet(), topic, payload)); ()
  }

  def recordSlow(payload: String, sleepMs: Long): Unit = {
    val cur = inFlight.incrementAndGet()
    maxInFlight.updateAndGet(m => math.max(m, cur))
    Thread.sleep(sleepMs)
    record("t", payload)
    inFlight.decrementAndGet(); ()
  }

  /** Batch-granular slow "queued ingest": tracks overlapping ingest CALLS
    * (the unit of Kusto queued-ingestion concurrency). */
  def ingestSlow(table: String, rows: Seq[String], sleepMs: Long): Unit = {
    val cur = inFlight.incrementAndGet()
    maxInFlight.updateAndGet(m => math.max(m, cur))
    Thread.sleep(sleepMs)
    rows.foreach(r => record(table, r))
    inFlight.decrementAndGet(); ()
  }

  def reset(): Unit = {
    deliveredQ.clear(); seq.set(0); inFlight.set(0); maxInFlight.set(0)
    tokenSeq.set(0); tokenRejections.set(0); factoryCalls.set(0)
  }
}
