package graft.streaming

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}
import graft.core.Tables
import graft.events.{CloudEvent, CloudEventFactory}
import graft.graph.LocalGraph
import graft.store.MutationEvent

/** The streaming events service (SURVEY §2.E / §3.3), Spark-native:
  * Structured Streaming over the mutation log replaces the reference's
  * Postgres logical-replication consumer
  * (/root/reference/src/AgeDigitalTwins.Events/Core/Services/AgeDigitalTwinsReplication.cs).
  *
  * Because the store writes ONE row per logical operation, the reference's
  * stateful WAL row-folding (E3, flatMapGroupsWithState territory) is
  * unnecessary — classification (E2), validity filter (E4), patch
  * derivation (E5) and formatting (E6/E7/E8) are per-row transforms that
  * scale embarrassingly. Routes (E9) become one output stream per
  * (format, [[Sink]]); reliability (E11) is checkpointing + the one DLQ
  * rule of [[runSink]].
  */
object EventPipeline {

  def mutationsToDataset(spark: SparkSession, df: DataFrame): Dataset[MutationEvent] = {
    import spark.implicits._
    df.select(col("seq"), col("ts"), col("event_type").as("eventType"),
        col("old_json").as("oldJson"), col("new_json").as("newJson"))
      .as[MutationEvent]
  }

  /** E4 validity filter: Create/Update need new, Update needs old, Delete
    * needs old (AgeDigitalTwinsReplication.cs:645-672). */
  def validMutations(ds: Dataset[MutationEvent]): Dataset[MutationEvent] =
    ds.filter { m =>
      m.eventType match {
        case "TwinCreate" | "RelationshipCreate" | "Telemetry" => m.newJson != null
        case "TwinUpdate" | "RelationshipUpdate" => m.newJson != null && m.oldJson != null
        case "TwinDelete" | "RelationshipDelete" => m.oldJson != null
        case _ => false
      }
    }

  /** E6 EventNotification frame. */
  def toEventNotifications(ds: Dataset[MutationEvent], source: String)
      : Dataset[CloudEvent] = {
    import ds.sparkSession.implicits._
    validMutations(ds).flatMap(m => CloudEventFactory.eventNotification(m, source))
  }

  /** E7 DataHistory frame (all three record kinds in one stream; split per
    * sink table with a filter on `type`). */
  def toDataHistory(ds: Dataset[MutationEvent], source: String,
      trackLastUpdatedBy: Boolean = false): Dataset[CloudEvent] = {
    import ds.sparkSession.implicits._
    validMutations(ds).flatMap(m =>
      CloudEventFactory.dataHistory(m, source, trackLastUpdatedBy))
  }

  /** The three Kusto-shaped DataHistory tables
    * (docs/how-to-guides/data-history-kusto.mdx:113-179): (data-JSON
    * path → Kusto column) specs shared by the table projections below and
    * the [[Kusto]] sink's rows. */
  private val PropertyCols = Seq("timeStamp" -> "TimeStamp",
    "serviceId" -> "ServiceId", "id" -> "Id", "modelId" -> "ModelId",
    "key" -> "Key", "value" -> "Value", "relationshipId" -> "RelationshipId",
    "relationshipTarget" -> "RelationshipTarget")
  private val TwinLifecycleCols = Seq("twinId" -> "TwinId",
    "action" -> "Action", "timeStamp" -> "TimeStamp",
    "serviceId" -> "ServiceId", "modelId" -> "ModelId")
  private val RelLifecycleCols = Seq("relationshipId" -> "RelationshipId",
    "name" -> "Name", "action" -> "Action", "timeStamp" -> "TimeStamp",
    "serviceId" -> "ServiceId", "source" -> "Source", "target" -> "Target")

  private def tableColumns(cols: Seq[(String, String)]) =
    cols.map { case (path, name) =>
      get_json_object(col("data"), s"$$['$path']").as(name)
    }

  private def projectTable(events: Dataset[CloudEvent], eventType: String,
      cols: Seq[(String, String)]): DataFrame =
    events.filter(col("type") === eventType).select(tableColumns(cols): _*)

  def propertyEvents(events: Dataset[CloudEvent]): DataFrame =
    projectTable(events, CloudEventFactory.PropertyEventType, PropertyCols)

  def twinLifeCycleEvents(events: Dataset[CloudEvent]): DataFrame =
    projectTable(events, CloudEventFactory.TwinLifecycleType, TwinLifecycleCols)

  def relationshipLifeCycleEvents(events: Dataset[CloudEvent]): DataFrame =
    projectTable(events, CloudEventFactory.RelationshipLifecycleType, RelLifecycleCols)

  /** One physical change-feed row (e.g. a WAL tuple): several may belong
    * to one logical operation within a transaction. */
  final case class PhysicalChange(txnId: Long, seq: Long, ts: String,
      eventType: String, entityId: String, oldJson: String, newJson: String)

  /** E3 stateful correlation for EXTERNAL change feeds: consecutive rows
    * for the same (txn, entity) fold into one logical event — first
    * OldValue + last NewValue (AgeDigitalTwinsReplication.cs:324-339,
    * 396-424 of /root/reference). Our own mutation log never needs this
    * (one row per logical op by construction), but feeds replicated from a
    * row-at-a-time WAL do. Batch form shown here groups per key with
    * map-side-combinable min_by/max_by; under `readStream` the same fold
    * runs as flatMapGroupsWithState keyed by (txnId, entityId) with the
    * transaction commit as the flush boundary. */
  def foldPhysicalRows(spark: SparkSession, rows: DataFrame): Dataset[MutationEvent] = {
    import spark.implicits._
    rows.groupBy(col("txnId"), col("entityId"))
      .agg(
        min(col("seq")).as("seq"),
        max(col("ts")).as("ts"),
        max_by(col("eventType"), col("seq")).as("eventType"),
        min_by(col("oldJson"), col("seq")).as("oldJson"),
        max_by(col("newJson"), col("seq")).as("newJson"))
      .select(col("seq"), col("ts"), col("eventType"), col("oldJson"), col("newJson"))
      .as[MutationEvent]
  }

  /** Per-entity in-flight fold inside one open transaction. */
  final case class TxnFold(entries: Seq[MutationEvent], entityIds: Seq[String])

  /** Streaming form of [[foldPhysicalRows]]: `flatMapGroupsWithState`
    * keyed by transaction id, with the commit row as the flush boundary —
    * the exact shape of the reference's replication consumer, which
    * accumulates WAL tuples per transaction and emits on COMMIT
    * (AgeDigitalTwinsReplication.cs:324-339, 396-424). Rows for a
    * transaction may arrive across micro-batches; per-entity folds live in
    * managed state until the `Commit` marker arrives, then flush in
    * first-seq order and release the state. State size is bounded by open
    * transactions × touched entities, independent of stream length. */
  def foldPhysicalRowsStream(rows: Dataset[PhysicalChange]): Dataset[MutationEvent] = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    rows.groupByKey(_.txnId)
      .flatMapGroupsWithState[TxnFold, MutationEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[TxnFold]) =>
          val st = state.getOption.getOrElse(TxnFold(Nil, Nil))
          var acc = st.entityIds.zip(st.entries).toMap
          var committed = false
          for (r <- it.toSeq.sortBy(_.seq)) {
            if (r.eventType == "Commit") committed = true
            else acc += (r.entityId -> (acc.get(r.entityId) match {
              // first OldValue + last NewValue, last event type, first seq
              case None => MutationEvent(r.seq, r.ts, r.eventType, r.oldJson, r.newJson)
              case Some(prev) => MutationEvent(prev.seq, r.ts, r.eventType, prev.oldJson, r.newJson)
            }))
          }
          if (committed) {
            state.remove()
            acc.values.toSeq.sortBy(_.seq).iterator
          } else {
            val (ids, evs) = acc.toSeq.unzip
            state.update(TxnFold(evs, ids))
            Iterator.empty
          }
      }
  }

  /** Event-time windowed telemetry rollup with a watermark: per (window,
    * twin) counts over the telemetry feed. The watermark bounds state —
    * rows later than `lateness` are dropped and closed windows are
    * reclaimed, which is what lets a continuous rollup run forever over a
    * 100 TB/day feed. The same expression tree runs in batch mode (plain
    * window aggregation) and under `readStream` (stateful, append-mode
    * emission on window close). */
  def telemetryRollup(ds: Dataset[MutationEvent], windowDur: String = "1 minute",
      lateness: String = "5 minutes"): DataFrame =
    ds.toDF()
      .filter(col("eventType") === "Telemetry")
      .withColumn("event_time", to_timestamp(col("ts")))
      .withWatermark("event_time", lateness)
      .groupBy(
        window(col("event_time"), windowDur).as("w"),
        get_json_object(col("newJson"), "$['digitalTwinId']").as("twin_id"))
      .agg(count(lit(1)).as("n_messages"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("twin_id"), col("n_messages"))

  /** Open the mutation log directory as a stream (A9: the CDC source). */
  def readMutationStream(spark: SparkSession, dir: String): Dataset[MutationEvent] =
    mutationsToDataset(spark,
      spark.readStream.schema(Tables.mutationsSchema).parquet(dir))

  /** A11 Kafka sink configuration, mirroring the reference's
    * Events/Sinks/Kafka/KafkaEventSink.cs:32-166 (SASL PLAIN and
    * OAUTHBEARER over SASL_SSL; plaintext for local brokers). */
  final case class KafkaSinkConfig(
      bootstrapServers: String,
      topic: String,
      securityProtocol: Option[String] = None, // e.g. SASL_SSL
      saslMechanism: Option[String] = None,    // PLAIN | OAUTHBEARER
      saslJaasConfig: Option[String] = None)

  /** The structured-mode JSON envelope as column `__envelope` of a
    * CloudEvent frame: attributes via to_json; `data` is already JSON text, so it is
    * spliced in verbatim (structured content mode embeds data as JSON, not
    * as a quoted string). */
  private def withEnvelope(df: DataFrame): DataFrame = {
    val attrs = to_json(struct(col("id"), col("source"), col("type"),
      col("subject"), col("time"), col("datacontenttype"), col("dataschema")))
    df.withColumn("__attrs", attrs)
      .withColumn("__envelope",
        concat(expr("substring(__attrs, 1, length(__attrs) - 1)"),
          lit(",\"data\":"), coalesce(col("data"), lit("null")), lit("}")))
      .drop("__attrs")
  }

  /** CloudEvents → Kafka records: key = subject (so all events of one
    * entity land in one partition, preserving per-entity order — the same
    * affinity the reference gets from the CloudEvents partition key),
    * value = the JSON envelope (structured content mode). */
  def kafkaFrame(events: Dataset[CloudEvent]): DataFrame =
    withEnvelope(events.toDF())
      .select(col("subject").as("key"), col("__envelope").as("value"))

  /** The `writeStream.format("kafka")` option map for a config. */
  def kafkaOptions(c: KafkaSinkConfig): Map[String, String] =
    Map("kafka.bootstrap.servers" -> c.bootstrapServers, "topic" -> c.topic) ++
      c.securityProtocol.map("kafka.security.protocol" -> _) ++
      c.saslMechanism.map("kafka.sasl.mechanism" -> _) ++
      c.saslJaasConfig.map("kafka.sasl.jaas.config" -> _)

  /** A11: the real Kafka sink plan — `writeStream.format("kafka")` over
    * the keyed/serialized frame, fully configured and ready to `.start()`
    * on a deployment with the kafka connector on the classpath (this
    * zero-egress environment has neither broker nor connector, so the
    * default route keeps the parquet stand-in; the spec asserts this plan's
    * construction instead). */
  def kafkaWriter(events: Dataset[CloudEvent], config: KafkaSinkConfig,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    kafkaFrame(events).writeStream
      .format("kafka")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .options(kafkaOptions(config))
  }

  /** An event sink (E9): delivers one micro-batch of CloudEvents and
    * reports what it could not deliver. The reference wraps every sink in
    * one resilient wrapper with one DLQ service
    * (ResilientEventSinkWrapper.cs, DLQService.cs); [[runSink]] is that
    * wrapper here. */
  trait Sink {
    /** Deliver `batch`. Returns the rows of every delivery unit that
      * failed, each with its `dlq_error`, or None when all were
      * delivered. */
    def deliver(batch: Dataset[CloudEvent]): Option[DataFrame]
  }

  /** E9/E11: run one event stream into `sink` with checkpointing. A failed
    * delivery unit (a Kusto table group, one event, or the parquet batch)
    * dead-letters exactly that unit's rows, with `dlq_error` and
    * `dlq_batch`, into `dlqDir`; delivered units are never replayed. With
    * no DLQ the batch throws, so the checkpoint retries it. */
  def runSink(events: Dataset[CloudEvent], sink: Sink, checkpointDir: String,
      dlqDir: Option[String] = None): StreamingQuery =
    events.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[CloudEvent], batchId: Long) =>
        sink.deliver(batch).foreach { failed =>
          dlqDir match {
            case Some(d) =>
              failed.withColumn("dlq_batch", lit(batchId))
                .write.mode("append").parquet(d)
            case None => throw new RuntimeException("event sink delivery " +
              s"failed: ${failed.first().getAs[String]("dlq_error")}")
          }
        }
      }
      .start()

  /** A15 parquet "sink table": the whole batch is one delivery unit. */
  final case class Parquet(outDir: String) extends Sink {
    def deliver(batch: Dataset[CloudEvent]): Option[DataFrame] = {
      val df = batch.toDF()
      try { df.write.mode("append").parquet(outDir); None }
      catch { case e: Exception =>
        Some(df.withColumn("dlq_error", lit(String.valueOf(e.getMessage))))
      }
    }
  }

  /** A sink that delivers through a client (A12–A14). Its delivery rows
    * hold `unit` (the failure granule), `subject` and `time` (the order
    * key), `payload` (what the client sends) and `dead` (the columns a
    * failed unit dead-letters).
    *
    * The one size class picks where they are delivered: the rows are
    * collected with [[LocalGraph.collectBounded]] at
    * [[LocalGraph.maxEdges]]. Under it (the steady-state trickle) one
    * client delivers them on the driver in arrival order, like the
    * reference's single consumer (SharedEventConsumer.cs:31). Over it (a
    * backfill or burst replay) they are hash-partitioned by `subject` and
    * time-sorted within each partition, one client per partition delivers
    * them on the executors, and only failed rows return to the driver.
    * Either way each subject's rows arrive in order, the guarantee the
    * Kafka key gives too. */
  sealed abstract class ClientSink extends Sink {
    protected def deliveries(events: DataFrame): DataFrame

    /** A client for the driver batch or one partition (the factories it
      * calls must be serializable): delivers one unit's payloads in order
      * and throws on failure. */
    protected def client(): (String, Seq[String]) => Unit

    final def deliver(batch: Dataset[CloudEvent]): Option[DataFrame] = {
      val spark = batch.sparkSession
      val rows = deliveries(batch.toDF())
      val failed = LocalGraph.collectBounded(rows.coalesce(1),
          LocalGraph.maxEdges(spark)) match {
        case Some(local) => deliverUnits(local.iterator, client()).toArray
        case None =>
          rows.repartition(spark.sessionState.conf.numShufflePartitions,
              col("subject"))
            .sortWithinPartitions(col("time"), col("unit"))
            .rdd.mapPartitions(it => deliverUnits(it, client()))
            .collect()
      }
      if (failed.isEmpty) None
      else Some(spark.createDataFrame(java.util.Arrays.asList(failed: _*),
        rows.schema("dead").dataType.asInstanceOf[StructType]
          .add("dlq_error", StringType)))
    }
  }

  /** A [[ClientSink]]'s delivery rows over `events`. */
  private def delivery(events: DataFrame, unit: Column, payload: Column,
      dead: Column*): DataFrame =
    events.select(unit.as("unit"), col("subject"), col("time"),
      payload.as("payload"), struct(dead: _*).as("dead"))

  /** One unit per event: its structured JSON envelope is the payload and
    * a failure dead-letters the event's own columns. */
  private def eventDeliveries(events: DataFrame): DataFrame =
    delivery(withEnvelope(events), col("id"), col("__envelope"),
      events.columns.map(col): _*)

  /** Deliver delivery rows one unit per `deliver` call, units in the order
    * they first appear and rows in arrival order within a unit; the rows
    * are held while they are grouped. The rows of a unit whose call threw
    * come back as their `dead` columns plus the error. */
  private def deliverUnits(rows: Iterator[Row],
      deliver: (String, Seq[String]) => Unit): Iterator[Row] = {
    val units = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Row]]
    rows.foreach(r =>
      units.getOrElseUpdate(r.getString(0), mutable.ArrayBuffer.empty) += r)
    units.iterator.flatMap { case (unit, rs) =>
      try { deliver(unit, rs.map(_.getString(3)).toSeq); Iterator.empty }
      catch { case e: Exception =>
        val msg = String.valueOf(e.getMessage)
        rs.iterator.map(r => Row.fromSeq(r.getStruct(4).toSeq :+ msg))
      }
    }
  }

  /** A12 Kusto sink: each batch splits into the three DataHistory tables,
    * and each table's JSON rows are queued-ingested through a client from
    * `mkIngest` (the reference's IKustoQueuedIngestClient with per-table
    * JSON ingestion mappings, KustoEventSink.cs:31-70). Queued ingestion
    * is batch-granular, so the unit is one table's rows (per partition on
    * the executors), dead-lettered as (`kusto_table`, `row_json`). Default
    * table names per data-history-kusto.mdx:100-102. */
  final case class Kusto(
      mkIngest: () => (String, Seq[String]) => Unit, // (table, JSON rows); throws on failure
      propertyTable: String = "AdtPropertyEvents",
      twinLifecycleTable: String = "AdtTwinLifeCycleEvents",
      relLifecycleTable: String = "AdtRelationshipLifeCycleEvents")
      extends ClientSink {
    protected def deliveries(events: DataFrame): DataFrame =
      Seq((propertyTable, CloudEventFactory.PropertyEventType, PropertyCols),
        (twinLifecycleTable, CloudEventFactory.TwinLifecycleType, TwinLifecycleCols),
        (relLifecycleTable, CloudEventFactory.RelationshipLifecycleType, RelLifecycleCols))
        .map { case (table, typ, cols) =>
          val row = to_json(struct(tableColumns(cols): _*))
          delivery(events.filter(col("type") === typ), lit(table), row,
            lit(table).as("kusto_table"), row.as("row_json"))
        }.reduce(_ unionAll _)

    protected def client(): (String, Seq[String]) => Unit = mkIngest()
  }

  /** A13 MQTT sink: every event's envelope is published to ONE configured
    * topic (Events/Sinks/Mqtt/MqttEventSink.cs:17-128) through a client
    * from `mkPublish`, e.g. a Paho client's publish. */
  final case class Mqtt(
      topic: String,
      mkPublish: () => (String, String) => Unit) // (topic, payload); throws on failure
      extends ClientSink {
    protected def deliveries(events: DataFrame): DataFrame = eventDeliveries(events)

    protected def client(): (String, Seq[String]) => Unit = {
      val publish = mkPublish()
      (_, payloads) => payloads.foreach(publish(topic, _))
    }
  }

  /** A14 webhook sink: every event's envelope is POSTed to `url`
    * (WebhookEventSink.cs SendEventsAsync) through a client from `mkPost`,
    * which returns the HTTP status; a non-2xx status fails the event.
    * Headers are built per request, so a refreshed OAuth token is the
    * current one, and a 401 invalidates it and retries once. On the
    * executors the auth state is serialized per partition: each client
    * acquires and refreshes its own token, as a fleet of webhook workers
    * would. */
  final case class Webhook(
      url: String,
      auth: WebhookAuth,
      mkPost: () => (String, Map[String, String], String) => Int)
      extends ClientSink {
    protected def deliveries(events: DataFrame): DataFrame = eventDeliveries(events)

    protected def client(): (String, Seq[String]) => Unit = {
      val post = mkPost()
      def send(body: String) = post(url, webhookHeaders(auth), body)
      (_, bodies) => bodies.foreach { body =>
        var status = send(body)
        if (status == 401) auth match {
          case WebhookAuth.OAuthRefreshed(p) => p.invalidate(); status = send(body)
          case _ =>
        }
        if (status < 200 || status >= 300)
          throw new RuntimeException(s"webhook returned $status")
      }
    }
  }

  /** A14 webhook sink auth modes, mirroring the reference's
    * Events/Sinks/Webhook/WebhookEventSink.cs (Basic, Bearer, ApiKey and
    * OAuth client-credentials — the OAuth token is acquired out-of-band and
    * carried as a bearer here, like the reference's refreshed token). */
  sealed trait WebhookAuth
  object WebhookAuth {
    case object NoAuth extends WebhookAuth
    final case class Basic(username: String, password: String) extends WebhookAuth
    final case class Bearer(token: String) extends WebhookAuth
    final case class ApiKey(headerName: String, key: String) extends WebhookAuth
    final case class OAuth(accessToken: String) extends WebhookAuth
    /** OAuth client-credentials with automatic refresh: the token is
      * re-read from the provider on every request, so expiry mid-stream
      * re-acquires transparently (WebhookEventSink.cs token acquisition +
      * refresh-on-expiry). */
    final case class OAuthRefreshed(provider: OAuthTokenProvider) extends WebhookAuth
  }

  /** Client-credentials token cache: `fetch` performs the out-of-band
    * token-endpoint POST (injectable — zero egress here; a deployment
    * closes over its HTTP client and credentials) returning (accessToken,
    * expiresInSeconds). Tokens are served from cache until `refreshSkewMs`
    * before expiry, then re-fetched; a 401 from the sink calls
    * [[invalidate]] to force re-acquisition on the retry. */
  final class OAuthTokenProvider(
      fetch: () => (String, Long),
      clock: () => Long = () => System.currentTimeMillis(),
      refreshSkewMs: Long = 60000L) extends Serializable {
    private var cached: Option[(String, Long)] = None // (token, expiresAtMs)
    private[streaming] var fetchCount = 0

    def token(): String = synchronized {
      cached match {
        case Some((t, expiresAt)) if clock() < expiresAt - refreshSkewMs => t
        case _ =>
          val (t, ttlSeconds) = fetch()
          fetchCount += 1
          cached = Some((t, clock() + ttlSeconds * 1000))
          t
      }
    }

    def invalidate(): Unit = synchronized { cached = None }
  }

  /** Request headers for a webhook auth mode (+ the CloudEvents structured
    * content type). */
  def webhookHeaders(auth: WebhookAuth): Map[String, String] = {
    val base = Map("Content-Type" -> "application/cloudevents+json")
    auth match {
      case WebhookAuth.NoAuth => base
      case WebhookAuth.Basic(u, p) =>
        base + ("Authorization" -> ("Basic " + java.util.Base64.getEncoder
          .encodeToString(s"$u:$p".getBytes("UTF-8"))))
      case WebhookAuth.Bearer(t) => base + ("Authorization" -> s"Bearer $t")
      case WebhookAuth.ApiKey(h, k) => base + (h -> k)
      case WebhookAuth.OAuth(t) => base + ("Authorization" -> s"Bearer $t")
      case WebhookAuth.OAuthRefreshed(p) =>
        base + ("Authorization" -> s"Bearer ${p.token()}")
    }
  }
}
