package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Td

/** Streaming-shaped operators (SURVEY §2.E) demonstrated as batch queries
  * over the events table — the same column expressions run unchanged under
  * `readStream` (Structured Streaming), which EventPipelineSpec exercises;
  * here they get DuckDB oracles.
  */
object EventQueries {

  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * 100 + 0.5).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // E2 event classification: map raw event types to lifecycle classes
    // (when/otherwise decision table, AgeDigitalTwinsReplication.cs:342-363).
    "q_e2_classify" -> ((s, d) => {
      Td.events(s, d)
        .withColumn("event_class",
          when(col("event_type").isin("signup"), "Lifecycle.Create")
            .when(col("event_type").isin("click", "view"), "Activity.Read")
            .when(col("event_type") === "purchase", "Activity.Write")
            .when(col("event_type") === "error", "Fault")
            .otherwise("Unknown"))
        .groupBy(col("event_class"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
        .orderBy(col("event_class"))
    }),

    // E3 fold: collapse consecutive events per entity to (first, last) —
    // the WAL row-folding shape (first OldValue + last NewValue).
    "q_e3_fold" -> ((s, d) => {
      Td.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          min_by(cents(col("value")), col("event_id")).as("first_value_c"),
          max_by(cents(col("value")), col("event_id")).as("last_value_c"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // E7 property flattening: one row per (event, property key) — the
    // DataHistory explode shape over a JSON payload.
    "q_e7_flatten" -> ((s, d) => {
      val js = concat(lit("{\"n\": "), col("user_id"),
        lit(", \"s\": \""), col("event_type"),
        lit("\", \"k\": "), get_json_object(col("props"), "$['k']"), lit("}"))
      Td.events(s, d)
        .withColumn("doc", js)
        .select(col("event_id"), explode(array(lit("n"), lit("s"), lit("k"))).as("key"),
          col("doc"))
        .withColumn("value", get_json_object(col("doc"), "$['key']"))
        .withColumn("value",
          when(col("key") === "n", get_json_object(col("doc"), "$['n']"))
            .when(col("key") === "s", get_json_object(col("doc"), "$['s']"))
            .otherwise(get_json_object(col("doc"), "$['k']")))
        .select(col("event_id"), col("key"), col("value"))
        .orderBy(col("event_id"), col("key"))
    }),

    // As-of join: every click matched to the user's latest prior (or
    // simultaneous) view — the point-in-time lookup, tagged-union + one
    // window per key (no range-join explosion). Fixed-point value so the
    // carried double hash-compares exactly.
    "q_asof_join" -> ((s, d) => {
      val ev = Td.events(s, d)
      graft.operators.AsOfJoin.asOf(
        probe = ev.filter(col("event_type") === "click"),
        series = ev.filter(col("event_type") === "view"),
        keyCols = Seq("user_id"), probeTimeCol = "ts", seriesTimeCol = "ts",
        carryCols = Seq("event_id", "value"),
        seriesTiebreak = Some("event_id"))
        .select(col("event_id"), col("user_id"),
          col("asof_event_id"),
          cents(col("asof_value")).as("asof_value_c"))
        .orderBy(col("event_id"))
    }),

    // Range join: clicks inside the hour after each purchase by the same
    // user — bucketized to an equi-join on (user, hour-bin), never a
    // nested-loop inequality join.
    "q_range_join" -> ((s, d) => {
      val ev = Td.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("end_ts"))
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.RangeJoin.pointInInterval(
        clicks, purchases, Seq("user_id"), "ts", "start_ts", "end_ts",
        binMs = 3600000L)
        .select(col("event_id"), col("user_id"), col("ivl_p_id"))
        .orderBy(col("event_id"), col("ivl_p_id"))
    }),

    // KMV distinct-count sketch: bounded bottom-k aggregate whose STATE
    // is deterministic (unlike HLL registers) — the oracle reproduces the
    // exact k-th minimum hash and sketch size per group.
    "q_sketch_kmv" -> ((s, d) => {
      Td.events(s, d)
        .select(col("event_type"), graft.pipeline.TextAnalysis
          .stableId(col("user_id").cast("string")).as("h"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketch.kmv(16)(col("h")).as("sk"))
        .select(col("event_type"),
          size(col("sk")).cast("long").as("n_sketch"),
          element_at(col("sk"), -1).as("kth_hash"))
        .orderBy(col("event_type"))
    }),

    // KMV set operations: pairwise audience-overlap between event types
    // from finished sketches alone — union sketch (bottom-k of the two
    // hash sets), its k-th minimum (→ union cardinality), and the
    // Jaccard numerator |A∩B∩U_k|. The sketch table is per-type tiny, so
    // the pair join is a broadcast; the raw events are touched exactly
    // once to build the sketches.
    "q_sketch_kmv_setops" -> ((s, d) => {
      val sk = Td.events(s, d)
        .select(col("event_type"), graft.pipeline.TextAnalysis
          .stableId(col("user_id").cast("string")).as("h"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketch.kmv(16)(col("h")).as("sk"))
      val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
      val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
      val merged = graft.functions.KmvSketch.merge(16)(col("ska"), col("skb"))
      a.join(broadcast(b), col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"), merged.as("u"),
          col("ska"), col("skb"))
        .select(col("type_a"), col("type_b"),
          size(col("u")).cast("long").as("n_union"),
          element_at(col("u"), -1).as("kth_union"),
          graft.functions.KmvSketch
            .commonInMerged(col("u"), col("ska"), col("skb")).as("n_common"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // Count-Min frequency sketch: bounded depth×width counter grid whose
    // STATE is deterministic (md5 double hashing + commutative adds, vs
    // count_min_sketch's opaque binary) — the oracle rebuilds the exact
    // grid and reproduces every estimate. Probes = first 20 user ids.
    "q_sketch_countmin" -> ((s, d) => {
      import s.implicits._
      val ev = Td.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id").cast("string").as("k"))
      val g = ev.select(graft.functions.CountMinSketch.countMin(8192, 4)(col("k")))
        .head.getSeq[Long](0)
      val probes = ev.distinct.orderBy(col("k")).limit(20).as[String].collect()
      probes.toSeq
        .map(k => (k, graft.functions.CountMinSketch.estimate(g, 8192, 4, k)))
        .toDF("key", "est").orderBy(col("key"))
    }),

    // Gap-based sessionization: 30-minute-silence session rollup per
    // user — one shuffle + per-key window, no self-join.
    "q_sessionize" -> ((s, d) => {
      graft.operators.Sessionize.sessions(
        Td.events(s, d), Seq("user_id"), "ts", gapMs = 1800000L)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("duration_us"))
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // The SAME 30-min gap sessionization, actually DRAINED through
    // Structured Streaming (A9/E10 composition): events land as a file
    // stream, session_window holds/merges per-user session state across
    // micro-batches, a far-future sentinel advances the watermark so
    // Append mode flushes every session, and the collected output is
    // hash-verified against the batch gap-sessionization oracle — the
    // parity StreamingSessionizeSpec asserts, upgraded to an oracle gate.
    "q_stream_sessions" -> ((s, d) => {
      val dir = graft.core.Scratch.dir("graft_stream_sess_", d)
      val ev = Td.events(s, d).select(col("event_id"), col("ts"), col("user_id"))
      ev.write.mode("overwrite").parquet(s"$dir/in")
      // Checkpoint-file checksums (new in Spark 4.1, on by default) are
      // an integrity guard for long-lived checkpoints on remote object
      // stores; this gate's checkpoint is per-run scratch that is never
      // reopened by another process, and the checksum futures were the
      // gate's single largest cost at high core counts (thread dumps:
      // ~40% of state-task samples parked in
      // ChecksumCheckpointFileManager.awaitResult, r20). The drains run in
      // a child session with them off, so the caller's session conf is
      // never touched.
      val ss = s.newSession()
      ss.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      def drain(): Unit = {
        val q = graft.streaming.StreamingSessionize.sessions(
            ss.readStream.schema(ev.schema).parquet(s"$dir/in"),
            Seq("user_id"), "ts", gapMs = 1800000L, lateness = "1 second")
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$dir/cp")
          .format("parquet").option("path", s"$dir/out").start()
        q.awaitTermination(300000): Unit
      }
      drain() // all real events in one backlog
      // sentinel batch: pushes the watermark past every real session
      s.range(1).select(lit(-1L).as("event_id"),
          lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
          lit(-1L).as("user_id"))
        .write.mode("append").parquet(s"$dir/in")
      drain() // restart from the checkpoint; flushes the held sessions
      s.read.parquet(s"$dir/out").filter(col("user_id") >= 0)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), col("duration_us"))
        .orderBy(col("user_id"), col("start_us"))
    }),

    // Ordered-step funnel: how far each user travels along
    // view → click → purchase, greedy earliest-completion semantics.
    "q_events_funnel" -> ((s, d) => {
      graft.operators.Funnel.stages(Td.events(s, d), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))
    }),

    // Regular-grid resample + forward fill: every hourly slot in each
    // user's span gets a row; gaps carry the last observed slot sum.
    // Per-key sequence() grid + per-key fill window — no global calendar
    // join, no single-partition window (operators/TimeSeries.scala).
    "q_ts_resample" -> ((s, d) => {
      graft.operators.TimeSeries.resample(
        Td.events(s, d), "user_id", "ts", "value", stepSec = 3600L)
        .select(col("k").as("user_id"),
          date_format(col("slot"), "yyyy-MM-dd HH").as("slot"),
          col("n_events"), col("sum_c"), col("filled_c"))
        .orderBy(col("user_id"), col("slot"))
    }),

    // Rolling k-sigma spike detector over the trailing 5 events per
    // user — exact integer cross-multiplied variance test, one window
    // pass (operators/TimeSeries.rollingAnomaly). Output: the flagged
    // anomalies only.
    "q_ts_anomaly" -> ((s, d) => {
      graft.operators.TimeSeries.rollingAnomaly(
          Td.events(s, d), "user_id", "ts", "value",
          window = 5, kSigma = 3, tiebreakCol = "event_id")
        .filter(col("is_anomaly"))
        .select(col("event_id"), col("user_id"), col("n_prev"))
        .orderBy(col("event_id"))
    }),

    // Cohort retention: users bucketed by first-seen day × activity-day
    // offset — the engagement-decay table, two keyed aggregations.
    "q_events_retention" -> ((s, d) => {
      graft.operators.TimeSeries.cohortRetention(Td.events(s, d), "user_id", "ts")
        .orderBy(col("cohort"), col("day_offset"))
    }),

    // E10 micro-batch/window shape: tumbling hourly aggregation (the same
    // groupBy(window(...)) runs under readStream with a watermark).
    "q_e10_window" -> ((s, d) => {
      Td.events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
        .filter(col("n") >= 2)
        .orderBy(col("hour"), col("event_type"))
    }),

    // Stream-stream interval join (view→purchase attribution): each view
    // paired with the same user's purchases within 2 hours. The batch run
    // here is plan-identical to the streaming execution (watermarks are
    // batch no-ops); EventPipelineSpec drives the same operator through
    // readStream on both sides and asserts row parity with this frame.
    "q_stream_interval_join" -> ((s, d) => {
      val ev = Td.events(s, d)
      graft.streaming.StreamJoin.intervalJoin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          "user_id", "ts", window = "2 hours", watermark = "1 hour")
        .select(col("l_event_id").as("view_id"),
          col("r_event_id").as("purchase_id"),
          (unix_timestamp(col("r_ts")) - unix_timestamp(col("l_ts")))
            .as("lag_s"))
        .orderBy(col("view_id"), col("purchase_id"))
    }),

    // Misra-Gries heavy hitters: bounded (≤k counters) mergeable sketch.
    // Capacity 32 > the 5 distinct event types, so the state never
    // truncates and IS the exact count map on any partitioning — the
    // deterministic regime the oracle pins; the ε-bound regime (capacity
    // < distinct) is HeavyHittersSpec's job.
    "q_sketch_heavyhitters" -> ((s, d) => {
      Td.events(s, d)
        .agg(graft.functions.HeavyHitters.heavyHitters(32)(col("event_type"))
          .as("sk"))
        .select(explode(col("sk")))
        .toDF("key", "est")
        .orderBy(col("est").desc, col("key"))
        .limit(5)
    }),

    // Streaming heavy hitters: the same sketch fed 4 id-range
    // micro-batches through per-shard bounded state (8 shards × 32
    // counters; only sketches reach the driver, never rows). Exact
    // regime again → the incremental fold must land on the identical
    // count map, proving batch/stream sketch parity.
    "q_stream_topk" -> ((s, d) => {
      graft.pipeline.StreamingTopK.topKBatches(Td.events(s, d),
          "event_id", "event_type", numBatches = 4, capacity = 32, shards = 8)
        .orderBy(col("est").desc, col("key"))
        .limit(5)
    })
  )

  val oracles: Map[String, String] = Map(
    "q_e2_classify" ->
      """SELECT CASE
        |  WHEN event_type IN ('signup') THEN 'Lifecycle.Create'
        |  WHEN event_type IN ('click','view') THEN 'Activity.Read'
        |  WHEN event_type = 'purchase' THEN 'Activity.Write'
        |  WHEN event_type = 'error' THEN 'Fault'
        |  ELSE 'Unknown' END AS event_class,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_value_c
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_e3_fold" ->
      """SELECT user_id,
        |  arg_min(CAST(floor(value*100+0.5) AS BIGINT), event_id) AS first_value_c,
        |  arg_max(CAST(floor(value*100+0.5) AS BIGINT), event_id) AS last_value_c,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_e7_flatten" ->
      """WITH docs AS (SELECT event_id,
        |  '{"n": ' || user_id || ', "s": "' || event_type || '", "k": ' ||
        |  json_extract_string(props, '$.k') || '}' AS doc FROM events)
        |SELECT event_id, k AS key,
        |  json_extract_string(doc, '$.' || k) AS value
        |FROM docs, unnest(['n','s','k']) t(k)
        |ORDER BY event_id, key""".stripMargin,
    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |  make_timestamp(epoch_us(ts)) AS ts FROM events),
        |clicks AS (SELECT * FROM e WHERE event_type = 'click'),
        |views AS (SELECT * FROM e WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id, v.event_id AS asof_event_id,
        |  CAST(floor(v.value*100+0.5) AS BIGINT) AS asof_value_c
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,
    "q_range_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  make_timestamp(epoch_us(ts)) AS ts FROM events),
        |purchases AS (SELECT user_id, event_id AS p_id, ts AS st,
        |  ts + INTERVAL 1 HOUR AS en FROM e WHERE event_type = 'purchase'),
        |clicks AS (SELECT * FROM e WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, p.p_id AS ivl_p_id
        |FROM clicks c JOIN purchases p
        |  ON c.user_id = p.user_id AND p.st <= c.ts AND c.ts < p.en
        |ORDER BY 1, 3""".stripMargin,
    "q_sketch_countmin" ->
      """WITH rows_h AS (SELECT
        |  CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % 8192 AS h1,
        |  CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),16,15)) AS BIGINT)
        |    % 8191 + 1 AS h2
        |  FROM events WHERE user_id IS NOT NULL),
        |buckets AS (SELECT t.i, (h1 + t.i*h2) % 8192 AS b, count(*) AS c
        |  FROM rows_h, unnest(range(0,4)) AS t(i) GROUP BY 1,2),
        |keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
        |  WHERE user_id IS NOT NULL ORDER BY 1 LIMIT 20),
        |kh AS (SELECT k,
        |  CAST(('0x'||substr(md5(k),1,15)) AS BIGINT) % 8192 AS h1,
        |  CAST(('0x'||substr(md5(k),16,15)) AS BIGINT) % 8191 + 1 AS h2 FROM keys),
        |pe AS (SELECT kh.k, t.i, (kh.h1 + t.i*kh.h2) % 8192 AS b
        |  FROM kh, unnest(range(0,4)) AS t(i))
        |SELECT pe.k AS key, CAST(min(coalesce(bu.c, 0)) AS BIGINT) AS est
        |FROM pe LEFT JOIN buckets bu ON pe.i = bu.i AND pe.b = bu.b
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // one CTE per step, each the min ts strictly after the previous stage
    "q_events_funnel" ->
      """WITH e AS (SELECT user_id AS u, event_type AS et, ts FROM events),
        |u0 AS (SELECT DISTINCT u FROM e),
        |r1 AS (SELECT u, min(ts) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
        |r2 AS (SELECT e.u, min(ts) AS t2 FROM e JOIN r1 ON e.u = r1.u
        |       WHERE et = 'click' AND ts > t1 GROUP BY 1),
        |r3 AS (SELECT e.u, min(ts) AS t3 FROM e JOIN r2 ON e.u = r2.u
        |       WHERE et = 'purchase' AND ts > t2 GROUP BY 1)
        |SELECT u0.u AS user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM u0 LEFT JOIN r1 USING (u) LEFT JOIN r2 USING (u)
        |LEFT JOIN r3 USING (u)
        |ORDER BY 1""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (SELECT user_id, ts,
        |  CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |    (PARTITION BY user_id ORDER BY ts)) > 1800000000
        |    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |  THEN 1 ELSE 0 END AS head FROM events),
        |s AS (SELECT user_id, ts,
        |  sum(head) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS session_idx FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS n_events,
        |  CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the drained streaming rollup must equal the batch gap
    // sessionization: same strictly-greater 30-min split, micro-second
    // start/end keys
    "q_stream_sessions" ->
      """WITH g AS (SELECT user_id, ts,
        |  CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |    (PARTITION BY user_id ORDER BY ts)) > 1800000000
        |    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |  THEN 1 ELSE 0 END AS head FROM events),
        |s AS (SELECT user_id, ts,
        |  sum(head) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS session_idx FROM g)
        |SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
        |  CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
        |  count(*) AS n_events,
        |  CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
        |FROM s GROUP BY user_id, session_idx ORDER BY 1, 2""".stripMargin,

    "q_sketch_kmv" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |  CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)
        |    AS hv FROM events),
        |r AS (SELECT event_type, hv,
        |  row_number() OVER (PARTITION BY event_type ORDER BY hv) rn,
        |  count(*) OVER (PARTITION BY event_type) n FROM h)
        |SELECT event_type, CAST(least(n, 16) AS BIGINT) AS n_sketch,
        |  hv AS kth_hash
        |FROM r WHERE rn = least(n, 16) ORDER BY event_type""".stripMargin,
    "q_sketch_kmv_setops" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |  CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)
        |    AS hv FROM events),
        |r AS (SELECT event_type, hv,
        |  row_number() OVER (PARTITION BY event_type ORDER BY hv) rn FROM h),
        |sk AS (SELECT event_type, hv FROM r WHERE rn <= 16),
        |p AS (SELECT a.event_type ta, b.event_type tb
        |  FROM (SELECT DISTINCT event_type FROM h) a
        |  JOIN (SELECT DISTINCT event_type FROM h) b
        |    ON a.event_type < b.event_type),
        |uu AS (SELECT p.ta, p.tb, s.hv FROM p JOIN sk s ON s.event_type = p.ta
        |       UNION
        |       SELECT p.ta, p.tb, s.hv FROM p JOIN sk s ON s.event_type = p.tb),
        |ur AS (SELECT ta, tb, hv,
        |  row_number() OVER (PARTITION BY ta, tb ORDER BY hv) rn FROM uu),
        |us AS (SELECT * FROM ur WHERE rn <= 16),
        |i AS (SELECT u.ta, u.tb, count(*) c FROM us u
        |      JOIN sk a ON a.event_type = u.ta AND a.hv = u.hv
        |      JOIN sk b ON b.event_type = u.tb AND b.hv = u.hv
        |      GROUP BY 1, 2)
        |SELECT us.ta AS type_a, us.tb AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_union,
        |  max(us.hv) AS kth_union,
        |  CAST(coalesce(any_value(i.c), 0) AS BIGINT) AS n_common
        |FROM us LEFT JOIN i ON i.ta = us.ta AND i.tb = us.tb
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_e10_window" ->
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_value_c
        |FROM events GROUP BY 1,2 HAVING count(*) >= 2
        |ORDER BY 1,2""".stripMargin,
    "q_ts_resample" ->
      """WITH b AS (SELECT user_id,
        |  make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)*3600000000) AS slot,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_c
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |span AS (SELECT user_id, min(slot) mn, max(slot) mx FROM b GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS slot
        |         FROM span),
        |j AS (SELECT g.user_id, g.slot,
        |        coalesce(b.n_events, 0) AS n_events, b.sum_c
        |      FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.slot = g.slot)
        |SELECT user_id, strftime(slot, '%Y-%m-%d %H') AS slot,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(coalesce(sum_c, 0) AS BIGINT) AS sum_c,
        |  CAST(coalesce(last_value(sum_c IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY slot
        |    ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS filled_c
        |FROM j ORDER BY 1, 2""".stripMargin,
    "q_ts_anomaly" ->
      """WITH b AS (SELECT event_id, user_id,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
        |  count(*) OVER w AS n_prev,
        |  coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w, 0) AS s,
        |  coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
        |    * CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w, 0) AS ssq
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, CAST(n_prev AS BIGINT) AS n_prev
        |FROM b WHERE n_prev = 5
        |  AND (vc*5 - s)*(vc*5 - s) > 9*(5*ssq - s*s)
        |ORDER BY event_id""".stripMargin,
    "q_events_retention" ->
      """WITH days AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT u, min(day) AS cohort FROM days GROUP BY 1)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
        |  CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
        |  count(*) AS n_users
        |FROM days JOIN f USING (u)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // lag_s parity: both engines truncate each timestamp to whole epoch
    // seconds before differencing (Spark unix_timestamp = floor), which
    // equals DuckDB's second-boundary count since purchase >= view.
    "q_stream_interval_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_s
        |FROM events v JOIN events p
        |  ON p.user_id = v.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin,
    // exact-regime MG state = the true count map; top-5 by count desc
    "q_sketch_heavyhitters" ->
      """SELECT event_type AS key, count(*) AS est FROM events
        |WHERE event_type IS NOT NULL
        |GROUP BY 1 ORDER BY est DESC, key LIMIT 5""".stripMargin,
    // incremental sharded fold, exact regime → same exact count map
    "q_stream_topk" ->
      """SELECT event_type AS key, count(*) AS est FROM events
        |WHERE event_type IS NOT NULL
        |GROUP BY 1 ORDER BY est DESC, key LIMIT 5""".stripMargin
  )
}
