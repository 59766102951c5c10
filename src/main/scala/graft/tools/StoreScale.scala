package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.graph.GraphViews
import graft.store.TableTwinStore

/** Serving-path scale measurement — the reference's "millions of twins"
  * capacity claim (reference README.md:35) exercised against OUR store,
  * end to end, at a tree whose derived twin graph crosses 1 M twins
  * (target/sf10: 1.5 M customers + 100 k suppliers + nations + regions =
  * 1.6 M twins, 1.6 M relationships):
  *
  *  1. bulk ingest through [[TableTwinStore.importGraph]] (set-wise merge,
  *     never driver-resident);
  *  2. restart (query-only reopen: meta + models, O(small files));
  *  3. point lookups against the at-rest snapshot (sorted layout →
  *     row-group skipping);
  *  4. full pagination of the ≥1 M-row customer scan through
  *     [[graft.adt.QueryService]] at the reference page size (2000),
  *     folding each page to a summary so driver memory stays one-page
  *     bounded;
  *  5. a mutation batch through the interactive CRUD path + checkpoint
  *     (journal fold into a new snapshot version).
  *
  * Prints one JSON line with the wall time of each leg. Usage:
  *   SPARK_GRAFT_SF_DIR=target/sf10 sbt "runMain graft.tools.StoreScale"
  */
object StoreScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val lookups = sys.env.getOrElse("SPARK_GRAFT_STORE_LOOKUPS", "100").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, lookups)
    finally spark.stop()
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def run(spark: SparkSession, sfDir: String, lookups: Int): Unit = {
    val dir = graft.core.Scratch.dir("graft_store_scale_", sfDir)
    val clock = () => "2026-01-01T00:00:00Z"
    val g = GraphViews.graph(spark, sfDir)
    val nTwins = g.twins.count()
    val nRels = g.relationships.count()

    // 1. bulk ingest
    val st0 = TableTwinStore.open(spark, dir, clock)
    val (_, ingestSec) = timed(st0.importGraph(
      graft.graph.GraphViews.storeCanonicalTwins(g.twins),
      graft.graph.GraphViews.storeCanonicalRels(g.relationships)))

    // 2. restart, query-only
    val (st, reopenSec) = timed(TableTwinStore.openQueryOnly(spark, dir, clock))
    val gg = st.graph

    // 3. point lookups: every 137th customer id (spread across the sorted
    //    snapshot's files), one dt_id-filtered read each
    val ids = (0 until lookups).map(i => s"C${1 + i.toLong * 137}")
    val (hits, lookupSec) = timed(ids.count(id =>
      gg.twins.filter(col("dt_id") === id).count() == 1))
    require(hits == lookups, s"point lookups found $hits of $lookups")

    // 3b. the serving-path point reads (r17): store.getTwin through the
    //     driver-side footer reader — no Spark job per lookup. This is
    //     the leg the reference's ~100 req/s light-read target grades
    //     (performance.mdx:28).
    val stPoint = TableTwinStore.open(spark, dir, clock)
    // untimed serving warm-up: the FIRST fault pays one-time costs a
    // long-lived server amortizes across millions of requests — the
    // pre-session journal-tail read (one Spark collect) and the footer
    // cache construction. Steady-state per-request throughput is what
    // the reference's ~100 req/s light-read target grades
    // (performance.mdx:28); SCALING.md records the per-phase split.
    try stPoint.getTwin("__absent_warmup__")
    catch { case _: graft.store.StoreException => () }
    val (pointHits, pointSec) = timed(ids.count { id =>
      try { stPoint.getTwin(id); true }
      catch { case _: graft.store.StoreException => false }
    })
    require(pointHits == lookups, s"point reads found $pointHits of $lookups")

    // 4. full pagination, one-page-bounded driver
    val qs = new graft.adt.QueryService(gg, None,
      new graft.adt.SnapshotCache(), None)
    val ((pages, rows), pageSec) = timed {
      var p = 0L; var r = 0L
      qs.queryAll(
        "SELECT T.$dtId AS id FROM DIGITALTWINS T " +
          "WHERE IS_OF_MODEL(T, 'dtmi:graft:Customer;1', exact)", 2000)
        .foreach { page => p += 1; r += page.rows.size }
      (p, r)
    }
    qs.freeAllSnapshots()

    // 4b. the SAME pagination through the HTTP layer (r17): local server
    //     over the table-backed store, real continuation-token
    //     round-trips, reference page size — the capacity claim includes
    //     the API surface, not just the query service under it.
    val api = new graft.api.HttpApi(st, () => spark)
    api.start()
    val ((hPages, hRows), httpSec) = timed {
      import java.net.http.{HttpClient, HttpRequest, HttpResponse}
      val client = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${api.port}"
      var tok: Option[String] = None
      var p = 0L; var r = 0L; var done = false
      while (!done) {
        val body = graft.json.Json.obj()
        body.put("query", "SELECT T.$dtId AS id FROM DIGITALTWINS T " +
          "WHERE IS_OF_MODEL(T, 'dtmi:graft:Customer;1', exact)")
        body.put("maxItemsPerPage", 2000)
        tok.foreach(t => body.put("continuationToken", t))
        val resp = client.send(
          HttpRequest.newBuilder(java.net.URI.create(s"$base/query"))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(
              graft.json.Json.render(body))).build(),
          HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200, s"HTTP ${resp.statusCode()}")
        val node = graft.json.Json.parse(resp.body())
        p += 1; r += node.get("value").size()
        tok = Option(node.get("continuationToken")).map(_.asText())
        done = tok.isEmpty
      }
      (p, r)
    }
    api.stop()
    require(hRows == rows,
      s"HTTP pagination served $hRows rows; in-process served $rows")

    // 5. mutation batch + checkpoint fold on top of the bulk snapshot
    val stRw = TableTwinStore.open(spark, dir, clock)
    val (_, mutateSec) = timed {
      stRw.batch {
        (0 until 100).foreach { j =>
          stRw.createOrReplaceRelationship(s"C${1 + j.toLong * 137}",
            s"scale_rel_$j",
            s"""{"$$relationshipName":"located_in","$$targetId":"N${j % 25}"}""")
        }
      }
      stRw.checkpoint()
    }

    // 6. delete-ALL job (r18, D14): the bulk path the HTTP job route takes
    //    for table stores — ONE distributed journal append of per-key
    //    delete events + one checkpoint to an empty snapshot. Wall time
    //    must scale ~linearly in deleted rows across sf tiers; the r17
    //    per-key walk re-collected every remaining key after every batch
    //    (quadratic driver traffic — unfinishable at this tier).
    val svc = new graft.jobs.JobService()
    val (delRec, deleteSec) = timed(
      svc.runDelete("scale-delete", stRw, bulk = true))
    require(delRec.status == "Succeeded",
      s"delete job finished ${delRec.status}: ${delRec.resultJson}")
    val postDelete = stRw.graph.twins.count() + stRw.graph.relationships.count()
    require(postDelete == 0, s"delete job left $postDelete entities")

    // 7. (opt-in: SPARK_GRAFT_DELETE_WALK=1) the CURSOR-WALK delete — the
    //    crash-resume default path the HTTP route does NOT take for table
    //    stores. Re-ingest the corpus, then walk batched key cursors
    //    (rels first, then twins), each batch ONE journal append via
    //    store.batch. Per-row cost = a share of a batch append + (twins)
    //    an edge-guard probe; the r18 spy-spec bounds driver traffic at
    //    ≤batchSize keys per fetch, this leg measures the wall clock.
    val walkStats =
      if (!sys.env.get("SPARK_GRAFT_DELETE_WALK").contains("1")) ""
      else {
        val walkBatch = sys.env.getOrElse("SPARK_GRAFT_WALK_BATCH", "10000")
          .toInt
        val st2 = TableTwinStore.open(spark, dir, clock)
        val (_, reingestSec) = timed(st2.importGraph(
          graft.graph.GraphViews.storeCanonicalTwins(g.twins),
          graft.graph.GraphViews.storeCanonicalRels(g.relationships)))
        val (walkRec, walkSec) = timed(svc.runDelete("scale-delete-walk",
          st2, batchSize = walkBatch, bulk = false))
        require(walkRec.status == "Succeeded",
          s"walk delete finished ${walkRec.status}: ${walkRec.resultJson}")
        val left = st2.graph.twins.count() + st2.graph.relationships.count()
        require(left == 0, s"walk delete left $left entities")
        s""","walk_reingest_sec":${f"$reingestSec%.1f"},""" +
          s""""walk_batch":$walkBatch,""" +
          s""""walk_delete_sec":${f"$walkSec%.1f"},""" +
          s""""walk_rows_per_sec":${f"${(nTwins + nRels) / walkSec}%.0f"}"""
      }

    println(s"""{"tool":"store_scale","sf_dir":"$sfDir",""" +
      s""""twins":$nTwins,"rels":$nRels,""" +
      s""""ingest_sec":${f"$ingestSec%.1f"},""" +
      s""""reopen_sec":${f"$reopenSec%.2f"},""" +
      s""""lookups":$lookups,"lookup_sec":${f"$lookupSec%.1f"},""" +
      s""""lookup_ms_each":${f"${lookupSec * 1000 / lookups}%.0f"},""" +
      s""""point_read_sec":${f"$pointSec%.2f"},""" +
      s""""point_reads_per_sec":${f"${lookups / pointSec}%.0f"},""" +
      s""""pages":$pages,"paged_rows":$rows,""" +
      s""""page_sec":${f"$pageSec%.1f"},""" +
      s""""http_pages":$hPages,"http_page_sec":${f"$httpSec%.1f"},""" +
      s""""mutate100_checkpoint_sec":${f"$mutateSec%.1f"},""" +
      s""""delete_job_sec":${f"$deleteSec%.1f"},""" +
      s""""delete_job_rows":${nTwins + nRels + 100}$walkStats}""")
  }
}
