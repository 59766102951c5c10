package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental degrees / PageRank maintenance over mutation-log rows:
  * the refresh must be BIT-IDENTICAL to a full batch recompute on the
  * post-mutation graph (integer arithmetic makes that a fair ask), across
  * edge adds, drops, flip-flops, parallel edges, new nodes and removed
  * nodes. */
class IncrementalAnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rels(rows: (String, String, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.map { case (id, src, tgt) => (id, src, tgt, "link") }
      .toDF("relationship_id", "source_id", "target_id", "relationship_name")
  }

  /** Mutation rows in Tables.mutationsSchema shape. kind: C/U/D. */
  private def muts(rows: (Long, String, String, String, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.map { case (seq, kind, rid, src, tgt) =>
      val doc = s"""{"$$relationshipId":"$rid","$$sourceId":"$src",""" +
        s""""$$targetId":"$tgt","$$relationshipName":"link"}"""
      val et = kind match {
        case "C" => "RelationshipCreate"
        case "U" => "RelationshipUpdate"
        case "D" => "RelationshipDelete"
      }
      (seq, s"2026-01-01T00:00:0${seq % 10}Z", "Relationship", rid, et,
        if (kind == "D") doc else null,
        if (kind == "D") null else doc)
    }.toDF("seq", "ts", "entity_kind", "entity_id", "event_type",
      "old_json", "new_json")
  }

  private def ranksMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Delta-state retention contract (r19): a version dir may survive only
    * while the committed manifest — or the predecessor's, the one-commit
    * reader grace — references at least one of its buckets, and every
    * surviving bucket dir must be one of those references. This REPLACES
    * the pre-delta "only {committed-1, committed} remain" assertion:
    * clean buckets now carry forward by reference, so v0 legitimately
    * outlives 50 commits when nothing ever dirtied its buckets — that
    * carry IS the scale fix (commit cost ∝ dirty cone, not state). */
  private def assertRetention(stateDir: String): Unit = {
    val committed = StateStore.readPointer(stateDir)
    def man(v: Long): StateStore.Manifest =
      try StateStore.readManifest(stateDir, v)
      catch { case _: Exception => Map.empty }
    val manifests = Seq(man(committed), man(committed - 1))
    val liveBuckets = manifests.flatMap(_.toSeq)
      .flatMap { case (t, ts) => ts.buckets.map { case (b, o) => (o, t, b) } }
      .toSet
    val liveDeltas = manifests.flatMap(_.toSeq)
      .flatMap { case (t, ts) => ts.chain.map(dv => (dv, t)) }.toSet
    val liveV = liveBuckets.map(_._1) ++ liveDeltas.map(_._1) +
      committed + (committed - 1)
    val vs = new java.io.File(stateDir).list().filter(_.startsWith("v"))
      .map(_.drop(1).toLong)
    vs.foreach(v => assert(liveV.contains(v),
      s"version v$v survives with no manifest reference (committed " +
        s"$committed, live versions $liveV)"))
    vs.foreach { v =>
      val vdir = java.nio.file.Paths.get(stateDir, s"v$v")
      val stale = scala.collection.mutable.Buffer.empty[String]
      val walk = java.nio.file.Files.walk(vdir)
      try walk.forEach { p =>
        val n = p.getFileName.toString
        if (java.nio.file.Files.isDirectory(p)) {
          lazy val t = vdir.relativize(p.getParent).toString
            .replace(java.io.File.separatorChar, '/')
          if (n.startsWith(s"${StateStore.BucketCol}=")) {
            val b = n.stripPrefix(s"${StateStore.BucketCol}=").toInt
            if (!liveBuckets((v, t, b)) && v != committed &&
                v != committed - 1) stale += s"v$v/$t/$n"
          } else if (n == "delta" && !liveDeltas((v, t)) &&
              v != committed && v != committed - 1)
            stale += s"v$v/$t/$n"
        }
      } finally walk.close()
      assert(stale.isEmpty, s"unreferenced bucket/delta dirs survive: $stale")
    }
  }

  test("latestRelMutations collapses flip-flops to final state") {
    val m = muts(
      (1L, "C", "r1", "a", "b"),
      (2L, "D", "r1", "a", "b"),
      (3L, "C", "r1", "a", "c"),  // re-created with a different target
      (4L, "C", "r2", "b", "c"),
      (5L, "D", "r3", "c", "a"))
    val out = IncrementalAnalytics.latestRelMutations(m).collect()
      .map(r => (r.getString(1), r.getString(0), r.getString(2), r.getBoolean(4)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      ("r1", "a", "c", true), ("r2", "b", "c", true), ("r3", "c", "a", false)))
  }

  test("applyRelationshipMutations folds base + batch to the final table") {
    val base = rels(("r1", "a", "b"), ("r3", "c", "a"), ("r4", "d", "a"))
    val m = muts(
      (1L, "D", "r3", "c", "a"),
      (2L, "C", "r5", "b", "d"),
      (3L, "U", "r1", "a", "b"))
    val out = IncrementalAnalytics.applyRelationshipMutations(base, m)
      .collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("r1", "r4", "r5"))
  }

  private def twinsOf(r: DataFrame): DataFrame =
    r.select(col("source_id").as("dt_id"))
      .unionByName(r.select(col("target_id").as("dt_id"))).distinct()

  private def batchDegrees(r: DataFrame): DataFrame =
    TwinGraph(twinsOf(r), r,
      spark.emptyDataFrame).degrees()

  test("refreshDegrees == batch degrees after adds, drops, parallel edges") {
    val base = rels(("r1", "a", "b"), ("r2", "a", "b"), ("r3", "b", "c"),
      ("r4", "c", "a"))
    val m = muts(
      (1L, "D", "r2", "a", "b"),    // parallel edge drops, pair survives
      (2L, "C", "r5", "c", "b"),
      (3L, "C", "r6", "d", "a"),    // new node d
      (4L, "D", "r3", "b", "c"))
    val finalRels = IncrementalAnalytics.applyRelationshipMutations(base, m)
      .localCheckpoint(true)
    // twin universe follows the edge endpoints in this fixture: emit twin
    // lifecycle rows for the delta (d created)
    val s = spark; import s.implicits._
    val twinM = Seq((10L, "2026-01-01T00:00:00Z", "Twin", "d", "TwinCreate",
      null: String, """{"$dtId":"d"}"""))
      .toDF("seq", "ts", "entity_kind", "entity_id", "event_type",
        "old_json", "new_json")
    val allM = m.unionByName(twinM)
    val incr = IncrementalAnalytics.refreshDegrees(
      batchDegrees(base), base, allM)
    val batch = batchDegrees(finalRels)
    val key: org.apache.spark.sql.Row => (String, Long, Long, Long) =
      r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(incr.collect().map(key).sortBy(_._1).toSeq ==
      batch.collect().map(key).sortBy(_._1).toSeq)
  }

  test("refreshDegrees drops deleted twins from the universe") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"))
    val s = spark; import s.implicits._
    val m = muts((1L, "D", "r2", "b", "c")).unionByName(
      Seq((2L, "2026-01-01T00:00:02Z", "Twin", "c", "TwinDelete",
        """{"$dtId":"c"}""", null: String))
        .toDF("seq", "ts", "entity_kind", "entity_id", "event_type",
          "old_json", "new_json"))
    val out = IncrementalAnalytics.refreshDegrees(batchDegrees(base), base, m)
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(out == Map("a" -> 1L, "b" -> 1L), s"got $out")
  }

  private def assertRanksEqual(base: DataFrame, m: DataFrame,
      iterations: Int = 3): Unit = {
    val hist = PageRank.ranksHistory(base, iterations)
    val finalRels = IncrementalAnalytics.applyRelationshipMutations(base, m)
      .localCheckpoint(true)
    val changed = IncrementalAnalytics.changedPairs(base, m)
    val incr = IncrementalAnalytics.refreshRanks(finalRels, changed, hist)
    val batch = PageRank.ranks(finalRels, iterations)
    assert(ranksMap(incr) == ranksMap(batch),
      s"incremental != batch\nincr:  ${ranksMap(incr)}\nbatch: ${ranksMap(batch)}")
    hist.foreach(graft.core.Blocks.free)
  }

  test("refreshRanks == batch PageRank: edge add propagating through a cycle") {
    assertRanksEqual(
      rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"), ("r4", "d", "a")),
      muts((1L, "C", "r5", "b", "d")))
  }

  test("refreshRanks == batch PageRank: edge drop and outdeg shift") {
    assertRanksEqual(
      rels(("r1", "a", "b"), ("r2", "a", "c"), ("r3", "c", "b"), ("r4", "b", "a")),
      muts((1L, "D", "r2", "a", "c")))  // a's outdeg 2→1: b's share doubles
  }

  test("refreshRanks == batch PageRank: new node, removed node, flip-flop") {
    assertRanksEqual(
      rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "d"), ("r4", "d", "e")),
      muts(
        (1L, "C", "r5", "e", "f"),     // new node f
        (2L, "D", "r4", "d", "e"),
        (3L, "D", "r5", "e", "f"),     // e and f drop out of the universe
        (4L, "C", "r6", "a", "d")))
  }

  test("refreshRanks == batch PageRank: parallel edge leaves pairs unchanged") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "a"))
    val m = muts((1L, "C", "r9", "a", "b")) // second rel, same pair
    val changed = IncrementalAnalytics.changedPairs(base, m)
    assert(changed.count() == 0L, "pair multiset unchanged → empty delta")
    assertRanksEqual(base, m)
  }

  test("refreshRanks: empty mutation batch splices history verbatim") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"))
    assertRanksEqual(base, muts())
  }

  test("streaming maintenance: mutation micro-batches fold in; kill/restart resumes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-stream").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    val cpDir = s"$dir/cp"
    new java.io.File(stateDir).mkdirs()
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"))
    IncrementalAnalytics.initDegreesState(stateDir, batchDegrees(base), base)
    // phase 1: first mutation file lands, stream drains it, then STOPS
    // (the kill) — AvailableNow terminates after the backlog
    muts((1L, "D", "r2", "b", "c"), (2L, "C", "r4", "a", "c"))
      .write.mode("append").parquet(mutDir)
    val q1 = IncrementalAnalytics.maintainDegreesStream(
      spark, mutDir, stateDir, cpDir)
    q1.awaitTermination(60000)
    val mid = IncrementalAnalytics.currentDegrees(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    // edges now r1 a→b, r3 c→a, r4 a→c: a has out 2 + in 1, b in 1, c out 1 + in 1
    assert(mid == Map("a" -> 3L, "b" -> 1L, "c" -> 2L), s"after batch 1: $mid")
    // phase 2: more mutations arrive while the maintainer is DOWN; a
    // fresh query on the same checkpoint resumes and folds only the new
    // files — the restart path. The store creates the target twin BEFORE
    // the relationship (endpoint validation), so d's TwinCreate rides in
    // the same batch.
    val s2 = spark; import s2.implicits._
    muts((3L, "C", "r5", "c", "d"), (4L, "D", "r1", "a", "b"))
      .unionByName(Seq((5L, "2026-01-01T00:00:05Z", "Twin", "d",
        "TwinCreate", null: String, """{"$dtId":"d"}"""))
        .toDF("seq", "ts", "entity_kind", "entity_id", "event_type",
          "old_json", "new_json"))
      .write.mode("append").parquet(mutDir)
    val q2 = IncrementalAnalytics.maintainDegreesStream(
      spark, mutDir, stateDir, cpDir)
    q2.awaitTermination(60000)
    val fin = IncrementalAnalytics.currentDegrees(spark, stateDir)
    val all = muts((1L, "D", "r2", "b", "c"), (2L, "C", "r4", "a", "c"),
      (3L, "C", "r5", "c", "d"), (4L, "D", "r1", "a", "b"))
    val expect = batchDegrees(
        IncrementalAnalytics.applyRelationshipMutations(base, all)
          .localCheckpoint(true))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = fin.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // note: batchDegrees' twin universe is edge-endpoints; the maintained
    // state keeps node b (degree 0 after r1 drop) because no TwinDelete
    // arrived — compare on the shared universe
    assert(got.filter(t => expect.exists(_._1 == t._1)) == expect,
      s"restart fold != batch recompute\ngot:    $got\nexpect: $expect")
    // the carried relationship table also reached the final state
    val relsNow = StateStore.readTable(spark, stateDir, 2L, "rels")
      .collect().map(_.getString(0)).sorted
    assert(relsNow.toSeq == Seq("r3", "r4", "r5"))
  }

  test("a fold that throws after writing a delta leaves the pointer, leaks nothing, and replays") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-torn").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    val cpDir = s"$dir/cp"
    new java.io.File(stateDir).mkdirs()
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"))
    IncrementalAnalytics.initDegreesState(stateDir, batchDegrees(base), base)
    val batch = muts((1L, "D", "r2", "b", "c"), (2L, "C", "r4", "a", "c"),
      (3L, "C", "r5", "c", "b"))
    batch.write.mode("append").parquet(mutDir)
    // the real degrees fold, but the batch dies after ONE table's delta
    // landed in v1 and before the commit
    val degrees = IncrementalAnalytics.Maintainer.degrees
    val torn = new IncrementalAnalytics.Maintainer(degrees.tables)(
      (c, m, latest) => {
        val (t, up, tomb) = degrees.fold(c, m, latest).head
        c.chainDelta(t, up, tomb)
        throw new IllegalStateException("injected fold failure")
      })
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val q1 = IncrementalAnalytics.maintainStream(spark, mutDir, stateDir,
      cpDir, torn)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination(60000))
    assert(err.getMessage.contains("injected fold failure"), err.getMessage)
    assert(StateStore.readPointer(stateDir) == 0L)
    assert(new java.io.File(s"$stateDir/v1/degrees").isDirectory,
      "the failed attempt should have left a torn v1 behind")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs still registered after the failed batch: $leaked")
    // restart with the real fold: batch 0 replays over the torn v1
    val q2 = IncrementalAnalytics.maintainDegreesStream(
      spark, mutDir, stateDir, cpDir)
    q2.awaitTermination(60000)
    assert(q2.exception.isEmpty)
    assert(StateStore.readPointer(stateDir) == 1L)
    val expect = batchDegrees(
        IncrementalAnalytics.applyRelationshipMutations(base, batch)
          .localCheckpoint(true))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = IncrementalAnalytics.currentDegrees(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, s"replay != batch recompute\ngot:    $got\nexpect: $expect")
  }

  test("a local fold that throws after its first delta leaves the pointer, leaks nothing, and replays") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-torn-local").toString
    val mutDir = s"$dir/mutations"
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"))
    val batch = muts((1L, "D", "r2", "b", "c"), (2L, "C", "r4", "a", "c"),
      (3L, "C", "r5", "c", "b"))
    batch.write.mode("append").parquet(mutDir)
    def state(name: String): String = {
      val s = s"$dir/$name"
      new java.io.File(s).mkdirs()
      IncrementalAnalytics.initDegreesState(s, batchDegrees(base), base)
      s
    }
    // the real local degrees fold, but the batch dies after its FIRST
    // table delta landed in v1 and before the commit
    val degrees = IncrementalAnalytics.Maintainer.degrees
    val torn = new IncrementalAnalytics.Maintainer(degrees.tables,
      degrees.local.map(f => (lc, b) => f(lc, b).map { deltas =>
        lc.write(deltas.head)
        throw new IllegalStateException("injected local fold failure")
      }))(degrees.fold)
    val stateDir = state("state")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val q1 = IncrementalAnalytics.maintainStream(spark, mutDir, stateDir,
      s"$dir/cp", torn)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination(60000))
    assert(err.getMessage.contains("injected local fold failure"), err.getMessage)
    assert(StateStore.readPointer(stateDir) == 0L)
    assert(new java.io.File(s"$stateDir/v1/degrees").isDirectory,
      "the failed attempt should have left a torn v1 behind")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs still registered after the failed batch: $leaked")
    // restart with the real maintainer: batch 0 replays over the torn v1
    val q2 = IncrementalAnalytics.maintainDegreesStream(
      spark, mutDir, stateDir, s"$dir/cp")
    q2.awaitTermination(60000)
    assert(q2.exception.isEmpty)
    assert(StateStore.readPointer(stateDir) == 1L)
    // ... to exactly the state the distributed fold commits
    val distDir = state("dist")
    spark.conf.set("spark.graft.graph.localSolveMaxEdges", "0")
    try IncrementalAnalytics.maintainDegreesStream(spark, mutDir, distDir,
      s"$dir/cp-dist").awaitTermination(60000)
    finally spark.conf.unset("spark.graft.graph.localSolveMaxEdges")
    for (t <- Seq("degrees", "rels")) {
      def rows(s: String) = IncrementalAnalytics.current(spark, s, t)
        .collect().map(_.toString).toSet
      assert(rows(stateDir) == rows(distDir),
        s"$t: replay != distributed fold")
    }
  }

  test("refreshRanks restricts the contribution join to the affected cone") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "x", "y"))
    val m = muts((1L, "C", "r5", "c", "a"))
    val hist = PageRank.ranksHistory(base, 2)
    val finalRels = IncrementalAnalytics.applyRelationshipMutations(base, m)
    val changed = IncrementalAnalytics.changedPairs(base, m)
    val out = IncrementalAnalytics.refreshRanks(finalRels, changed, hist)
    // the untouched component (x→y) must splice straight from history
    val h2 = ranksMap(hist.last)
    val o = ranksMap(out)
    assert(o("x") == h2("x") && o("y") == h2("y"),
      "unaffected component must carry the previous run's exact values")
    // and the splice/contribution plan keeps the affected restriction as
    // semi/anti joins rather than recomputing the full graph
    val p = out.queryExecution.executedPlan.toString
    assert(out.rdd.getNumPartitions >= 1 && p.contains("Scan ExistingRDD"),
      s"refresh output must read spliced checkpointed state:\n$p")
    hist.foreach(graft.core.Blocks.free)
  }

  // ---- refreshComponents: incremental WCC == full recompute ----

  private def compMap(df: DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def batchComponents(r: DataFrame, twins: DataFrame): Map[String, String] =
    compMap(TwinGraph(twins, r, spark.emptyDataFrame).components())

  private def twinMuts(rows: (Long, String, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.map { case (seq, kind, id) =>
      (seq, s"2026-01-01T00:00:0${seq % 10}Z", "Twin", id,
        if (kind == "C") "TwinCreate" else "TwinDelete",
        if (kind == "D") s"""{"$$dtId":"$id"}""" else null,
        if (kind == "C") s"""{"$$dtId":"$id"}""" else null)
    }.toDF("seq", "ts", "entity_kind", "entity_id", "event_type",
      "old_json", "new_json")
  }

  private def checkComponents(base: DataFrame, m: DataFrame,
      finalTwins: DataFrame): Unit = {
    val baseComp = TwinGraph(twinsOf(base), base,
      spark.emptyDataFrame).components().localCheckpoint(true)
    val incr = compMap(
      IncrementalAnalytics.refreshComponents(baseComp, base, m))
    val finalRels = IncrementalAnalytics.applyRelationshipMutations(base, m)
    val batch = batchComponents(finalRels, finalTwins)
    assert(incr == batch)
  }

  test("refreshComponents == batch: bridge delete splits a component") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "d"),
      ("r4", "x", "y"))
    val m = muts((1L, "D", "r2", "b", "c"))
    val s = spark; import s.implicits._
    val finalTwins = Seq("a", "b", "c", "d", "x", "y").toDF("dt_id")
    checkComponents(base, m, finalTwins)
  }

  test("refreshComponents == batch: add merges two components, one untouched") {
    val base = rels(("r1", "a", "b"), ("r2", "c", "d"), ("r3", "x", "y"))
    val m = muts((1L, "C", "r9", "b", "c"))
    val s = spark; import s.implicits._
    val finalTwins = Seq("a", "b", "c", "d", "x", "y").toDF("dt_id")
    checkComponents(base, m, finalTwins)
    // and the untouched x-y component's label must splice through without
    // entering the recompute subgraph (its base label is canonical anyway;
    // this asserts the affected-set restriction at the value level)
    val baseComp = TwinGraph(twinsOf(base), base,
      spark.emptyDataFrame).components()
    val out = compMap(IncrementalAnalytics.refreshComponents(
      baseComp, base, m))
    assert(out("x") == "x" && out("y") == "x")
  }

  test("refreshComponents == batch: twin delete with DETACH'd edges") {
    // hub b connects a-c; deleting b (and its edges, DETACH discipline)
    // splits {a,b,c} into singletons {a}, {c}
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "x", "y"))
    val m = muts((1L, "D", "r1", "a", "b"), (2L, "D", "r2", "b", "c"))
      .unionByName(twinMuts((3L, "D", "b")))
    val s = spark; import s.implicits._
    val finalTwins = Seq("a", "c", "x", "y").toDF("dt_id")
    checkComponents(base, m, finalTwins)
  }

  test("refreshComponents == batch: new isolated twin and flip-flop edge") {
    val base = rels(("r1", "a", "b"))
    val m = muts(
      (1L, "D", "r1", "a", "b"),
      (2L, "C", "r1", "a", "b"),   // flip-flop back: no net change
      (3L, "C", "r2", "b", "c"))   // new node c via edge
      .unionByName(twinMuts((4L, "C", "c"), (5L, "C", "z")))
    val s = spark; import s.implicits._
    val finalTwins = Seq("a", "b", "c", "z").toDF("dt_id")
    checkComponents(base, m, finalTwins)
    val baseComp = TwinGraph(twinsOf(base), base,
      spark.emptyDataFrame).components()
    val out = compMap(IncrementalAnalytics.refreshComponents(
      baseComp, base, m))
    assert(out("z") == "z", "edge-free created twin is its own component")
  }

  test("streaming WCC maintenance: split then merge across restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wcc-stream").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    val cpDir = s"$dir/cp"
    new java.io.File(stateDir).mkdirs()
    // one chain a-b-c-d plus a separate x-y
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "d"),
      ("r4", "x", "y"))
    val baseComp = TwinGraph(twinsOf(base), base,
      spark.emptyDataFrame).components()
    IncrementalAnalytics.initComponentsState(stateDir, baseComp, base)
    // batch 1: cut the chain in the middle — {a,b} and {c,d} split
    muts((1L, "D", "r2", "b", "c")).write.mode("append").parquet(mutDir)
    val q1 = IncrementalAnalytics.maintainComponentsStream(
      spark, mutDir, stateDir, cpDir)
    q1.awaitTermination(60000)
    val mid = compMap(IncrementalAnalytics.currentComponents(spark, stateDir))
    assert(mid == Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c",
      "x" -> "x", "y" -> "x"), s"after split: $mid")
    // batch 2 lands while the maintainer is down: bridge the x-y island
    // into {c,d}; a fresh query on the same checkpoint folds just it
    muts((2L, "C", "r9", "d", "x")).write.mode("append").parquet(mutDir)
    val q2 = IncrementalAnalytics.maintainComponentsStream(
      spark, mutDir, stateDir, cpDir)
    q2.awaitTermination(60000)
    val fin = compMap(IncrementalAnalytics.currentComponents(spark, stateDir))
    assert(fin == Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c",
      "x" -> "c", "y" -> "c"), s"after merge: $fin")
  }

  test("streaming PageRank maintenance: history carries across restart, == batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-stream").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    val cpDir = s"$dir/cp"
    new java.io.File(stateDir).mkdirs()
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r4", "x", "y"))
    val hist0 = PageRank.ranksHistory(base, 3)
    IncrementalAnalytics.initRanksState(stateDir, hist0, base)
    hist0.foreach(graft.core.Blocks.free)
    // batch 1 drains, maintainer stops (the kill)
    muts((1L, "D", "r2", "b", "c"), (2L, "C", "r5", "a", "c"))
      .write.mode("append").parquet(mutDir)
    IncrementalAnalytics.maintainRanksStream(
      spark, mutDir, stateDir, cpDir, iterations = 3).awaitTermination(60000)
    // batch 2 lands while down; a fresh query resumes from the checkpoint
    muts((3L, "C", "r6", "y", "a"), (4L, "D", "r4", "x", "y"))
      .write.mode("append").parquet(mutDir)
    IncrementalAnalytics.maintainRanksStream(
      spark, mutDir, stateDir, cpDir, iterations = 3).awaitTermination(60000)
    val got = ranksMap(IncrementalAnalytics.current(spark, stateDir, "hist/i=2"))
    val all = muts((1L, "D", "r2", "b", "c"), (2L, "C", "r5", "a", "c"),
      (3L, "C", "r6", "y", "a"), (4L, "D", "r4", "x", "y"))
    val finalRels = IncrementalAnalytics.applyRelationshipMutations(base, all)
      .localCheckpoint(true)
    val batchHist = PageRank.ranksHistory(finalRels, 3)
    val expect = ranksMap(batchHist.last)
    batchHist.dropRight(1).foreach(graft.core.Blocks.free)
    assert(got == expect,
      s"two-batch streaming fold != batch recompute\ngot: $got\nexp: $expect")
  }

  // ---- refreshTriangles: incremental per-node triangle counts ----

  private def triMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toMap

  private def checkTriangles(base: DataFrame, m: DataFrame): Unit = {
    val baseTri = Triangles.perNode(base, "source_id", "target_id")
      .localCheckpoint(true)
    val incr = triMap(
      IncrementalAnalytics.refreshTriangles(baseTri, base, m))
    val finalRels = IncrementalAnalytics.applyRelationshipMutations(base, m)
    val batch = triMap(
      Triangles.perNode(finalRels, "source_id", "target_id"))
    assert(incr == batch, s"\nincr:  $incr\nbatch: $batch")
  }

  test("refreshTriangles == batch: edge add closes a triangle") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"),
      ("r3", "x", "y"), ("r4", "y", "z"), ("r5", "z", "x")) // distant triangle
    checkTriangles(base, muts((1L, "C", "r9", "c", "a")))
  }

  test("refreshTriangles == batch: edge delete opens a triangle") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r4", "c", "d"), ("r5", "d", "a")) // two triangles sharing edge c-a? (a,c,d) needs d-a and c-d: yes
    checkTriangles(base, muts((1L, "D", "r3", "c", "a")))
  }

  test("refreshTriangles == batch: flip-flop and new node") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"))
    val m = muts(
      (1L, "D", "r3", "c", "a"),
      (2L, "C", "r3", "c", "a"),   // flip-flop: no net change
      (3L, "C", "r4", "a", "d"), (4L, "C", "r5", "b", "d")) // d joins a triangle
    checkTriangles(base, m)
  }

  test("refreshTriangles == batch: DETACH'd twin drops from the universe") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r4", "x", "y"))
    val m = muts((1L, "D", "r1", "a", "b"), (2L, "D", "r3", "c", "a"))
      .unionByName(twinMuts((3L, "D", "a")))
    checkTriangles(base, m)
  }

  test("refreshTriangles: untouched counts splice without recompute") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r4", "x", "y"), ("r5", "y", "z"), ("r6", "z", "x"))
    val baseTri = Triangles.perNode(base, "source_id", "target_id")
      .localCheckpoint(true)
    val out = triMap(IncrementalAnalytics.refreshTriangles(
      baseTri, base, muts((1L, "D", "r2", "b", "c"))))
    // the x-y-z triangle is untouched; a/b/c recompute to 0
    assert(out == Map("a" -> 0L, "b" -> 0L, "c" -> 0L,
      "x" -> 1L, "y" -> 1L, "z" -> 1L))
  }

  test("streaming triangle maintenance: close then open across restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tri-stream").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    val cpDir = s"$dir/cp"
    new java.io.File(stateDir).mkdirs()
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"),
      ("r3", "x", "y"), ("r4", "y", "z"), ("r5", "z", "x"))
    IncrementalAnalytics.initState(stateDir,
      IncrementalAnalytics.Maintainer.triangles, base,
      Seq(Triangles.perNode(base, "source_id", "target_id")))
    // batch 1: close the a-b-c triangle
    muts((1L, "C", "r9", "c", "a")).write.mode("append").parquet(mutDir)
    IncrementalAnalytics.maintainStream(spark, mutDir, stateDir, cpDir,
      IncrementalAnalytics.Maintainer.triangles).awaitTermination(60000)
    val mid = triMap(IncrementalAnalytics.current(spark, stateDir, "triangles"))
    assert(mid == Map("a" -> 1L, "b" -> 1L, "c" -> 1L,
      "x" -> 1L, "y" -> 1L, "z" -> 1L), s"after close: $mid")
    // batch 2 lands while down: open the x-y-z triangle
    muts((2L, "D", "r4", "y", "z")).write.mode("append").parquet(mutDir)
    IncrementalAnalytics.maintainStream(spark, mutDir, stateDir, cpDir,
      IncrementalAnalytics.Maintainer.triangles).awaitTermination(60000)
    val fin = triMap(IncrementalAnalytics.current(spark, stateDir, "triangles"))
    assert(fin == Map("a" -> 1L, "b" -> 1L, "c" -> 1L,
      "x" -> 0L, "y" -> 0L, "z" -> 0L), s"after open: $fin")
  }

  // ---- refreshCommunities: incremental LPA == batch ----

  private def checkCommunities(base: DataFrame, m: DataFrame,
      rounds: Int = 3): Unit = {
    val hist = LabelPropagation.communitiesHistory(base, rounds)
    val finalRels = IncrementalAnalytics.applyRelationshipMutations(base, m)
      .localCheckpoint(true)
    val changed = IncrementalAnalytics.changedPairs(base, m)
    val incr = compMap2(IncrementalAnalytics.refreshCommunities(
      finalRels, changed, hist))
    val batch = compMap2(LabelPropagation.communities(finalRels, rounds))
    hist.foreach(graft.core.Blocks.free)
    assert(incr == batch, s"\nincr:  $incr\nbatch: $batch")
  }

  private def compMap2(df: DataFrame): Map[String, Long] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toMap

  test("refreshCommunities == batch: chord add re-votes the dense core") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "d"),
      ("r4", "d", "a"), ("r5", "x", "y"), ("r6", "y", "z"))
    checkCommunities(base, muts((1L, "C", "r9", "a", "c")))
  }

  test("refreshCommunities == batch: edge drop, new node, flip-flop") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r4", "x", "y"))
    val m = muts(
      (1L, "D", "r2", "b", "c"),
      (2L, "C", "r5", "c", "e"),   // new node e
      (3L, "D", "r4", "x", "y"),
      (4L, "C", "r4", "x", "y"))   // flip-flop: x-y unchanged
    checkCommunities(base, m)
  }

  test("streaming LPA maintenance: history carries across restart, == batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lpa-stream").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    val cpDir = s"$dir/cp"
    new java.io.File(stateDir).mkdirs()
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "d"),
      ("r4", "d", "a"), ("r5", "x", "y"))
    val hist0 = LabelPropagation.communitiesHistory(base, 3)
    IncrementalAnalytics.initState(stateDir,
      IncrementalAnalytics.Maintainer.communities(3), base, hist0)
    hist0.foreach(graft.core.Blocks.free)
    muts((1L, "C", "r9", "a", "c")).write.mode("append").parquet(mutDir)
    IncrementalAnalytics.maintainStream(spark, mutDir, stateDir, cpDir,
      IncrementalAnalytics.Maintainer.communities(3)).awaitTermination(60000)
    muts((2L, "D", "r5", "x", "y"), (3L, "C", "r6", "y", "d"))
      .write.mode("append").parquet(mutDir)
    IncrementalAnalytics.maintainStream(spark, mutDir, stateDir, cpDir,
      IncrementalAnalytics.Maintainer.communities(3)).awaitTermination(60000)
    val got = compMap2(
      IncrementalAnalytics.current(spark, stateDir, "lpa/i=2")
        .select(col("node"), col("lab").as("community")))
    val all = muts((1L, "C", "r9", "a", "c"), (2L, "D", "r5", "x", "y"),
      (3L, "C", "r6", "y", "d"))
    val finalRels = IncrementalAnalytics.applyRelationshipMutations(base, all)
      .localCheckpoint(true)
    val expect = compMap2(LabelPropagation.communities(finalRels, 3))
    assert(got == expect,
      s"two-batch streaming fold != batch recompute\ngot: $got\nexp: $expect")
  }

  test("refreshComponents: empty batch passes every label through") {
    val base = rels(("r1", "a", "b"), ("r2", "c", "d"))
    val baseComp = TwinGraph(twinsOf(base), base,
      spark.emptyDataFrame).components().localCheckpoint(true)
    val m = muts().limit(0)
    val out = compMap(IncrementalAnalytics.refreshComponents(
      baseComp, base, m))
    assert(out == compMap(baseComp))
  }

  // ---------------- incremental SCC ----------------

  private def batchScc(r: DataFrame): DataFrame =
    Scc.components(r.select(col("source_id").as("src"),
      col("target_id").as("dst")))

  private def sccMap(df: DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def assertSccEqual(base: DataFrame, m: DataFrame): Unit = {
    val incr = sccMap(IncrementalAnalytics.refreshScc(
      batchScc(base), base, m))
    val batch = sccMap(batchScc(
      IncrementalAnalytics.applyRelationshipMutations(base, m)
        .localCheckpoint(true)))
    assert(incr == batch, s"incremental $incr != batch $batch")
  }

  test("refreshScc == batch: intra-SCC delete splits a cycle, island splices") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r4", "x", "y"), ("r5", "y", "x"))
    assertSccEqual(base, muts((1L, "D", "r2", "b", "c")))
  }

  test("refreshScc == batch: added edge merges SCCs across a condensation path") {
    // {a,b} and {c,d} are distinct SCCs joined by the condensation edge
    // b→c; adding d→a closes a cycle through BOTH — the merge the region
    // reachability (not any local cone) must discover
    val base = rels(("r1", "a", "b"), ("r2", "b", "a"),
      ("r3", "c", "d"), ("r4", "d", "c"), ("r5", "b", "c"))
    assertSccEqual(base, muts((1L, "C", "r6", "d", "a")))
  }

  test("refreshScc == batch: flip-flop, parallel edge, new node") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "a"), ("p1", "a", "b"))
    assertSccEqual(base, muts(
      (1L, "D", "r1", "a", "b"), // parallel edge drops, pair survives
      (2L, "C", "r7", "b", "z"), // brand-new node, acyclic
      (3L, "C", "r8", "z", "a"), // z completes a 3-cycle...
      (4L, "D", "r8", "z", "a"))) // ...and flips back out
  }

  test("refreshScc == batch: DETACH'd twin leaves the universe") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"))
    val s2 = spark; import s2.implicits._
    val m = muts((1L, "D", "r2", "b", "c"), (2L, "D", "r3", "c", "a"))
      .unionByName(Seq((3L, "2026-01-01T00:00:03Z", "Twin", "c",
        "TwinDelete", """{"$dtId":"c"}""", null: String))
        .toDF("seq", "ts", "entity_kind", "entity_id", "event_type",
          "old_json", "new_json"))
    assertSccEqual(base, m)
  }

  test("refreshScc: empty batch splices every label verbatim") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "a"), ("r3", "b", "c"))
    assertSccEqual(base, muts().limit(0))
  }

  // ---------------- incremental k-core ----------------

  private def batchKcore(r: DataFrame, k: Int): Set[String] =
    KCore.kcore(r, "source_id", "target_id", k)
      .collect().map(_.getString(0)).toSet

  private def assertKcoreEqual(base: DataFrame, m: DataFrame, k: Int): Unit = {
    val baseCore = KCore.kcore(base, "source_id", "target_id", k)
    val incr = IncrementalAnalytics.refreshKcore(baseCore, base, m, k)
      .collect().map(_.getString(0)).toSet
    val batch = batchKcore(
      IncrementalAnalytics.applyRelationshipMutations(base, m)
        .localCheckpoint(true), k)
    assert(incr == batch, s"incremental $incr != batch $batch")
  }

  test("refreshKcore == batch: edge delete cascades a peel through the component") {
    // 4-cycle a-b-c-d (2-core) + separate triangle x-y-z (untouched)
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "d"),
      ("r4", "d", "a"), ("r5", "x", "y"), ("r6", "y", "z"), ("r7", "z", "x"))
    // cutting one cycle edge drops BOTH endpoints to degree 1 — the whole
    // 4-cycle cascades out of the 2-core; the triangle splices through
    assertKcoreEqual(base, muts((1L, "D", "r2", "b", "c")), k = 2)
  }

  test("refreshKcore == batch: edge add promotes a component into the core") {
    // path a-b-c (no 2-core) + triangle x-y-z
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"),
      ("r5", "x", "y"), ("r6", "y", "z"), ("r7", "z", "x"))
    assertKcoreEqual(base, muts((1L, "C", "r9", "c", "a")), k = 2)
  }

  test("refreshKcore == batch: cross-component bridge merges regions") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r5", "x", "y"), ("r6", "y", "z"), ("r7", "z", "x"))
    // two bridges merge the triangles into one region; every node ends
    // with degree >= 2, so the merged component joins the 2-core whole
    assertKcoreEqual(base,
      muts((1L, "C", "r8", "a", "x"), (2L, "C", "r9", "y", "b")), k = 2)
  }

  test("refreshKcore: empty batch splices the survivor set verbatim") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"))
    val baseCore = KCore.kcore(base, "source_id", "target_id", 2)
      .localCheckpoint(true)
    val out = IncrementalAnalytics.refreshKcore(baseCore, base,
      muts().limit(0), 2)
    assert(out.collect().map(_.getString(0)).toSet ==
      baseCore.collect().map(_.getString(0)).toSet)
  }

  test("streaming k-core maintenance: demote then promote across restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kcore-stream").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    val cpDir = s"$dir/cp"
    new java.io.File(stateDir).mkdirs()
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r5", "x", "y"))
    IncrementalAnalytics.initKcoreState(stateDir,
      KCore.kcore(base, "source_id", "target_id", 2), base)
    // batch 1: cut the triangle — 2-core empties
    muts((1L, "D", "r2", "b", "c")).write.mode("append").parquet(mutDir)
    val q1 = IncrementalAnalytics.maintainKcoreStream(
      spark, mutDir, stateDir, cpDir, k = 2)
    q1.awaitTermination(60000)
    assert(IncrementalAnalytics.currentKcore(spark, stateDir).count() == 0)
    // batch 2 while down: rebuild a 4-cycle a-b-?-c-a via x
    muts((2L, "C", "r8", "b", "x"), (3L, "C", "r9", "x", "c"))
      .write.mode("append").parquet(mutDir)
    val q2 = IncrementalAnalytics.maintainKcoreStream(
      spark, mutDir, stateDir, cpDir, k = 2)
    q2.awaitTermination(60000)
    val fin = IncrementalAnalytics.currentKcore(spark, stateDir)
      .collect().map(_.getString(0)).toSet
    assert(fin == Set("a", "b", "c", "x"), s"after promote: $fin")
  }

  test("compactVersion: fragmented state leaves coalesce to size-targeted files") {
    // a refresh output's partition count reflects its join topology, not
    // its size — the commit-path compaction must fold a 32-half-empty-file
    // version back to ceil(bytes/target) files, recursing into partitioned
    // history subdirs, without changing a row
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val s = spark; import s.implicits._
    val df = (1 to 1000).map(i => (s"n$i", i.toLong)).toDF("node", "degree")
    df.repartition(8).write.parquet(s"$dir/v1/degrees")
    df.repartition(8).write.parquet(s"$dir/v1/hist/i=0")
    def parts(p: String) = new java.io.File(p).listFiles
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(parts(s"$dir/v1/degrees") == 8, "fixture must be fragmented")
    IncrementalAnalytics.compactVersion(spark, s"$dir/v1")
    assert(parts(s"$dir/v1/degrees") == 1,
      s"tiny table must compact to one file, got ${parts(s"$dir/v1/degrees")}")
    assert(parts(s"$dir/v1/hist/i=0") == 1, "history leaves compact too")
    val back = spark.read.parquet(s"$dir/v1/degrees")
      .as[(String, Long)].collect().toSet
    assert(back == (1 to 1000).map(i => (s"n$i", i.toLong)).toSet,
      "compaction must not change a row")
    // idempotent: a second pass finds nothing fragmented and leaves the
    // single file (and its mtime-bearing name) alone
    val before = new java.io.File(s"$dir/v1/degrees").listFiles
      .filter(_.getName.startsWith("part-")).map(_.getName).toSeq
    IncrementalAnalytics.compactVersion(spark, s"$dir/v1")
    val after = new java.io.File(s"$dir/v1/degrees").listFiles
      .filter(_.getName.startsWith("part-")).map(_.getName).toSeq
    assert(before == after, "already-compact leaves must not be rewritten")
  }

  test("10-batch maintainer run: file count and version count stay bounded") {
    // the at-scale failure mode is files, not bytes: every commit writes
    // a full state version, so an unbounded run must neither accrete
    // versions (prune keeps {committed-1, committed}) nor fragment each
    // version (compactVersion folds topology-shaped partition counts)
    val dir = java.nio.file.Files.createTempDirectory("graft-files").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    new java.io.File(stateDir).mkdirs()
    val base = rels(("r0", "a", "b"))
    IncrementalAnalytics.initDegreesState(stateDir, batchDegrees(base), base)
    for (b <- 1 to 10) {
      // alternate adds/drops so every batch changes the state
      val kind = if (b % 2 == 0) "D" else "C"
      muts((b.toLong, kind, s"rx$b", "a", s"n$b"))
        .write.mode("append").parquet(mutDir)
      val q = IncrementalAnalytics.maintainDegreesStream(
        spark, mutDir, stateDir, s"$dir/cp")
      q.awaitTermination(60000)
    }
    assertRetention(stateDir)
    // total live file count stays bounded by buckets × tables, not by
    // batch count: 10 commits over a 2-node graph must not accrete files
    def partFiles(p: java.nio.file.Path): Int = {
      val walk = java.nio.file.Files.walk(p)
      try walk.filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.startsWith("part-"))
        .count().toInt
      finally walk.close()
    }
    val total = partFiles(java.nio.file.Paths.get(stateDir))
    // 2 tables × ≤16 buckets × ≤4 compacted files + one grace version's
    // dirty rewrites — tiny fixture actually lands far below this
    assert(total >= 1 && total <= 160,
      s"state accreted $total part files after 10 commits")
  }

  // ---------------- incremental k-truss ----------------

  private def edgeSet(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def assertKtrussEqual(base: DataFrame, m: DataFrame, k: Int,
      rounds: Int = 4): Unit = {
    def asEdges(r: DataFrame) =
      r.select(col("source_id").as("src"), col("target_id").as("dst"))
    val baseTruss = KTruss.peel(asEdges(base), k, rounds)
    val incr = edgeSet(
      IncrementalAnalytics.refreshKtruss(baseTruss, base, m, k, rounds))
    val batch = edgeSet(KTruss.peel(asEdges(
      IncrementalAnalytics.applyRelationshipMutations(base, m)
        .localCheckpoint(true)), k, rounds))
    assert(incr == batch, s"incremental $incr != batch $batch")
  }

  test("refreshKtruss == batch: edge delete destroys a triangle, splice keeps the rest") {
    // bowtie triangle a-b-c + independent triangle x-y-z
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r5", "x", "y"), ("r6", "y", "z"), ("r7", "z", "x"))
    // cutting one edge of abc removes ALL its edges from the 3-truss
    // (supports drop to 0); xyz is outside the region and splices verbatim
    assertKtrussEqual(base, muts((1L, "D", "r2", "b", "c")), k = 3)
  }

  test("refreshKtruss == batch: edge add closes a triangle and promotes it") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"),
      ("r5", "x", "y"), ("r6", "y", "z"), ("r7", "z", "x"))
    assertKtrussEqual(base, muts((1L, "C", "r9", "c", "a")), k = 3)
  }

  test("refreshKtruss == batch: k=4 support cascade through shared edges") {
    // two triangles sharing edge b-c (support 2) + a pendant triangle:
    // deleting a-b drops b-c's support below 2 and the 4-truss cascades
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r4", "b", "d"), ("r5", "c", "d"),
      ("r6", "x", "y"), ("r7", "y", "z"), ("r8", "z", "x"))
    assertKtrussEqual(base, muts((1L, "D", "r1", "a", "b")), k = 4)
    // and the merge direction: a second wedge-closing edge re-densifies
    assertKtrussEqual(base,
      muts((1L, "C", "r9", "a", "d")), k = 4)
  }

  test("refreshKtruss: empty batch splices the edge set verbatim") {
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"))
    val baseTruss = KTruss.peel(
      base.select(col("source_id").as("src"), col("target_id").as("dst")),
      3, 2).localCheckpoint(true)
    val out = IncrementalAnalytics.refreshKtruss(baseTruss, base,
      muts().limit(0), 3, 2)
    assert(edgeSet(out) == edgeSet(baseTruss))
  }

  test("streaming k-truss maintenance: demolish then rebuild across restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ktruss-stream").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    val cpDir = s"$dir/cp"
    new java.io.File(stateDir).mkdirs()
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "a"),
      ("r5", "x", "y"))
    IncrementalAnalytics.initState(stateDir,
      IncrementalAnalytics.Maintainer.ktruss(3, 2), base,
      Seq(KTruss.peel(base.select(col("source_id").as("src"),
        col("target_id").as("dst")), 3, 2)))
    // batch 1: cut the triangle — the 3-truss empties
    muts((1L, "D", "r2", "b", "c")).write.mode("append").parquet(mutDir)
    val q1 = IncrementalAnalytics.maintainStream(spark, mutDir, stateDir,
      cpDir, IncrementalAnalytics.Maintainer.ktruss(k = 3, rounds = 2))
    q1.awaitTermination(60000)
    assert(IncrementalAnalytics.current(spark, stateDir, "ktruss").count() == 0)
    // batch 2 lands while the maintainer is down: close triangle b-x-y —
    // folded on restart through the streaming checkpoint
    muts((2L, "C", "r8", "b", "x"), (3L, "C", "r9", "y", "b"))
      .write.mode("append").parquet(mutDir)
    val q2 = IncrementalAnalytics.maintainStream(spark, mutDir, stateDir,
      cpDir, IncrementalAnalytics.Maintainer.ktruss(k = 3, rounds = 2))
    q2.awaitTermination(60000)
    val fin = edgeSet(IncrementalAnalytics.current(spark, stateDir, "ktruss"))
    assert(fin == Set(("b", "x"), ("b", "y"), ("x", "y")), s"after rebuild: $fin")
    // retention: every surviving version/bucket is manifest-referenced
    assertRetention(stateDir)
  }

  test("streaming SCC maintenance: split, then merge across restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scc-stream").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    val cpDir = s"$dir/cp"
    new java.io.File(stateDir).mkdirs()
    // two 2-cycles joined by a condensation edge
    val base = rels(("r1", "a", "b"), ("r2", "b", "a"),
      ("r3", "c", "d"), ("r4", "d", "c"), ("r5", "b", "c"))
    IncrementalAnalytics.initState(stateDir,
      IncrementalAnalytics.Maintainer.scc, base, Seq(batchScc(base)))
    // batch 1: cut {a,b} — a and b become singletons (a SPLIT)
    muts((1L, "D", "r2", "b", "a")).write.mode("append").parquet(mutDir)
    val q1 = IncrementalAnalytics.maintainStream(
      spark, mutDir, stateDir, cpDir, IncrementalAnalytics.Maintainer.scc)
    q1.awaitTermination(60000)
    val mid = sccMap(IncrementalAnalytics.current(spark, stateDir, "scc"))
    assert(mid == Map("a" -> "a", "b" -> "b", "c" -> "c", "d" -> "c"),
      s"after split: $mid")
    // batch 2 lands while the maintainer is down: d→a closes the big
    // cycle a→b→c→d→a — a MERGE of everything, folded on restart
    muts((2L, "C", "r9", "d", "a")).write.mode("append").parquet(mutDir)
    val q2 = IncrementalAnalytics.maintainStream(
      spark, mutDir, stateDir, cpDir, IncrementalAnalytics.Maintainer.scc)
    q2.awaitTermination(60000)
    val fin = sccMap(IncrementalAnalytics.current(spark, stateDir, "scc"))
    assert(fin == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"),
      s"after merge: $fin")
    // retention: every surviving version/bucket is manifest-referenced
    // (clean buckets carry forward by reference — see assertRetention)
    assertRetention(stateDir)
  }

  test("maintainer SLO: 50 batches, bounded files and bounded latency drift") {
    // The steady-state contract a platform operator relies on: after 50
    // consecutive mutation batches through ONE long-lived maintainer
    // query (maxFilesPerTrigger=1 slices one committed file per trigger),
    // (a) the pointer reached batch 50, (b) retention holds the
    // delta-state contract (manifest-referenced versions/buckets only)
    // with a bounded TOTAL file count (compaction hygiene — without it
    // each commit's dirty rewrites fragment and listings grow),
    // and (d) per-batch latency does NOT grow with batch index: state is
    // pruned + compacted each commit, so batch ~50 folds against the
    // same-shaped state as batch ~5. Bound tightened 3x → 2x (r18): the
    // sf1 attribution run measured drift 0.98 (components) / 1.13
    // (ranks) over 50 batches, with addBatch (the maintainer's own cone
    // recompute + state-version rewrite) at ~99% of trigger time and
    // file listing/WAL phases flat at ≤80 ms — so any late/early ratio
    // near 2 is a real leak, not engine noise.
    val dir = java.nio.file.Files.createTempDirectory("graft-slo-spec").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    new java.io.File(stateDir).mkdirs()
    val base = rels(("r1", "a", "b"), ("r2", "b", "c"), ("r3", "c", "d"),
      ("r4", "x", "y"))
    val baseComp = TwinGraph(twinsOf(base), base,
      spark.emptyDataFrame).components()
    IncrementalAnalytics.initComponentsState(stateDir, baseComp, base)
    // batch i: create edge d->z{i}, delete edge d->z{i-1} — constant-size
    // graph, fresh cone each batch; one coalesced file per batch so the
    // file-source slices exactly 50 triggers
    for (i <- 1 to 50) {
      val rows = Seq((i * 2L - 1, "C", s"rz$i", "d", s"z$i")) ++
        (if (i > 1) Seq((i * 2L, "D", s"rz${i - 1}", "d", s"z${i - 1}"))
         else Nil)
      muts(rows: _*).coalesce(1).write.mode("append").parquet(mutDir)
    }
    val q = IncrementalAnalytics.maintainComponentsStream(
      spark, mutDir, stateDir, s"$dir/cp", Map("maxFilesPerTrigger" -> "1"))
    q.awaitTermination(600000)
    val lat = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => (p.batchId, p.durationMs.get("triggerExecution").toLong))
      .sortBy(_._1).map(_._2)
    assert(lat.size == 50, s"expected 50 non-empty triggers, got ${lat.size}")
    // (a) all 50 committed; final state correct: z50 joined to the chain,
    // z1..z49 edge-less but their twins never deleted — singletons (the
    // same universe a batch recompute over the surviving twins yields)
    val fin = compMap(IncrementalAnalytics.currentComponents(spark, stateDir))
    assert(fin("z50") == fin("a"), s"final: $fin")
    assert(fin("z49") == "z49" && fin("z1") == "z1", s"final: $fin")
    // (b) retention: every surviving version/bucket manifest-referenced,
    // and the total live file count bounded by buckets × tables — after
    // 50 commits the state must not have accreted per-batch files
    assertRetention(stateDir)
    def partFiles(p: java.nio.file.Path): Int = {
      val walk = java.nio.file.Files.walk(p)
      try walk.filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.startsWith("part-"))
        .count().toInt
      finally walk.close()
    }
    val total = partFiles(java.nio.file.Paths.get(stateDir))
    assert(total >= 1 && total <= 160,
      s"state accreted $total part files after 50 commits")
    // (d) no monotone latency growth across the run
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    val early = median(lat.slice(2, 12))
    val late = median(lat.takeRight(10))
    assert(late <= early * 2,
      s"per-batch latency drifted: early median ${early}ms -> late median " +
        s"${late}ms over ${lat.size} batches (${lat.mkString(",")})")
  }

  test("delta commit rewrites ONLY dirty buckets; clean buckets carry by reference") {
    // The r18 verdict's one weak mark: the per-commit FULL state rewrite,
    // bounded by state size. This pins the fix — a point mutation's
    // commit writes the touched keys' buckets and nothing else, with the
    // manifest carrying every clean bucket from v0 by reference, and the
    // assembled read still equal to a full batch recompute.
    val dir = java.nio.file.Files.createTempDirectory("graft-delta").toString
    val mutDir = s"$dir/mutations"
    val stateDir = s"$dir/state"
    new java.io.File(stateDir).mkdirs()
    // 64 disjoint edges spread over all 16 default buckets
    val base = rels((0 until 64).map(i => (s"r$i", s"s$i", s"t$i")): _*)
    IncrementalAnalytics.initDegreesState(stateDir, batchDegrees(base), base)
    val man0 = StateStore.readManifest(stateDir, 0L)
    assert(man0("degrees").buckets.values.forall(_ == 0L) &&
      man0("degrees").chain.isEmpty)
    // one relationship delete — the commit appends ONE merge-on-read
    // delta holding the two touched endpoints' rows, nothing else
    muts((1L, "D", "r0", "s0", "t0")).write.mode("append").parquet(mutDir)
    val q = IncrementalAnalytics.maintainDegreesStream(
      spark, mutDir, stateDir, s"$dir/cp")
    q.awaitTermination(60000)
    assert(StateStore.readPointer(stateDir) == 1L)
    val man1 = StateStore.readManifest(stateDir, 1L)
    assert(man1("degrees").buckets.values.forall(_ == 0L),
      s"every compacted bucket must stay owned by v0: ${man1("degrees")}")
    assert(man1("degrees").chain == Seq(1L) &&
      man1("rels").chain == Seq(1L),
      s"the commit must append one chain delta: ${man1}")
    // on disk, v1 holds ONLY the delta dirs, no bucket rewrites, and the
    // degrees delta is exactly the two touched endpoints
    def dirs(t: String): Seq[String] =
      Option(new java.io.File(s"$stateDir/v1/$t").listFiles())
        .map(_.filter(_.isDirectory).map(_.getName).toSeq).getOrElse(Nil)
    assert(dirs("degrees") == Seq("delta"), s"v1/degrees: ${dirs("degrees")}")
    assert(dirs("rels") == Seq("delta"), s"v1/rels: ${dirs("rels")}")
    val deltaRows = spark.read.parquet(s"$stateDir/v1/degrees/delta")
    assert(deltaRows.count() == 2 &&
      deltaRows.select("dt_id").collect().map(_.getString(0)).toSet ==
        Set("s0", "t0"),
      "degrees delta must hold exactly the touched endpoints")
    // the assembled read still equals the batch recompute on the shared
    // universe (maintained state keeps edge-less endpoints, batch derives
    // its universe from surviving endpoints)
    val fin = IncrementalAnalytics.currentDegrees(spark, stateDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val expect = batchDegrees(
        IncrementalAnalytics.applyRelationshipMutations(base,
          muts((1L, "D", "r0", "s0", "t0"))).localCheckpoint(true))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(expect.forall { case (k, v) => fin.get(k).contains(v) },
      s"assembled read != batch recompute\ngot: $fin\nexpect: $expect")
    assert(fin("s0") == (0L, 0L) && fin("t0") == (0L, 0L),
      s"touched endpoints must zero out: $fin")
    assertRetention(stateDir)
  }
}
