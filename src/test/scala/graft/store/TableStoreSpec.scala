package graft.store

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.json.Json

/** The durable table-backed store: CRUD journals to parquet, checkpoints
  * fold the journal set-wise into a versioned columnar snapshot, and a
  * reopened store sees everything — including operations performed after
  * the last checkpoint (journal replay). */
class TableStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val roomModel =
    """{"@id":"dtmi:com:adt:dtsample:room;1","@type":"Interface",
      |"@context":"dtmi:dtdl:context;3","displayName":"Room","contents":[
      |{"@type":"Property","name":"name","schema":"string"},
      |{"@type":"Property","name":"temperature","schema":"double"},
      |{"@type":"Relationship","name":"rel_has_sensors"}]}""".stripMargin

  private def tempDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-tablestore").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def fixedClock(): () => String = {
    var t = 0
    () => { t += 1; f"2026-01-01T00:00:${t % 60}%02dZ" }
  }

  private def roomDoc(id: String, temp: Double) =
    s"""{"$$dtId":"$id","$$metadata":{"$$model":"dtmi:com:adt:dtsample:room;1"},
       |"name":"Room $id","temperature":$temp}""".stripMargin

  test("lazy write-reopen touches O(touched keys), not O(corpus)") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    val hallModel =
      """{"@id":"dtmi:com:adt:dtsample:hall;1","@type":"Interface",
        |"@context":"dtmi:dtdl:context;3","contents":[
        |{"@type":"Property","name":"name","schema":"string"},
        |{"@type":"Property","name":"temperature","schema":"double"}]}""".stripMargin
    def hallDoc(id: String, temp: Double) =
      s"""{"$$dtId":"$id","$$metadata":{"$$model":"dtmi:com:adt:dtsample:hall;1"},
         |"name":"Hall $id","temperature":$temp}""".stripMargin
    s1.createModels(Seq(roomModel, hallModel))
    // two model partitions with DISJOINT dt_id ranges (a* < b*), so the
    // point probe's pushed dt_id predicate can skip the other partition's
    // row groups on min/max stats — the file-slice pruning a partitioned
    // deployment gets per key
    s1.batch {
      (1 to 150).foreach(i => s1.createOrReplaceTwin(s"a$i", roomDoc(s"a$i", i)))
      (1 to 150).foreach(i => s1.createOrReplaceTwin(s"b$i", hallDoc(s"b$i", i)))
    }
    s1.checkpoint()

    // count parquet rows the executors actually read from reopen onward
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    def settle(): Long = { // listener events are async; wait for quiescence
      var last = -1L
      var cur = read.get()
      while (cur != last) { last = cur; Thread.sleep(100); cur = read.get() }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val s2 = TableTwinStore.open(spark, dir, fixedClock())
      val opened = settle()
      // open itself reads no snapshot rows — only the seq aggregate over
      // the (empty, just-checkpointed) journal
      assert(opened < 10, s"open read $opened rows — corpus restore leaked back in")
      val doc = s2.getTwin("a7")
      assert(doc.get("temperature").asDouble() == 7.0)
      s2.patchTwin("a7",
        """[{"op":"replace","path":"/temperature","value":99.0}]""")
      val total = settle()
      // one faulted key = one pruned snapshot slice (the a* partition's
      // row group, ≤150 rows; the b* partition is skipped on stats) +
      // the empty journal tail. Eager restore read all 300 before the
      // first op; the lazy bound scales with the slice, not the corpus.
      assert(total < 250, s"reopen+point-ops read $total rows — not per-key")
      assert(s2.getTwin("a7").get("temperature").asDouble() == 99.0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("create/patch/delete/batch survive checkpoint + reopen") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(roomModel))
    s1.createOrReplaceTwin("r1", roomDoc("r1", 20.0))
    s1.createOrReplaceTwin("r2", roomDoc("r2", 21.0))
    s1.createOrReplaceTwins((3 to 5).map(i => roomDoc(s"r$i", 20.0 + i)))
    s1.patchTwin("r2", """[{"op":"replace","path":"/temperature","value":25.5}]""")
    s1.createOrReplaceRelationship("r1", "rel1",
      """{"$relationshipName":"rel_has_sensors","$targetId":"r2"}""")
    s1.deleteTwin("r5")
    s1.checkpoint()

    // restart: everything from the snapshot
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    assert(Json.get(s2.getTwin("r2"), "/temperature").get.asDouble() == 25.5)
    assert(Json.get(s2.getTwin("r3"), "/name").get.asText() == "Room r3")
    assert(Json.get(s2.getRelationship("r1", "rel1"), "/$targetId").get.asText() == "r2")
    intercept[StoreException](s2.getTwin("r5"))
    assert(s2.getModel("dtmi:com:adt:dtsample:room;1").displayName.contains("Room"))
    // DTDL validation still enforced after restore
    val e = intercept[StoreException](s2.createOrReplaceTwin("bad",
      """{"$metadata":{"$model":"dtmi:com:adt:dtsample:room;1"},"bogus":1}"""))
    assert(e.msg.contains("not defined in the model"))
  }

  test("journal tail replays on reopen without a checkpoint") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(roomModel))
    s1.createOrReplaceTwin("r1", roomDoc("r1", 20.0))
    s1.checkpoint()
    // post-checkpoint operations live only in the journal
    s1.patchTwin("r1", """[{"op":"replace","path":"/temperature","value":99.0}]""")
    s1.createOrReplaceTwin("r9", roomDoc("r9", 18.0))
    s1.deleteTwin("r9")

    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    assert(Json.get(s2.getTwin("r1"), "/temperature").get.asDouble() == 99.0)
    intercept[StoreException](s2.getTwin("r9"))
    // seq continues past the replayed tail (no id reuse in the log)
    s2.createOrReplaceTwin("r10", roomDoc("r10", 17.0))
    val seqs = s2.mutationsDf.select("seq").collect().map(_.getLong(0))
    assert(seqs.distinct.length == seqs.length, s"duplicate seq in journal: ${seqs.sorted.mkString(",")}")
  }

  test("graph reads fold the journal tail without a checkpoint") {
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    s.createModels(Seq(roomModel))
    s.createOrReplaceTwin("r1", roomDoc("r1", 20.0))
    s.checkpoint()
    s.createOrReplaceTwin("r2", roomDoc("r2", 30.0))
    s.patchTwin("r1", """[{"op":"replace","path":"/temperature","value":21.0}]""")
    val g = s.graph
    val rows = g.twins.select(col("dt_id"),
        get_json_object(col("properties"), "$.temperature").cast("double").as("t"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows == Map("r1" -> 21.0, "r2" -> 30.0))
    // models table carries the registry
    assert(g.models.filter(col("id") === "dtmi:com:adt:dtsample:room;1").count() == 1)
  }

  test("checkpoint folds N ops into one set-wise merge and prunes old versions") {
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    s.createModels(Seq(roomModel))
    (1 to 4).foreach(i => s.createOrReplaceTwin(s"r$i", roomDoc(s"r$i", i)))
    s.checkpoint()
    s.deleteTwin("r4")
    s.checkpoint()
    val root = new java.io.File(dir)
    val versions = root.listFiles().map(_.getName).filter(_.startsWith("v")).sorted
    assert(versions.toSeq == Seq("v2"), s"old snapshot versions not pruned: ${versions.mkString(",")}")
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    assert(s2.twinIds.size == 3)
  }

  test("batch {} groups ops into one journal append; applied ops survive a failure") {
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    s.createModels(Seq(roomModel))
    s.batch((1 to 5).foreach(i => s.createOrReplaceTwin(s"r$i", roomDoc(s"r$i", i))))
    // one parquet file for the whole group (plus _SUCCESS)
    val files = new java.io.File(dir, "mutations").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected one journal file for the batch, got $files")
    // an exception mid-batch still flushes the ops that were applied
    intercept[StoreException](s.batch {
      s.createOrReplaceTwin("r6", roomDoc("r6", 6))
      s.createOrReplaceTwin("bad",
        """{"$metadata":{"$model":"dtmi:com:adt:dtsample:room;1"},"bogus":1}""")
    })
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    assert(s2.twinIds.toSet == (1 to 6).map(i => s"r$i").toSet)
  }

  test("a batch over the driver-side journal cutoff goes through the Spark writer and reads back exactly") {
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    s.createModels(Seq(roomModel))
    val n = TableTwinStore.JournalLocalWriteMaxRows + 1
    val ids = (1 to n).map(i => s"r$i")
    s.batch(ids.zipWithIndex.foreach { case (id, i) =>
      s.createOrReplaceTwin(id, roomDoc(id, i))
    })
    // one Spark-written part file; the driver-side writer names its files
    // part-local-*
    val files = new java.io.File(dir, "mutations").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.length == 1 && !files.head.startsWith("part-local-"),
      files.toSeq)
    val rows = spark.read.parquet(s"$dir/mutations")
      .select("seq", "entity_kind", "entity_id", "event_type", "new_json")
      .orderBy("seq").collect()
    assert(rows.length == n)
    assert(rows.map(_.getLong(0)).toSeq == (rows.head.getLong(0) until
      rows.head.getLong(0) + n))
    assert(rows.map(_.getString(2)).toSeq == ids)
    assert(rows.map(r => (r.getString(1), r.getString(3))).distinct.length == 1)
    rows.foreach { r =>
      assert(Json.parse(r.getString(4)) == s.getTwin(r.getString(2)),
        s"journal row for ${r.getString(2)} differs from the store's twin")
    }
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    assert(s2.getTwin(ids.last) == s.getTwin(ids.last))
  }

  test("bulk importGraph merges set-wise and is visible after reopen") {
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    s.createModels(Seq(
      """{"@id":"dtmi:bulk:Thing;1","@type":"Interface","contents":[
        |{"@type":"Property","name":"name","schema":"string"},
        |{"@type":"Property","name":"n","schema":"double"}]}""".stripMargin))
    s.createOrReplaceTwin("crud1",
      """{"$dtId":"crud1","$metadata":{"$model":"dtmi:bulk:Thing;1"},"name":"crud"}""")
    import spark.implicits._
    val bulkTwins = (1 to 50).map(i =>
        (s"bulk$i", "dtmi:bulk:Thing;1", null: String, "2026-01-01T00:00:00Z",
          s"""{"$$dtId":"bulk$i","$$metadata":{"$$model":"dtmi:bulk:Thing;1"},"n":$i}"""))
      .toDF("dt_id", "model_id", "etag", "last_update_time", "properties")
    val bulkRels = Seq.empty[(String, String, String, String, String, String)]
      .toDF("relationship_id", "source_id", "target_id", "relationship_name",
        "etag", "properties")
    s.importGraph(bulkTwins, bulkRels)
    val g = TableTwinStore.open(spark, dir, fixedClock()).graph
    assert(g.twins.count() == 51)
    assert(g.twins.filter(col("dt_id") === "crud1").count() == 1)
  }

  test("importGraph canonical-form probe rejects view-shaped and null docs") {
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    import spark.implicits._
    def twinsDf(doc: String) = Seq(
        ("v1", "dtmi:bulk:Thing;1", null: String, "2026-01-01T00:00:00Z", doc))
      .toDF("dt_id", "model_id", "etag", "last_update_time", "properties")
    def relsDf(doc: String) = Seq(
        ("r1", "v1", "v2", "links", null: String, doc))
      .toDF("relationship_id", "source_id", "target_id", "relationship_name",
        "etag", "properties")
    val goodTwin =
      """{"$dtId":"v1","$metadata":{"$model":"dtmi:bulk:Thing;1"},"n":1}"""
    val goodRel = """{"$relationshipId":"r1","$sourceId":"v1",""" +
      """"$targetId":"v2","$relationshipName":"links"}"""
    // view-shaped twin doc (bare props, no $dtId/$metadata): loud 400
    val e1 = intercept[StoreException](
      s.importGraph(twinsDf("""{"n":1}"""), relsDf(goodRel)))
    assert(e1.status == 400 && e1.msg.contains("FULL twin"), e1.msg)
    // NULL twin doc: the intended 400, not an NPE from Json.parse(null)
    val e2 = intercept[StoreException](
      s.importGraph(twinsDf(null), relsDf(goodRel)))
    assert(e2.status == 400 && e2.msg.contains("NULL"), e2.msg)
    // view-shaped relationship doc: same loud 400 on the rel side
    val e3 = intercept[StoreException](
      s.importGraph(twinsDf(goodTwin), relsDf("""{"w":2}""")))
    assert(e3.status == 400 && e3.msg.contains("FULL relationship"), e3.msg)
    // NULL relationship doc
    val e4 = intercept[StoreException](
      s.importGraph(twinsDf(goodTwin), relsDf(null)))
    assert(e4.status == 400 && e4.msg.contains("NULL"), e4.msg)
    // canonical both sides: accepted
    s.importGraph(twinsDf(goodTwin), relsDf(goodRel))
    assert(s.graph.relationships.count() == 1)
  }

  test("query-only open: graph reads work, CRUD/point reads guarded, checkpoint compacts") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(roomModel))
    s1.createOrReplaceTwins((1 to 5).map(i => roomDoc(s"r$i", 20.0 + i)))
    s1.checkpoint()
    s1.createOrReplaceTwin("r6", roomDoc("r6", 30.0)) // journal tail
    s1.deleteTwin("r1")

    val q = TableTwinStore.openQueryOnly(spark, dir, fixedClock())
    // graph folds snapshot + journal tail without any driver restore
    assert(q.graph.twins.count() == 5) // r2..r6
    assert(q.graph.twins.filter(col("dt_id") === "r6").count() == 1)
    assert(q.getModel("dtmi:com:adt:dtsample:room;1").displayName.contains("Room"))
    // interactive surface is guarded with a clear error
    assert(intercept[StoreException](q.getTwin("r2")).msg.contains("query-only"))
    assert(intercept[StoreException](
      q.createOrReplaceTwin("x", roomDoc("x", 1.0))).msg.contains("query-only"))
    assert(intercept[StoreException](q.batch {}).msg.contains("query-only"))
    // journal compaction works from a query-only open (set-wise, no
    // driver state) and a later full open sees everything
    q.checkpoint()
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    assert(Json.get(s2.getTwin("r6"), "/temperature").get.asDouble() == 30.0)
    intercept[StoreException](s2.getTwin("r1"))
    // and CRUD continues cleanly after the compaction
    s2.createOrReplaceTwin("r7", roomDoc("r7", 31.0))
    assert(TableTwinStore.openQueryOnly(spark, dir, fixedClock())
      .graph.twins.count() == 6)
  }

  test("query-only checkpoint advances the seq horizon past the folded tail") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(roomModel))
    (1 to 4).foreach(i => s1.createOrReplaceTwin(s"r$i", roomDoc(s"r$i", 20.0))) // seq 1..4
    // compact from a query-only open: the folded tail's max seq must become
    // the new horizon, or a later full open re-issues seqs 1..4 and mints
    // duplicate CloudEvent ids downstream
    TableTwinStore.openQueryOnly(spark, dir, fixedClock()).checkpoint()
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    s2.createOrReplaceTwin("r5", roomDoc("r5", 25.0))
    val maxSeq = spark.read.parquet(s"$dir/mutations")
      .agg(max(col("seq"))).collect()(0).getLong(0)
    assert(maxSeq == 5, s"new mutation must get seq 5, journal has max $maxSeq")
  }

  test("a present-but-corrupt meta.json refuses to open instead of starting empty") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(roomModel))
    s1.createOrReplaceTwin("r1", roomDoc("r1", 20.0))
    s1.checkpoint()
    java.nio.file.Files.writeString(
      new java.io.File(dir, "meta.json").toPath, "{corrupt")
    // drop the local-FS checksum sidecar so the torn payload is actually
    // read (on a real object store there is no .crc; parse is the guard)
    new java.io.File(dir, ".meta.json.crc").delete()
    val e = intercept[java.io.IOException](
      TableTwinStore.open(spark, dir, fixedClock()))
    assert(e.getMessage.contains("unparseable"))
  }

  test("open recovers meta/models from .tmp after a crash between delete and rename") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(roomModel))
    s1.createOrReplaceTwin("r1", roomDoc("r1", 20.0))
    s1.checkpoint()

    // simulate the torn writeText window: target deleted, complete .tmp
    // beside it (writeText deletes the target then renames the tmp over it)
    def tear(name: String): Unit = {
      val f = new java.io.File(dir, name)
      val tmp = new java.io.File(dir, name + ".tmp")
      java.nio.file.Files.copy(f.toPath, tmp.toPath)
      assert(f.delete())
    }
    tear("meta.json")
    tear("models.json")

    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    // without the resilient read, open() starts at version=0 with the
    // journal already pruned — r1 and the model silently vanish
    assert(Json.get(s2.getTwin("r1"), "/temperature").get.asDouble() == 20.0)
    assert(s2.getModel("dtmi:com:adt:dtsample:room;1").displayName.contains("Room"))
    // and the fallback heals the directory: target restored from the .tmp
    assert(new java.io.File(dir, "meta.json").exists())
    assert(new java.io.File(dir, "models.json").exists())
  }

  test("time travel: graphAt reconstructs every seq across retained checkpoints") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(roomModel))
    s1.createOrReplaceTwin("a", roomDoc("a", 1.0)) // seq 1
    s1.createOrReplaceTwin("b", roomDoc("b", 1.0)) // seq 2
    s1.checkpoint(retain = true)                   // base v1 @ seq 2
    s1.createOrReplaceTwin("a", roomDoc("a", 2.0)) // seq 3
    s1.deleteTwin("b")                             // seq 4
    s1.checkpoint(retain = true)                   // base v2 @ seq 4
    s1.createOrReplaceTwin("c", roomDoc("c", 1.0)) // seq 5, live journal
    def temps(g: graft.graph.TwinGraph): Map[String, Double] =
      g.twins.select(col("dt_id"),
          get_json_object(col("properties"), "$['temperature']").cast("double"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // before any mutation: empty store
    assert(temps(s1.graphAt(0)).isEmpty)
    // mid-first-batch state comes from the archived journal alone
    assert(temps(s1.graphAt(1)) == Map("a" -> 1.0))
    // exactly a retained base: no journal fold needed
    assert(temps(s1.graphAt(2)) == Map("a" -> 1.0, "b" -> 1.0))
    // base v1 + archived rows: update visible, delete not yet
    assert(temps(s1.graphAt(3)) == Map("a" -> 2.0, "b" -> 1.0))
    // delete lands
    assert(temps(s1.graphAt(4)) == Map("a" -> 2.0))
    // live (unarchived) journal rows fold too; far future = current state
    assert(temps(s1.graphAt(5)) == Map("a" -> 2.0, "c" -> 1.0))
    assert(temps(s1.graphAt(Long.MaxValue)) == temps(s1.graph))

    // history survives reopen (meta round-trip), including query-only mode
    val s2 = TableTwinStore.openQueryOnly(spark, dir, fixedClock())
    assert(temps(s2.graphAt(3)) == Map("a" -> 2.0, "b" -> 1.0))
    assert(temps(s2.graphAt(4)) == Map("a" -> 2.0))

    // an unretained checkpoint archives (not prunes) once history exists,
    // so earlier seqs stay reachable
    val s3 = TableTwinStore.open(spark, dir, fixedClock())
    s3.createOrReplaceTwin("d", roomDoc("d", 9.0)) // seq 6
    s3.checkpoint()
    assert(temps(s3.graphAt(1)) == Map("a" -> 1.0))
    assert(temps(s3.graphAt(6))("d") == 9.0)
  }

  test("time travel horizon: recent-past works with no history; gaps refuse loudly") {
    def temps(g: graft.graph.TwinGraph): Map[String, Double] =
      g.twins.select(col("dt_id"),
          get_json_object(col("properties"), "$['temperature']").cast("double"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // store with NO retained checkpoints: the pruning checkpoint moves the
    // horizon to appliedSeq — travel at/after it rides the current
    // snapshot, travel before it refuses instead of folding a gap
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    s.createModels(Seq(roomModel))
    s.createOrReplaceTwin("a", roomDoc("a", 1.0)) // seq 1
    s.createOrReplaceTwin("b", roomDoc("b", 1.0)) // seq 2
    s.checkpoint() // unretained: journal pruned, horizon = 2
    s.createOrReplaceTwin("c", roomDoc("c", 3.0)) // seq 3, live
    assert(temps(s.graphAt(2)) == Map("a" -> 1.0, "b" -> 1.0),
      "current snapshot serves as the base at appliedSeq")
    assert(temps(s.graphAt(3)).contains("c"))
    val e = intercept[StoreException](s.graphAt(1))
    assert(e.status == 400 && e.getMessage.contains("horizon"), e.getMessage)
    // first RETAIN on the pruned store pins the horizon at its own seq —
    // the pre-retention gap stays un-travelable rather than silently wrong
    s.checkpoint(retain = true) // base @ seq 3
    assert(temps(s.graphAt(3)).keySet == Set("a", "b", "c"))
    assert(intercept[StoreException](s.graphAt(2)).status == 400)
  }

  test("vacuumHistory drops old bases, rewrites the archive, advances the horizon") {
    def temps(g: graft.graph.TwinGraph): Map[String, Double] =
      g.twins.select(col("dt_id"),
          get_json_object(col("properties"), "$['temperature']").cast("double"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    s.createModels(Seq(roomModel))
    s.createOrReplaceTwin("a", roomDoc("a", 1.0)) // seq 1
    s.checkpoint(retain = true)                   // base v1 @ 1
    s.createOrReplaceTwin("b", roomDoc("b", 2.0)) // seq 2
    s.checkpoint(retain = true)                   // base v2 @ 2
    s.createOrReplaceTwin("c", roomDoc("c", 3.0)) // seq 3
    s.checkpoint(retain = true)                   // base v3 @ 3
    assert(temps(s.graphAt(1)) == Map("a" -> 1.0))
    s.vacuumHistory(keepBases = 2)
    // horizon is now the oldest KEPT base (seq 2): 2 and 3 still travel
    assert(temps(s.graphAt(2)) == Map("a" -> 1.0, "b" -> 2.0))
    assert(temps(s.graphAt(3)) == Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0))
    assert(intercept[StoreException](s.graphAt(1)).status == 400)
    // the vacuumed horizon survives a reopen
    val s2 = TableTwinStore.openQueryOnly(spark, dir, fixedClock())
    assert(temps(s2.graphAt(2)) == Map("a" -> 1.0, "b" -> 2.0))
    assert(intercept[StoreException](s2.graphAt(1)).status == 400)
    // idempotent / no-op when fewer bases than keepBases
    s.vacuumHistory(keepBases = 5)
    assert(temps(s.graphAt(3)).size == 3)
  }

  test("vacuum crash windows: reopen finishes (or rolls back) the archive swap") {
    def temps(g: graft.graph.TwinGraph): Map[String, Double] =
      g.twins.select(col("dt_id"),
          get_json_object(col("properties"), "$['temperature']").cast("double"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def build(): String = {
      val dir = tempDir()
      val s = TableTwinStore.open(spark, dir, fixedClock())
      s.createModels(Seq(roomModel))
      s.createOrReplaceTwin("a", roomDoc("a", 1.0)) // seq 1
      s.checkpoint(retain = true)                   // base v1 @ 1
      s.createOrReplaceTwin("b", roomDoc("b", 2.0)) // seq 2
      s.checkpoint(retain = true)                   // base v2 @ 2
      s.createOrReplaceTwin("c", roomDoc("c", 3.0)) // seq 3
      s.checkpoint(retain = true)                   // base v3 @ 3
      s.vacuumHistory(keepBases = 2)                // horizon -> 2
      dir
    }
    def mv(dir: String, from: String, to: String): Unit = {
      val ok = new java.io.File(dir, from).renameTo(new java.io.File(dir, to))
      assert(ok, s"test setup: could not rename $from -> $to")
    }
    // Crash BETWEEN the two swap renames: archive set aside, pruned tmp not
    // yet promoted. The aside marker proves the tmp is complete, so reopen
    // promotes it and travel over the kept range works.
    locally {
      val dir = build()
      mv(dir, "journal-archive", "journal-archive.rewrite")
      new java.io.File(dir, "journal-archive.old").mkdirs()
      val s2 = TableTwinStore.openQueryOnly(spark, dir, fixedClock())
      assert(temps(s2.graphAt(2)) == Map("a" -> 1.0, "b" -> 2.0))
      assert(temps(s2.graphAt(3)) == Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0))
      assert(intercept[StoreException](s2.graphAt(1)).status == 400)
      assert(!new java.io.File(dir, "journal-archive.old").exists())
      assert(!new java.io.File(dir, "journal-archive.rewrite").exists())
    }
    // Crash DURING the survivor rewrite: partial tmp, no aside marker, real
    // archive untouched. Reopen discards the partial output; the archive
    // (and travel) are unaffected.
    locally {
      val dir = build()
      val junk = new java.io.File(dir, "journal-archive.rewrite")
      junk.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(junk, "part-garbage.parquet").toPath, "not parquet")
      val s2 = TableTwinStore.openQueryOnly(spark, dir, fixedClock())
      assert(temps(s2.graphAt(3)) == Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0))
      assert(!new java.io.File(dir, "journal-archive.rewrite").exists())
    }
  }

  test("importGraph pins the horizon: no silent pre-import reconstruction") {
    def temps(g: graft.graph.TwinGraph): Map[String, Double] =
      g.twins.select(col("dt_id"),
          get_json_object(col("properties"), "$['temperature']").cast("double"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    s.createModels(Seq(roomModel))
    s.createOrReplaceTwin("a", roomDoc("a", 1.0)) // seq 1
    s.checkpoint(retain = true)                   // base v1 @ 1
    s.createOrReplaceTwin("b", roomDoc("b", 2.0)) // seq 2
    import spark.implicits._
    val bulkTwins = Seq(("z", "dtmi:com:adt:dtsample:room;1", null: String,
        "2026-01-01T00:00:00Z",
        """{"$dtId":"z","$metadata":{"$model":"dtmi:com:adt:dtsample:room;1"},"temperature":9.0}"""))
      .toDF("dt_id", "model_id", "etag", "last_update_time", "properties")
    val noRels = Seq.empty[(String, String, String, String, String, String)]
      .toDF("relationship_id", "source_id", "target_id", "relationship_name",
        "etag", "properties")
    s.importGraph(bulkTwins, noRels) // journal bypassed: no seq rows for z
    // Below the import boundary no base+fold can include z: refuse loudly
    // (before the fix this silently returned {a} from the v1 base).
    assert(intercept[StoreException](s.graphAt(1)).status == 400)
    // At/after the boundary the imported snapshot is the base: z included.
    assert(temps(s.graphAt(2)) == Map("a" -> 1.0, "b" -> 2.0, "z" -> 9.0))
    // The previously-broken window — seqs between the pre-import base and a
    // LATER retained base — must fold from the post-import snapshot.
    s.createOrReplaceTwin("c", roomDoc("c", 3.0)) // seq 3
    s.checkpoint(retain = true)
    assert(temps(s.graphAt(2)) == Map("a" -> 1.0, "b" -> 2.0, "z" -> 9.0))
    assert(temps(s.graphAt(3)) ==
      Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0, "z" -> 9.0))
    // Horizon + post-import history survive a reopen.
    val s2 = TableTwinStore.openQueryOnly(spark, dir, fixedClock())
    assert(intercept[StoreException](s2.graphAt(1)).status == 400)
    assert(temps(s2.graphAt(3)).keySet == Set("a", "b", "c", "z"))
  }

  test("cursor enumeration keeps tail keys after a checkpoint resolves the pre-session tail") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(roomModel))
    (1 to 3).foreach(i => s1.createOrReplaceTwin(s"a$i", roomDoc(s"a$i", i.toDouble)))
    s1.checkpoint()
    // journal tail past the checkpoint — pre-session tail for the reopen
    (1 to 3).foreach(i => s1.createOrReplaceTwin(s"b$i", roomDoc(s"b$i", i.toDouble)))

    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    s2.getTwin("b1") // any fault forces the lazy pre-session tail map
    // checkpoint advances appliedSeq past tailMaxAtOpen: hasPreSessionTail
    // flips false while the FORCED map still holds b1..b3. extras stops
    // carrying tail keys, so the snapshot-side exclusion must stop too —
    // otherwise b2/b3 (never faulted) vanish from cursor enumeration and a
    // delete job would report success leaving them live.
    s2.checkpoint()
    val ids = s2.twinIdsAfter(None, 100)
    assert(ids.toSet == Set("a1", "a2", "a3", "b1", "b2", "b3"),
      s"resolved-tail keys must stay enumerable, got $ids")
  }

  test("failed point-reader construction releases locks — the next lookup retries, no deadlock") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(roomModel))
    s1.createOrReplaceTwin("r1", roomDoc("r1", 20.0))
    s1.checkpoint()
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    // a garbage .parquet in the snapshot makes PointReader construction
    // throw while the write lock is held — the swap must release it (and
    // never leak a read lock) so a later lookup can rebuild
    val junk = new java.io.File(s"$dir/v1/twins/zz_corrupt.parquet")
    assert(junk.getParentFile.isDirectory, s"unexpected snapshot layout at $junk")
    java.nio.file.Files.write(junk.toPath, "not a parquet file".getBytes)
    intercept[Throwable](s2.getTwin("r1"))
    assert(junk.delete())
    // pre-fix this deadlocks: the failed build leaked a read lock, and the
    // retry's write-lock acquisition blocks forever (no RW-lock upgrade)
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var temp: Double = Double.NaN
    val t = new Thread(() => {
      temp = Json.get(s2.getTwin("r1"), "/temperature").get.asDouble()
      done.countDown()
    })
    t.setDaemon(true); t.start()
    assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "lookup after a failed reader build deadlocked")
    assert(temp == 20.0)
  }

  // ---------------- journal-tail overlay ----------------

  private val linkModel =
    """{"@id":"dtmi:com:adt:dtsample:node;1","@type":"Interface",
      |"@context":"dtmi:dtdl:context;3","contents":[
      |{"@type":"Property","name":"temperature","schema":"double"},
      |{"@type":"Relationship","name":"feeds","properties":[
      |  {"@type":"Property","name":"weight","schema":"integer"}]}]}""".stripMargin
  private def nodeDoc(id: String, temp: Double) =
    s"""{"$$dtId":"$id","$$metadata":{"$$model":"dtmi:com:adt:dtsample:node;1"},
       |"temperature":$temp}""".stripMargin
  private def feeds(target: String, weight: Int) =
    s"""{"$$relationshipName":"feeds","$$targetId":"$target","weight":$weight}"""
  private def setTemp(t: Double) =
    s"""[{"op":"replace","path":"/temperature","value":$t}]"""

  /** Every column of every row, sorted — equal graphs compare equal. */
  private def graphRows(g: graft.graph.TwinGraph): (Seq[String], Seq[String]) = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col).toSeq: _*).collect()
        .map(_.mkString("|")).toSeq.sorted
    (rows(g.twins), rows(g.relationships))
  }

  /** Spark jobs started while `f` runs (listener events are delivered
    * asynchronously, so wait for the count to settle). */
  private def jobsOf[T](f: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      var last = -1
      while (n.get() != last) { last = n.get(); Thread.sleep(200) }
      (r, last)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("overlay parity: graph equals the checkpointed, query-only and journal-folded graphs") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(linkModel))
    s1.batch((1 to 6).foreach(i => s1.createOrReplaceTwin(s"n$i", nodeDoc(s"n$i", i))))
    s1.createOrReplaceRelationship("n1", "e1", feeds("n2", 1))
    s1.createOrReplaceRelationship("n1", "e2", feeds("n3", 2))
    s1.createOrReplaceRelationship("n2", "e3", feeds("n3", 3))
    s1.checkpoint()
    // pre-session tail for the reopen: twin and relationship
    // create/patch/delete, and a key deleted then re-created in the tail
    s1.patchTwin("n2", setTemp(50))
    s1.patchRelationship("n2", "e3", """[{"op":"replace","path":"/weight","value":30}]""")
    s1.deleteRelationship("n1", "e2")
    s1.deleteTwin("n6")
    s1.createOrReplaceTwin("n7", nodeDoc("n7", 7))
    s1.deleteTwin("n7")
    s1.createOrReplaceTwin("n7", nodeDoc("n7", 77))
    s1.createOrReplaceRelationship("n3", "e4", feeds("n1", 4))

    // reopen with that tail, then session writes on top of it
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    s2.patchTwin("n3", setTemp(33))
    s2.deleteTwin("n5")
    s2.createOrReplaceTwin("n5", nodeDoc("n5", 55))
    s2.deleteRelationship("n1", "e1")
    s2.createOrReplaceRelationship("n1", "e1", feeds("n4", 11))
    s2.deleteRelationship("n3", "e4")
    // an unflushed batch tail is visible to graph before it reaches disk
    s2.batch {
      s2.createOrReplaceTwin("n8", nodeDoc("n8", 8))
      s2.patchTwin("n7", setTemp(70))
      val g = s2.graph
      val temps = g.twins.select(col("dt_id"),
          get_json_object(col("properties"), "$.temperature").cast("double"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(temps == Map("n1" -> 1.0, "n2" -> 50.0, "n3" -> 33.0, "n4" -> 4.0,
        "n5" -> 55.0, "n7" -> 70.0, "n8" -> 8.0))
    }
    val live = graphRows(s2.graph)
    assert(live._2.size == 2 && live._2.exists(_.contains("|e1|")) &&
      live._2.exists(r => r.contains("|e3|") && r.contains("\"weight\":30")), live._2)
    // the windowed journal fold time travel still uses is the reference
    assert(graphRows(s2.graphAt(Long.MaxValue)) == live)
    assert(graphRows(TableTwinStore.openQueryOnly(spark, dir, fixedClock()).graph) == live)
    s2.checkpoint()
    assert(graphRows(s2.graph) == live)
    assert(graphRows(TableTwinStore.openQueryOnly(spark, dir, fixedClock()).graph) == live)
    assert(graphRows(TableTwinStore.open(spark, dir, fixedClock()).graph) == live)
  }

  test("query-only open sees rows another store appended after it opened") {
    val dir = tempDir()
    val w = TableTwinStore.open(spark, dir, fixedClock())
    w.createModels(Seq(linkModel))
    w.createOrReplaceTwin("n1", nodeDoc("n1", 1))
    w.checkpoint()
    w.createOrReplaceTwin("n2", nodeDoc("n2", 2))
    val q = TableTwinStore.openQueryOnly(spark, dir, fixedClock())
    def ids() = q.graph.twins.select("dt_id").collect().map(_.getString(0)).toSet
    assert(ids() == Set("n1", "n2"))
    // an unchanged journal listing re-reads nothing
    assert(jobsOf(q.graph)._2 == 0)
    // a second writer instance appends after the query-only open
    val w2 = TableTwinStore.open(spark, dir, fixedClock())
    w2.createOrReplaceTwin("n3", nodeDoc("n3", 3))
    w2.deleteTwin("n1")
    w2.createOrReplaceRelationship("n2", "e1", feeds("n3", 1))
    assert(ids() == Set("n2", "n3"))
    assert(q.graph.relationships.count() == 1)
  }

  test("faults resolve keys whose latest pre-session event is an update or a delete") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(linkModel))
    s1.batch((1 to 4).foreach(i => s1.createOrReplaceTwin(s"n$i", nodeDoc(s"n$i", i))))
    s1.createOrReplaceRelationship("n1", "e1", feeds("n2", 1))
    s1.createOrReplaceRelationship("n1", "e2", feeds("n3", 2))
    s1.createOrReplaceRelationship("n4", "e3", feeds("n3", 3))
    s1.checkpoint()
    s1.patchTwin("n1", setTemp(10))
    s1.patchRelationship("n1", "e2", """[{"op":"replace","path":"/weight","value":20}]""")
    s1.deleteRelationship("n1", "e1")
    s1.deleteTwin("n2")
    s1.deleteRelationship("n4", "e3")
    s1.createOrReplaceTwin("n5", nodeDoc("n5", 5))

    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    assert(Json.get(s2.getTwin("n1"), "/temperature").get.asDouble() == 10.0)
    assert(intercept[StoreException](s2.getTwin("n2")).status == 404)
    assert(Json.get(s2.getTwin("n5"), "/temperature").get.asDouble() == 5.0)
    assert(Json.get(s2.getRelationship("n1", "e2"), "/weight").get.asInt() == 20)
    assert(intercept[StoreException](s2.getRelationship("n1", "e1")).status == 404)
    assert(s2.listRelationships("n1", None).map(_.get("$relationshipId").asText()) == Seq("e2"))
    assert(s2.listIncomingRelationships("n3").map(_.get("$relationshipId").asText()) == Seq("e2"))
    // the batch fault takes the same route: a tail-deleted key is free to
    // create, a tail-updated one keeps its patched state
    val res = s2.createOrReplaceTwins(Seq(nodeDoc("n2", 22)))
    assert(res.forall(_.isRight), res)
    assert(s2.twinIdsAfter(None, 10) == Seq("n1", "n2", "n3", "n4", "n5"))
  }

  test("after a write the graph plans read no journal file and run no window, at no job cost") {
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    s.createModels(Seq(linkModel))
    s.batch((1 to 4).foreach(i => s.createOrReplaceTwin(s"n$i", nodeDoc(s"n$i", i))))
    s.createOrReplaceRelationship("n1", "e1", feeds("n2", 1))
    s.checkpoint()
    s.graph // snapshot listing and point readers warm
    s.patchTwin("n1", setTemp(10))
    s.createOrReplaceRelationship("n2", "e2", feeds("n3", 2))
    val (g, jobs) = jobsOf(s.graph)
    assert(jobs == 0, s"graph refresh after a write ran $jobs Spark jobs")
    for (df <- Seq(g.twins, g.relationships)) {
      val plan = df.queryExecution.analyzed
      assert(plan.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
        .isEmpty, plan)
      assert(!df.inputFiles.exists(_.contains("/mutations/")), df.inputFiles.toSeq)
    }
    assert(g.twins.filter(col("dt_id") === "n1")
      .select(get_json_object(col("properties"), "$.temperature").cast("double"))
      .head().getDouble(0) == 10.0)
    assert(g.relationships.count() == 2)
  }

  test("writes after a log-trimming checkpoint are journaled exactly once") {
    val dir = tempDir()
    val s = TableTwinStore.open(spark, dir, fixedClock())
    s.createModels(Seq(linkModel))
    (1 to 3).foreach(i => s.createOrReplaceTwin(s"n$i", nodeDoc(s"n$i", i)))
    s.checkpoint()
    s.patchTwin("n1", setTemp(10))
    s.checkpoint()
    s.patchTwin("n2", setTemp(20))
    // the folds dropped the log prefix: the op since the last fold lands
    // once, and the overlay still sees it
    assert(s.mutationsDf.select("seq").collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(s.currentSeq == 5L)
    assert(s.graph.twins.filter(col("dt_id") === "n2")
      .select(get_json_object(col("properties"), "$.temperature").cast("double"))
      .head().getDouble(0) == 20.0)
  }
}
