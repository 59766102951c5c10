package graft.store

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.json.Json

/** Driver-side point-read path (r17): fault-ins must serve from parquet
  * footers with NO Spark job, answer exactly what the Spark probe
  * answered, and rebuild when the snapshot pointer moves. */
class PointReaderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-pointreader").toString

  private val model =
    """{"@id":"dtmi:pr:Thing;1","@type":"Interface","contents":[
      |{"@type":"Property","name":"n","schema":"double"},
      |{"@type":"Relationship","name":"links"}]}""".stripMargin
  private def doc(id: String, n: Int) =
    s"""{"$$dtId":"$id","$$metadata":{"$$model":"dtmi:pr:Thing;1"},"n":$n}"""
  private def relDoc(rid: String, src: String, tgt: String) =
    s"""{"$$relationshipId":"$rid","$$sourceId":"$src","$$targetId":"$tgt",""" +
      s""""$$relationshipName":"links"}"""

  private def fixedClock(): () => String = {
    var t = 0
    () => { t += 1; f"2026-01-01T00:00:${t % 60}%02dZ" }
  }

  private def jobsRun(body: => Unit): Int = {
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    body
    spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - before
  }

  test("point reads serve from the snapshot without a Spark job") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(model))
    (1 to 200).foreach(i => s1.createOrReplaceTwin(f"t$i%03d", doc(f"t$i%03d", i)))
    s1.createOrReplaceRelationship("t001", "r1", relDoc("r1", "t001", "t002"))
    s1.checkpoint() // snapshot v1

    // fresh lazy open: every key is unfaulted, so each read exercises the
    // snapshot path — with the point reader, zero Spark jobs
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    var twinDoc: com.fasterxml.jackson.databind.JsonNode = null
    val jobs = jobsRun { twinDoc = s2.getTwin("t042") }
    assert(Json.get(twinDoc, "/n").get.asDouble() == 42.0)
    assert(jobs == 0, s"getTwin launched $jobs Spark job(s); the point " +
      "reader must serve from parquet footers on the driver")
    val relJobs = jobsRun {
      val r = s2.getRelationship("t001", "r1")
      assert(Json.get(r, "/$targetId").get.asText() == "t002")
    }
    assert(relJobs == 0, s"getRelationship launched $relJobs Spark job(s)")
    // missing key answers the proper 404 through the same path
    assert(intercept[StoreException](s2.getTwin("nope")).status == 404)

    // parity with a Spark read of the pinned snapshot, which runs jobs
    import org.apache.spark.sql.functions.col
    var snapRows: Array[org.apache.spark.sql.Row] = null
    val scanJobs = jobsRun {
      snapRows = spark.read.parquet(s"$dir/v1/twins")
        .filter(col("dt_id") === "t042").select(col("properties")).collect()
    }
    assert(scanJobs > 0, "the Spark read of the snapshot should run a job")
    assert(snapRows.length == 1)
    assert(Json.parse(snapRows.head.getString(0)).toString == twinDoc.toString)
  }

  test("a snapshot pointer move invalidates the reader") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(model))
    s1.createOrReplaceTwin("a1", doc("a1", 1))
    s1.checkpoint() // v1
    // a fresh twin journals past v1, then a second checkpoint folds it
    // into v2 — the same store handle must serve it through the REBUILT
    // reader (the v1 reader has no a2)
    s1.createOrReplaceTwin("a2", doc("a2", 2))
    s1.checkpoint() // v2
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    assert(Json.get(s2.getTwin("a2"), "/n").get.asDouble() == 2.0)
    assert(Json.get(s2.getTwin("a1"), "/n").get.asDouble() == 1.0)
  }

  test("supplementary-plane ids round-trip through snapshot + point read") {
    // ADVICE r17: parquet UTF8 stats order by unsigned UTF-8 bytes; Java
    // String order differs for supplementary-plane chars (surrogates
    // D800-DFFF sort below E000-FFFF in UTF-16 but encode 0xF0.. > 0xEE..
    // in UTF-8). A String-order file/row-group prune would wrongly skip a
    // covering file and the read would silently 404. Mix BMP private-use
    // ids (U+E000 range) with supplementary-plane ids (U+1F600) so the
    // two orders actually disagree on this fixture.
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(model))
    val ids = Seq("a-plain", "zpua", "z😀emoji",
      "z�repl", "z𐀀minsupp") ++
      (1 to 60).map(i => f"pad$i%03d")
    def esc(s: String) = s.flatMap {
      case c if c >= 0x20 && c < 0x7f && c != '"' && c != '\\' => c.toString
      case c => f"\\u${c.toInt}%04x"
    }
    ids.zipWithIndex.foreach { case (id, i) =>
      s1.createOrReplaceTwin(id,
        s"""{"$$dtId":"${esc(id)}","$$metadata":{"$$model":"dtmi:pr:Thing;1"},"n":$i}""")
    }
    s1.checkpoint()
    val s2 = TableTwinStore.open(spark, dir, fixedClock())
    ids.zipWithIndex.foreach { case (id, i) =>
      val d = s2.getTwin(id)
      assert(Json.get(d, "/n").get.asInt() == i, s"wrong doc for id [$id]")
    }
  }

  test("preloaded page indexes serve the same answers, idempotently") {
    // r19: the serving store preloads every (file, row-group) key page
    // index at reader construction so cold lookups skip the
    // per-row-group index reads. Preload must be idempotent and must not change any lookup answer — hit, miss, or
    // page-coverage count.
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(model))
    (1 to 80).foreach(i => s1.createOrReplaceTwin(f"p$i%03d", doc(f"p$i%03d", i)))
    s1.checkpoint()
    val hc = spark.sparkContext.hadoopConfiguration
    val plain = new PointReader(hc, s"$dir/v1/twins", Seq("dt_id"), "properties")
    val pre = new PointReader(hc, s"$dir/v1/twins", Seq("dt_id"), "properties")
    pre.preloadPageIndexes()
    pre.preloadPageIndexes() // idempotent: second call is a cache no-op
    try {
      (1 to 80 by 7).foreach { i =>
        val id = f"p$i%03d"
        assert(pre.lookup(Seq(id)) == plain.lookup(Seq(id)),
          s"preloaded reader diverged on $id")
      }
      assert(pre.lookup(Seq("absent")).isEmpty)
      assert(pre.pagesCovering("p040") == plain.pagesCovering("p040"))
    } finally { plain.close(); pre.close() }
  }

  test("footer ranges prune candidate files") {
    val dir = tempDir()
    val s1 = TableTwinStore.open(spark, dir, fixedClock())
    s1.createModels(Seq(model))
    (1 to 50).foreach(i => s1.createOrReplaceTwin(f"k$i%03d", doc(f"k$i%03d", i)))
    s1.checkpoint()
    val hc = spark.sparkContext.hadoopConfiguration
    // v1 snapshot lives under dir/v1/twins
    val pr = new PointReader(hc, s"$dir/v1/twins", Seq("dt_id"), "properties")
    assert(pr.lookup(Seq("k025")).size == 1)
    assert(pr.lookup(Seq("zzz")).isEmpty)
    // a key outside every file's [min,max] opens no file at all
    assert(pr.candidateFiles("zzz") == 0)
    assert(pr.candidateFiles("k025") >= 1)
    // the layout is globally key-sorted per file, so a point key falls
    // inside exactly ONE page — this is the guard against the
    // partitionBy-writer re-sort that interleaved 32 sorted runs per
    // file (every lookup then decoded 32 pages)
    assert(pr.pagesCovering("k025") == 1,
      s"k025 covered by ${pr.pagesCovering("k025")} pages; snapshot " +
        "files are not globally key-sorted")
  }
}
