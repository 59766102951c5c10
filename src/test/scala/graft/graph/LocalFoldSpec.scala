package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Parity spec for the maintainers' driver-local batch path
  * ([[IncrementalAnalytics.foldBatch]]). The degrees, components and k-core
  * maintainers each fold one multi-batch feed twice: under the default
  * cutoff (every batch takes the local fold) and with
  * `spark.graft.graph.localSolveMaxEdges=0` (every batch takes the
  * distributed fold). After every batch, the delta rows written for each
  * table (upserts and tombstones), the manifest and the assembled state
  * must be identical. The streaming specs run the local path, so this spec
  * is what keeps the distributed maintainer folds covered. */
class LocalFoldSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Knob = "spark.graft.graph.localSolveMaxEdges"

  /** 13 groups of four twins: a triangle n0→n1→n2→n0 plus a tail n2→n3.
    * Two ids are non-BMP / non-ASCII, where UTF-16 and UTF-8 orders
    * disagree (the component label is the UTF-8 minimum). */
  private def node(g: Int, n: Int): String = (g, n) match {
    case (0, 3) => "😀"
    case (1, 3) => "é"
    case _ => s"g${g}n$n"
  }
  private val baseRows: Seq[(String, String, String)] =
    (0 until 13).flatMap(g => Seq(
      (s"b${g}_0", node(g, 0), node(g, 1)), (s"b${g}_1", node(g, 1), node(g, 2)),
      (s"b${g}_2", node(g, 2), node(g, 0)), (s"b${g}_3", node(g, 2), node(g, 3))))

  private def rels(rows: Seq[(String, String, String)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.map { case (id, src, tgt) => (id, src, tgt, "link") }
      .toDF("relationship_id", "source_id", "target_id", "relationship_name")
  }

  /** One mutation: a relationship create/delete (`C`/`D` with id, source
    * and target) or a twin create/delete (`TC`/`TD` with the twin id). */
  private type Mut = (String, String, String, String)
  private def c(id: String, s: String, t: String): Mut = ("C", id, s, t)
  private def d(id: String, s: String, t: String): Mut = ("D", id, s, t)
  private def twin(kind: String, id: String): Mut = (kind, id, null, null)

  /** The feed: twin create and delete (DETACH'd), a flip-flop and a
    * parallel edge in one batch, an empty batch, enough small batches to
    * take every table's chain to [[IncrementalAnalytics]]' MaxChain (8),
    * and a last batch that merges eight components through sixteen
    * endpoints — a delta over the CompactFrac share of the base. */
  private val feed: Seq[Seq[Mut]] = Seq(
    Seq(twin("TC", "g13n0"), c("e1", "g13n0", node(0, 0)),
      d("b1_1", node(1, 1), node(1, 2))),
    Seq(c("ff", node(2, 3), node(3, 3)), d("ff", node(2, 3), node(3, 3)),
      c("par", node(4, 0), node(4, 1))),
    Seq(),
    Seq(d("b5_3", node(5, 2), node(5, 3)), twin("TD", node(5, 3))),
    Seq(c("e5", node(6, 3), node(6, 0))),
    Seq(d("b7_0", node(7, 0), node(7, 1))),
    Seq(c("e7", node(7, 0), node(7, 1))),
    Seq(c("e8", node(8, 3), node(9, 3))),
    Seq(d("e8", node(8, 3), node(9, 3))),
    Seq(c("e10", node(10, 1), node(10, 3)), c("e10b", node(10, 3), node(10, 0))),
    (0 until 8).map(g => c(s"m$g", node(g, 0), node((g + 1) % 8, 3))))

  /** Mutation-log rows (Tables.mutationsSchema) for one batch, read back
    * from parquet like the stream reads them, in session `ss`. */
  private def batchFrame(ss: SparkSession, dir: String, first: Long,
      ms: Seq[Mut]): DataFrame = {
    val rows = ms.zipWithIndex.map { case ((kind, id, s, t), i) =>
      val seq = first + i
      val ts = "2026-01-01T00:00:00Z"
      kind match {
        case "TC" => Row(seq, ts, "Twin", id, "TwinCreate", null,
          s"""{"$$dtId":"$id"}""")
        case "TD" => Row(seq, ts, "Twin", id, "TwinDelete",
          s"""{"$$dtId":"$id"}""", null)
        case _ =>
          val doc = s"""{"$$relationshipId":"$id","$$sourceId":"$s",""" +
            s""""$$targetId":"$t","$$relationshipName":"link"}"""
          if (kind == "C") Row(seq, ts, "Relationship", id,
            "RelationshipCreate", null, doc)
          else Row(seq, ts, "Relationship", id, "RelationshipDelete", doc, null)
      }
    }
    ss.createDataFrame(java.util.Arrays.asList(rows: _*),
        graft.core.Tables.mutationsSchema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    ss.read.schema(graft.core.Tables.mutationsSchema).parquet(dir)
  }

  /** The state committed as `v`, as written: every table's rows per
    * bucket and delta dir its manifest references, delta rows with their
    * tombstone flag. With equal manifests, equal snapshots hold the same
    * delta rows and assemble to the same tables. One Spark job per table. */
  private def snapshot(stateDir: String, v: Long): Seq[String] =
    StateStore.readManifest(stateDir, v).toSeq.sortBy(_._1).map { case (t, ts) =>
      val dirs = (ts.buckets.toSeq.map { case (b, o) =>
          s"$stateDir/v$o/$t/${StateStore.BucketCol}=$b"
        } ++ ts.chain.map(dv => s"$stateDir/v$dv/$t/delta"))
        .filter(new java.io.File(_).isDirectory)
      val rows = if (dirs.isEmpty) Nil else spark.read
        .schema(StateStore.tableSchema(stateDir, t)
          .add(StateStore.TombCol, org.apache.spark.sql.types.BooleanType))
        .parquet(dirs: _*)
        .withColumn("file", org.apache.spark.sql.functions.input_file_name())
        .collect().toSeq.map { r =>
          val f = r.getString(r.length - 1)
          f.substring(f.indexOf(stateDir) + stateDir.length + 1,
            f.lastIndexOf('/')) + " " +
            Row.fromSeq(r.toSeq.init)
        }
      s"$t ${rows.sorted.mkString("; ")}"
    }

  /** Fold the whole feed through `op` over a fresh state, in session `ss`
    * (its cutoff picks the path); returns every batch's snapshot, the
    * manifests from v0 on, and how many batches the local fold answered. */
  private def run(ss: SparkSession, op: IncrementalAnalytics.Maintainer,
      init: (String, DataFrame) => Unit)
      : (Seq[Seq[String]], Seq[StateStore.Manifest], Int) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-local-fold").toString
    val stateDir = s"$dir/state"
    new java.io.File(stateDir).mkdirs()
    init(stateDir, rels(baseRows))
    var hits = 0
    val counted = new IncrementalAnalytics.Maintainer(op.tables,
      op.local.map(f => (lc, b) => {
        val r = f(lc, b); if (r.isDefined) hits += 1; r
      }))(op.fold)
    val firstSeq = feed.scanLeft(1L)(_ + _.size)
    val out = feed.indices.map { i =>
      IncrementalAnalytics.foldBatch(stateDir, counted,
        batchFrame(ss, s"$dir/batch$i", firstSeq(i), feed(i)), i.toLong)
      assert(StateStore.readPointer(stateDir) == i + 1L)
      (snapshot(stateDir, i + 1L),
        StateStore.readManifest(stateDir, i + 1L))
    }
    (out.map(_._1), StateStore.readManifest(stateDir, 0L) +: out.map(_._2),
      hits)
  }

  private def twinsOf(r: DataFrame): DataFrame =
    r.select(col("source_id").as("dt_id"))
      .unionByName(r.select(col("target_id").as("dt_id"))).distinct()

  private val maintainers
      : Seq[(String, IncrementalAnalytics.Maintainer, (String, DataFrame) => Unit)] =
    Seq(
      ("degrees", IncrementalAnalytics.Maintainer.degrees, (dir, base) =>
        IncrementalAnalytics.initDegreesState(dir,
          TwinGraph(twinsOf(base), base, spark.emptyDataFrame).degrees(), base)),
      ("components", IncrementalAnalytics.Maintainer.components, (dir, base) =>
        IncrementalAnalytics.initComponentsState(dir,
          TwinGraph(twinsOf(base), base, spark.emptyDataFrame).components(),
          base)),
      ("k-core", IncrementalAnalytics.Maintainer.kcore(2), (dir, base) =>
        IncrementalAnalytics.initKcoreState(dir,
          KCore.kcore(base, "source_id", "target_id", 2), base)))

  test("degrees, components and k-core: the local and distributed folds write the same deltas") {
    // the distributed runs use their own session at cutoff 0, so all six
    // runs go side by side with no shared conf flip
    val dist = spark.newSession()
    dist.conf.set(Knob, "0")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val runs = try {
      val fs = for ((_, op, init) <- maintainers; ss <- Seq(spark, dist))
        yield scala.concurrent.Future(run(ss, op, init))
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration(20, "min"))
    } finally pool.shutdown()
    val max = IncrementalAnalytics.StateCommit.MaxChain
    for (((name, _, _), m) <- maintainers.zipWithIndex) {
      val (lSnaps, lMans, lHits) = runs(2 * m)
      val (dSnaps, dMans, dHits) = runs(2 * m + 1)
      assert(lHits == feed.size, s"$name: every batch should take the local fold")
      assert(dHits == 0, s"$name: cutoff 0 must take the distributed fold")
      for (i <- feed.indices) {
        lSnaps(i).zip(dSnaps(i)).foreach { case (a, b) =>
          assert(a == b, s"$name batch $i: the local and distributed folds " +
            s"differ\nlocal: $a\ndist:  $b")
        }
        assert(lMans(i + 1) == dMans(i + 1), s"$name batch $i: manifests differ")
      }
      // the feed folds a chain back into the buckets at MaxChain, and a
      // delta at once (CompactFrac): chain length before each compaction
      val folds = for {
        i <- feed.indices
        (t, ts) <- lMans(i + 1)
        if ts.chain.isEmpty && ts.buckets != lMans(i)(t).buckets
      } yield lMans(i)(t).chain.size
      assert(folds.contains(max - 1), s"$name: no chain reached MaxChain: $folds")
      assert(folds.exists(_ < max - 1), s"$name: no delta over CompactFrac: $folds")
    }
  }

  /** The state a maintainer holds over `edges` ((source, target) pairs)
    * and `twins`, recomputed on the driver: degrees per twin, the
    * UTF-8-least member of each node's undirected component, or the nodes
    * of the 2-core. */
  private def recompute(name: String, edges: Iterable[(String, String)],
      twins: Set[String]): Set[Row] = name match {
    case "degrees" => twins.map { n =>
      val out = edges.count(_._1 == n).toLong
      val in = edges.count(_._2 == n).toLong
      Row(n, out, in, out + in)
    }
    case "components" =>
      val parent = scala.collection.mutable.Map[String, String]()
      def find(x: String): String = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (LocalGraph.utf8Lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      // a relationship's endpoints are labelled even when the twin is gone
      (twins ++ edges.flatMap(e => Seq(e._1, e._2))).map(n => Row(n, find(n)))
    case _ =>
      var nbrs = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).groupBy(_._1)
        .map { case (n, es) => n -> es.map(_._2).toSet }
      var peel = nbrs.collect { case (n, ns) if ns.size < 2 => n }.toSet
      while (peel.nonEmpty) {
        nbrs = (nbrs -- peel).map { case (n, ns) => n -> (ns -- peel) }
        peel = nbrs.collect { case (n, ns) if ns.size < 2 => n }.toSet
      }
      nbrs.keySet.map(Row(_))
  }

  test("local and distributed batches alternate on one state dir and read each other's deltas") {
    val dist = spark.newSession()
    dist.conf.set(Knob, "0")
    val max = IncrementalAnalytics.StateCommit.MaxChain
    assert(feed.size > max)
    val firstSeq = feed.scanLeft(1L)(_ + _.size)
    for (((name, op, init), table) <-
        maintainers.zip(Seq("degrees", "components", "kcore"))) {
      val dir = java.nio.file.Files.createTempDirectory("graft-mixed").toString
      val stateDir = s"$dir/state"
      new java.io.File(stateDir).mkdirs()
      init(stateDir, rels(baseRows))
      var hits = 0
      val counted = new IncrementalAnalytics.Maintainer(op.tables,
        op.local.map(f => (lc, b) => {
          val r = f(lc, b); if (r.isDefined) hits += 1; r
        }))(op.fold)
      // relationship (source, id) -> (source, target), and the twins
      var edges = baseRows.map { case (id, s, t) => (s, id) -> (s, t) }.toMap
      var twins = baseRows.flatMap(r => Seq(r._2, r._3)).toSet
      val mans = feed.indices.map { i =>
        // even batches fold on the driver, odd ones through Spark
        val ss = if (i % 2 == 0) spark else dist
        IncrementalAnalytics.foldBatch(stateDir, counted,
          batchFrame(ss, s"$dir/batch$i", firstSeq(i), feed(i)), i.toLong)
        feed(i).foreach {
          case ("C", id, s, t) => edges += (s, id) -> (s, t)
          case ("D", id, s, _) => edges -= ((s, id))
          case ("TC", id, _, _) => twins += id
          case (_, id, _, _) => twins -= id
        }
        val got = IncrementalAnalytics.current(spark, stateDir, table)
          .collect().toSet
        val want = recompute(name, edges.values, twins)
        assert(got == want, s"$name batch $i: state != recompute\n" +
          s"extra: ${got -- want}\nmissing: ${want -- got}")
        val deltas = new java.io.File(s"$stateDir/v${i + 1}/rels/delta")
        if (deltas.isDirectory) {
          val files = deltas.list().filterNot(_.startsWith(".")).toSet
          assert(files.contains("_SUCCESS") != (i % 2 == 0),
            s"$name batch $i: rels delta holds $files")
        }
        StateStore.readManifest(stateDir, i + 1L)
      }
      assert(hits == (feed.size + 1) / 2,
        s"$name: $hits local batches, want every even one")
      // chains grew across both writers until they folded into buckets
      val mans0 = StateStore.readManifest(stateDir, 0L) +: mans
      val folds = for {
        i <- feed.indices
        (t, ts) <- mans0(i + 1)
        if ts.chain.isEmpty && ts.buckets != mans0(i)(t).buckets
      } yield mans0(i)(t).chain.size
      assert(folds.contains(max - 1), s"$name: no chain reached MaxChain: $folds")
    }
  }

  test("the driver-side bucket id equals StateStore.bucketOf") {
    val rnd = new scala.util.Random(7)
    val keys = Seq("", "😀", "�", "é", "a😀b", "\u0000") ++
      Seq.fill(200)(rnd.nextString(rnd.nextInt(12))) ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(20))(
        (32 + rnd.nextInt(95)).toChar).mkString)
    val s = spark; import s.implicits._
    for (k <- Seq(1, 7, 16)) {
      val want = keys.toDF("key")
        .select(org.apache.spark.sql.functions.col("key"),
          StateStore.bucketOf(org.apache.spark.sql.functions.col("key"), k))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      keys.foreach(key => assert(StateStore.bucketOfKey(key, k) == want(key),
        s"bucket of ${key.codePoints().toArray.mkString(",")} at k=$k"))
    }
  }

  /** Spark jobs started while `f` runs (listener events arrive
    * asynchronously, so wait for the count to settle). */
  private def jobsOf(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      var last = -1
      while (n.get() != last) { last = n.get(); Thread.sleep(200) }
      last
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a local batch runs a handful of Spark jobs per maintainer") {
    // one batch: a triangle edge deleted — well under every table's
    // CompactFrac share, so no compaction runs
    val ms = Seq(d("b3_1", node(3, 1), node(3, 2)))
    for ((name, op, init) <- maintainers) {
      val dir = java.nio.file.Files.createTempDirectory("graft-local-jobs").toString
      val stateDir = s"$dir/state"
      new java.io.File(stateDir).mkdirs()
      init(stateDir, rels(baseRows))
      val batch = batchFrame(spark, s"$dir/batch", 1L, ms)
      val jobs = jobsOf(IncrementalAnalytics.foldBatch(stateDir, op, batch, 0L))
      assert(StateStore.readManifest(stateDir, 1L).values
        .forall(_.chain.size == 1), s"$name: a table compacted")
      // the bounded batch collect; state reads and delta writes run on
      // the driver
      assert(jobs == 1, s"$name: a local batch ran $jobs Spark jobs")
    }
  }

  test("a distributed batch leaves only its parked state reads, which the next commit frees") {
    val dist = spark.newSession()
    dist.conf.set(Knob, "0")
    // a triangle edge deleted and two groups merged: every maintainer's
    // distributed fold recomputes a region
    val ms = Seq(d("b3_1", node(3, 1), node(3, 2)), c("e9", node(9, 0), node(11, 2)))
    for ((name, op, init) <- maintainers) {
      val dir = java.nio.file.Files.createTempDirectory("graft-dist-leak").toString
      val stateDir = s"$dir/state"
      new java.io.File(stateDir).mkdirs()
      init(stateDir, rels(baseRows))
      val batch = batchFrame(dist, s"$dir/batch", 1L, ms)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      IncrementalAnalytics.foldBatch(stateDir, op, batch, 0L)
      assert(StateStore.readPointer(stateDir) == 1L)
      // the next batch's StateCommit releases the parked folded reads
      graft.core.Blocks.scoped(s =>
        new IncrementalAnalytics.StateCommit(dist, stateDir, 2L, s))
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        s"$name: the distributed batch left a persisted RDD")
    }
  }
}
