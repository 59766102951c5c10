package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity spec for the driver-local bottom-outs ([[LocalGraph]]): every
  * operator that can solve a sub-cutoff subproblem serially must produce
  * BIT-IDENTICAL output to its distributed fixpoint. Each fixture runs
  * twice — once under the default cutoff (local path) and once with
  * `spark.graft.graph.localSolveMaxEdges=0` (fully distributed) — and the
  * row sets must match exactly. Fixtures include seeded pseudo-random
  * graphs and node ids with non-BMP code points, where Java's UTF-16
  * `String.compareTo` disagrees with Spark's unsigned-UTF-8 `min` order
  * (the exact trap [[LocalGraph.utf8Lt]] exists to avoid). */
class LocalGraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Knob = "spark.graft.graph.localSolveMaxEdges"

  /** Run `body` once on the local path (default cutoff) and once fully
    * distributed (cutoff 0); return both results. */
  private def bothPaths[A](body: => A): (A, A) = {
    spark.conf.unset(Knob)
    val local = body
    spark.conf.set(Knob, "0")
    try { val dist = body; (local, dist) }
    finally spark.conf.unset(Knob)
  }

  // non-BMP / boundary ids: U+E000 (UTF-8 EE 80 80), U+FFFD (EF BF BD) and
  // U+1F600 (F0 9F 98 80) order differently in UTF-16 code units
  // (surrogate D83D sorts first) than in UTF-8 bytes (F0 sorts last)
  private val Tricky = Seq("a", "Z", "", "�", "😀", "é")

  private def strEdges(rows: Seq[(String, String)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("src", "dst")
  }

  /** Seeded pseudo-random digraph over n nodes with ~density·n² edges —
    * arithmetic hash, no RNG, so both paths see the identical input. */
  private def randomDigraph(n: Int, seed: Int,
      names: Int => String): Seq[(String, String)] =
    for {
      i <- 0 until n; j <- 0 until n if i != j
      h = (i * 31 + j * 17 + seed * 7 + (i * j) % 13) % 9
      if h == 0
    } yield (names(i), names(j))

  test("utf8Lt matches Spark's StringType min on non-BMP strings") {
    val s = spark; import s.implicits._
    for (x <- Tricky; y <- Tricky if x != y) {
      val sparkMin = Seq(x, y).toDF("v").agg(min(col("v")))
        .collect()(0).getString(0)
      val localMin = if (LocalGraph.utf8Lt(x, y)) x else y
      assert(localMin == sparkMin,
        s"utf8Lt disagrees with Spark min on ${x.codePoints().toArray.toSeq} " +
          s"vs ${y.codePoints().toArray.toSeq}")
    }
    // and the UTF-16 order genuinely differs on the astral pair, so this
    // test would catch a regression to String.compareTo
    assert("😀".compareTo("�") < 0 &&
      LocalGraph.utf8Lt("�", "😀"))
  }

  test("SCC labels: local Tarjan == distributed FW-BW on random digraphs") {
    for (seed <- 1 to 3) {
      val rows = randomDigraph(14, seed,
        i => if (i < Tricky.size) Tricky(i) else f"n$i%02d")
      val (local, dist) = bothPaths {
        Scc.components(strEdges(rows)).collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
      }
      assert(local == dist, s"seed $seed")
    }
  }

  test("components: local union-find == distributed stars, string keys") {
    val s = spark; import s.implicits._
    for (seed <- 1 to 3) {
      val rows = randomDigraph(12, seed,
        i => if (i < Tricky.size) Tricky(i) else f"d$i%02d")
      val pairs = rows.toDF("doc_a", "doc_b")
      val (local, dist) = bothPaths {
        graft.pipeline.Dedup.components(pairs).collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
      }
      assert(local == dist, s"seed $seed")
    }
  }

  test("components: local union-find == distributed stars, long keys") {
    val s = spark; import s.implicits._
    val rows = randomDigraph(16, 5, _.toString).map {
      case (a, b) => (a.toLong * 7 % 17, b.toLong * 7 % 17)
    }.filter(p => p._1 != p._2)
    val pairs = rows.toDF("doc_a", "doc_b")
    val (local, dist) = bothPaths {
      graft.pipeline.Dedup.components(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(local == dist)
  }

  test("k-core peel: local == distributed, bounded and exact forms") {
    for (seed <- 1 to 2; k <- Seq(2, 3)) {
      val rows = randomDigraph(15, seed, i => f"v$i%02d")
      val (local, dist) = bothPaths {
        (KCore.peel(strEdges(rows), "src", "dst", k, rounds = 3).collect()
           .map(_.getString(0)).toSet,
         KCore.kcore(strEdges(rows), "src", "dst", k).collect()
           .map(_.getString(0)).toSet)
      }
      assert(local == dist, s"seed $seed k $k")
    }
  }

  test("k-truss peel: local == distributed") {
    for (seed <- 1 to 2) {
      val rows = randomDigraph(13, seed, i => f"t$i%02d")
      val (local, dist) = bothPaths {
        KTruss.peel(strEdges(rows), k = 3, rounds = 3).collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
      }
      assert(local == dist, s"seed $seed")
    }
  }

  test("reachClosure: local BFS == distributed frontier loop") {
    val s = spark; import s.implicits._
    val rows = randomDigraph(14, 9, i => f"r$i%02d")
    val e = rows.toDF("u", "v").localCheckpoint(true)
    val seeds = Seq("r00", "r03").toDF("node").localCheckpoint(true)
    val (local, dist) = bothPaths {
      IncrementalAnalytics.reachClosure(e, seeds, 50, "spec")
        .collect().map(_.getString(0)).toSet
    }
    assert(local == dist)
  }

  test("binary key columns refuse the local path (reference equality)") {
    val s = spark; import s.implicits._
    val df = Seq(("x", "y")).toDF("a", "b")
      .select(encode(col("a"), "UTF-8").as("a"), encode(col("b"), "UTF-8").as("b"))
      .localCheckpoint(true)
    assert(LocalGraph.collectEdgesAny(df, 1000L).isEmpty)
  }

  test("kcoreSurvivors/ktrussSurvivors match the synchronous round rule") {
    // triangle + pendant: k=2 peel drops the pendant in round 1, keeps
    // the triangle forever — fixpoint after 1 round
    val sym: Array[(AnyRef, AnyRef)] = Array(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("a", "c"), ("c", "a"), ("c", "d"), ("d", "c"))
      .map { case (x, y) => (x: AnyRef, y: AnyRef) }
    assert(LocalGraph.kcoreSurvivors(sym, 2, 10).toSet ==
      Set[AnyRef]("a", "b", "c"))
    val canon: Array[(AnyRef, AnyRef)] = Array(
      ("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"))
      .map { case (x, y) => (x: AnyRef, y: AnyRef) }
    assert(LocalGraph.ktrussSurvivors(canon, 3, 10).toSet ==
      Set[(AnyRef, AnyRef)](("a", "b"), ("a", "c"), ("b", "c")))
  }

  /** Relationship frame over `rows` plus two self-loops and three
    * duplicated edges — inputs the fixpoints must deduplicate. */
  private def rels(rows: Seq[(String, String)]): DataFrame = {
    val s = spark; import s.implicits._
    (rows ++ rows.take(3) ++ Seq((rows.head._1, rows.head._1),
      (rows.last._2, rows.last._2))).toDF("source_id", "target_id")
  }

  private def trickyDigraph(seed: Int, n: Int = 14) = randomDigraph(n, seed,
    i => if (i < Tricky.size) Tricky(i) else f"p$i%02d")

  /** True when `df` is a driver-side result: a local relation, no
    * checkpoint blocks. */
  private def isLocal(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    plan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]) &&
      !plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
  }

  test("PageRank ranks and every ranksHistory round: local == distributed") {
    for (seed <- 1 to 2) {
      val r = rels(trickyDigraph(seed))
      val (local, dist) = bothPaths {
        (PageRank.ranks(r, 3).collect().map(x => (x.getString(0), x.getLong(1))).toSet,
         PageRank.ranksHistory(r, 3).map(_.collect()
           .map(x => (x.getString(0), x.getLong(1))).toSet))
      }
      assert(local == dist, s"seed $seed")
    }
  }

  test("label propagation communities and every round: local == distributed") {
    for (seed <- 1 to 2) {
      val r = rels(trickyDigraph(seed))
      val (local, dist) = bothPaths {
        (LabelPropagation.communities(r, 3).collect()
           .map(x => (x.getString(0), x.getLong(1))).toSet,
         LabelPropagation.communitiesHistory(r, 3).map(_.collect()
           .map(x => (x.getString(0), x.getLong(1))).toSet))
      }
      assert(local == dist, s"seed $seed")
    }
  }

  test("k-core with self-loops, duplicates and non-BMP ids: local == distributed") {
    val r = rels(trickyDigraph(3))
    for (k <- Seq(2, 3)) {
      val (local, dist) = bothPaths {
        (KCore.peel(r, "source_id", "target_id", k, rounds = 2).collect()
           .map(_.getString(0)).toSet,
         KCore.kcore(r, "source_id", "target_id", k).collect()
           .map(_.getString(0)).toSet)
      }
      assert(local == dist, s"k $k")
    }
  }

  test("the cutoff counts collected rows: k-core and LPA solve locally when the pairs fit") {
    // the symmetric sets (what the distributed loops read) hold about
    // twice the collected pairs, so a cutoff of exactly the pair count
    // must still take the local path
    val rows = trickyDigraph(2)
    val r = rels(rows)
    val directed = r.distinct().count()
    val canon = rows.map { case (a, b) =>
      if (LocalGraph.utf8Lt(a, b)) (a, b) else (b, a) }.distinct.size.toLong
    def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).toSet
    try {
      spark.conf.set(Knob, "0")
      val kDist = rowsOf(KCore.kcore(r, "source_id", "target_id", 2))
      val lDist = rowsOf(LabelPropagation.communities(r, 2))
      spark.conf.set(Knob, canon.toString)
      val kc = KCore.kcore(r, "source_id", "target_id", 2)
      assert(isLocal(kc) && rowsOf(kc) == kDist)
      spark.conf.set(Knob, directed.toString)
      val lp = LabelPropagation.communities(r, 2)
      assert(isLocal(lp) && rowsOf(lp) == lDist)
      spark.conf.set(Knob, (directed - 1).toString)
      val lpDeclined = LabelPropagation.communities(r, 2)
      assert(!isLocal(lpDeclined) && rowsOf(lpDeclined) == lDist)
    } finally spark.conf.unset(Knob)
  }

  test("Vle.reachability BFS regime: local == distributed, metrics included") {
    val s = spark; import s.implicits._
    // a ring through the seed "a" (a reaches itself at depth 4) plus the
    // random digraph, two relationship names
    val ring = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("d", "e"))
    val rows = (ring ++ trickyDigraph(4, 12)).zipWithIndex.map {
      case ((x, y), i) => (x, y, if (i % 4 == 3) "r2" else "r1") }
    val g = (rows ++ rows.take(2) :+ (("e", "e", "r1")))
      .toDF("source_id", "target_id", "relationship_name")
    val seedFrame = Seq("a", "p07", "p07", "nowhere").toDF("id")
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "ids" -> (() => Vle.reachability(g, maxIter = 4,
        sourceIds = Some(Seq("a", "p05")))),
      "frame" -> (() => Vle.reachability(g, maxIter = 6,
        sourceDf = Some(seedFrame))),
      "ids+frame, one name" -> (() => Vle.reachability(g, Seq("r1"),
        maxIter = 6, sourceIds = Some(Seq("a", "p07")),
        sourceDf = Some(seedFrame))),
      "unseeded" -> (() => Vle.reachability(g, maxIter = 4)),
      "to fixpoint" -> (() => Vle.reachability(g, maxIter = Int.MaxValue,
        sourceIds = Some(Seq("a")))))
    for ((name, run) <- cases) {
      val (local, dist) = bothPaths {
        val m = new Vle.Metrics
        val out = Vle.withMetrics(m)(run()).collect()
          .map(x => (x.getString(0), x.getString(1), x.getInt(2)))
        (out.toSet, out.length, m.iterations, m.frontierPeak)
      }
      assert(local == dist, name)
    }
    val (aRing, _) = bothPaths(Vle.reachability(g, maxIter = 6,
      sourceIds = Some(Seq("a"))).collect().map(_.getString(1)).toSet)
    assert(aRing.contains("a"), "a cycle leads back to the seed")
  }

  /** Spark jobs (or, with `stages`, stages actually run — a stage whose
    * shuffle output is reused is skipped, not submitted) started while
    * `f` runs; the listener bus delivers asynchronously, so wait for the
    * count to settle. */
  private def jobsOf(f: => Unit, stages: Boolean = false): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (!stages) n.incrementAndGet(): Unit
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (stages) n.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      var last = -1
      while (n.get() != last) { last = n.get(); Thread.sleep(200) }
      last
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def pinFixpoints(r: DataFrame): Seq[(String, () => DataFrame)] = {
    val pairs = r.select(col("source_id").as("doc_a"), col("target_id").as("doc_b"))
    Seq(
      "pagerank" -> (() => PageRank.ranks(r, 2)),
      "lpa" -> (() => LabelPropagation.communities(r, 2)),
      "kcore" -> (() => KCore.kcore(r, "source_id", "target_id", 2)),
      "vle" -> (() => Vle.reachability(r, maxIter = 6,
        sourceIds = Some(Seq("j00", "j03")))),
      "wcc" -> (() => graft.pipeline.Dedup.components(pairs)),
      "scc" -> (() => Scc.components(r.select(col("source_id").as("src"),
        col("target_id").as("dst")))))
  }

  /** The distributed-only loops and regimes beyond [[pinFixpoints]]. */
  private def pinDistributed(r: DataFrame): Seq[(String, () => DataFrame)] = {
    val withIds = r.withColumn("relationship_id",
      concat_ws(":", col("source_id"), col("target_id")))
    val sd = r.select(col("source_id").as("src"), col("target_id").as("dst"))
    val seeds = Some(Seq("j00", "j03"))
    Seq(
      "hits" -> (() => Hits.scores(r, 2)),
      "sssp" -> (() => Sssp.distances(withIds, "j00", 3)),
      "mis" -> (() => Mis.independentSet(sd)),
      "wpagerank" -> (() => PageRank.weightedRanks(withIds, 2)),
      "ppr" -> (() => PageRank.personalizedRanks(r, Seq("j00", "j03"), 2)),
      "ktruss" -> (() => KTruss.peel(sd, 3, 2)),
      "betweenness" -> (() => Betweenness.centrality(r, Seq("j00", "j03"))),
      "randomwalk" -> (() => RandomWalk.walks(r, 3)),
      "vle range" -> (() => Vle.range(r, 2, 4, sourceIds = seeds)),
      "vle trails" -> (() => Vle.trails(r, 1, 3, sourceIds = seeds)),
      "vle shortest" -> (() => Vle.shortestPaths(r, 1, 3, sourceIds = seeds)),
      "reach" -> (() => IncrementalAnalytics.reachClosure(
        r.select(col("source_id").as("u"), col("target_id").as("v")),
        r.select(col("source_id").as("node")).filter(col("node") === "j00"),
        50, "pin")))
  }

  test("a local fixpoint runs a handful of Spark jobs and persists nothing") {
    val r = rels(randomDigraph(12, 6, i => f"j$i%02d")).localCheckpoint(true)
    try {
      spark.conf.set(Knob, "100000")
      for ((name, run) <- pinFixpoints(r)) {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val jobs = jobsOf(run().collect(): Unit)
        assert(jobs <= 4, s"$name ran $jobs jobs")
        assert(spark.sparkContext.getPersistentRDDs.keySet == before,
          s"$name left a persisted RDD")
      }
    } finally spark.conf.unset(Knob)
    graft.core.Blocks.free(r)
  }

  test("a declined probe reuses its work: at most one stage over the distributed path") {
    // the probe of a distinct plan runs its shuffle-map stage; the decline
    // path's checkpoint must re-read that output (a persisted probe input),
    // not run the stage again
    val r = rels(randomDigraph(12, 6, i => f"j$i%02d"))
    def stagesAt(cutoff: String, name: String, run: () => DataFrame): Int = {
      spark.conf.set(Knob, cutoff)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      var out: DataFrame = null
      val n = jobsOf({ out = run(); out.collect(): Unit }, stages = true)
      graft.core.Blocks.free(out) // the distributed result is a checkpoint
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        s"$name left a persisted RDD at cutoff $cutoff")
      n
    }
    try {
      for ((name, run) <- pinFixpoints(r) ++ pinDistributed(r)) {
        val dist = stagesAt("0", name, run)
        val declined = stagesAt("3", name, run)
        assert(declined <= dist + 1, s"$name: $declined stages declined, $dist distributed")
      }
    } finally spark.conf.unset(Knob)
  }

  test("every distributed loop at cutoff 0 frees what it makes and runs its pinned jobs") {
    val r = rels(randomDigraph(12, 6, i => f"j$i%02d"))
    // Spark jobs per entry on this fixture. Releasing blocks runs no job,
    // so the checkpoint scope leaves these counts as the loops had them.
    // Some counts vary run to run on the same code (SCC 130–132, WCC
    // 49–50 seen), so each is pinned to within 2 jobs of that count.
    val pinned = Map("pagerank" -> 18, "lpa" -> 14, "kcore" -> 22, "vle" -> 15,
      "wcc" -> 49, "scc" -> 131, "hits" -> 36, "sssp" -> 13, "mis" -> 17,
      "wpagerank" -> 18, "ppr" -> 20, "ktruss" -> 13, "betweenness" -> 103,
      "randomwalk" -> 18, "vle range" -> 46, "vle trails" -> 16,
      "vle shortest" -> 17, "reach" -> 18)
    spark.conf.set(Knob, "0")
    try for ((name, run) <- pinFixpoints(r) ++ pinDistributed(r)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      var out: DataFrame = null
      val jobs = jobsOf { out = run(); out.collect(): Unit }
      graft.core.Blocks.free(out) // the result handed to the caller
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        s"$name left a persisted RDD")
      assert(math.abs(jobs - pinned(name)) <= 2,
        s"$name ran $jobs jobs, pinned ${pinned(name)}")
    } finally spark.conf.unset(Knob)
  }
}
