package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Batched Brandes betweenness: exact micro-unit values on analytic
  * fixtures (path, cycle, star), bit-equality with a JVM-side Brandes
  * replay (same integer div formula) on a seeded pseudo-random graph,
  * k-source sampling, and the strict depth guard. */
class BetweennessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rels(rows: (String, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.map { case (a, b) => (s"$a-$b", a, b, "link") }
      .toDF("relationship_id", "source_id", "target_id", "relationship_name")
  }

  private def run(g: DataFrame, sources: Seq[String],
      maxDepth: Int = 16): Map[String, Long] =
    Betweenness.centrality(g, sources, maxDepth).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap

  /** JVM Brandes with the identical integer fixed-point accumulation. */
  private def oracle(edges: Seq[(String, String)],
      sources: Seq[String]): Map[String, Long] = {
    val adj = (edges.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = adj.keySet
    val bc = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for (s <- sources.distinct if nodes.contains(s)) {
      // forward BFS
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Set(s)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        val nextSigma = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        for (v <- frontier; w <- adj(v) if !dist.contains(w))
          nextSigma(w) += sigma(v)
        nextSigma.keys.foreach(w => dist(w) = d)
        nextSigma.foreach { case (w, sg) => sigma(w) = sg }
        frontier = nextSigma.keySet.toSet
      }
      // backward accumulation
      val delta = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      val byDepth = dist.keys.toSeq.sortBy(v => -dist(v))
      for (v <- byDepth) {
        var acc = 0L
        for (w <- adj(v) if dist.contains(w) && dist(w) == dist(v) + 1)
          acc += (sigma(v) * (1000000L + delta(w))) / sigma(w)
        delta(v) = acc
        if (dist(v) > 0) bc(v) += acc
      }
    }
    nodes.map(v => v -> bc(v)).toMap
  }

  test("path a-b-c: middle carries the a<->c dependency") {
    val g = rels(("a", "b"), ("b", "c"))
    val got = run(g, Seq("a", "b", "c"))
    assert(got == Map("a" -> 0L, "b" -> 2000000L, "c" -> 0L))
  }

  test("4-cycle: two equal shortest paths split the dependency") {
    // from each source the opposite node has sigma 2; each middle gets
    // (1e6)/2 per source-opposite pair
    val g = rels(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    val got = run(g, Seq("a", "b", "c", "d"))
    assert(got == oracle(
      Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")),
      Seq("a", "b", "c", "d")))
    assert(got.values.toSet == Set(1000000L),
      "symmetry: every node carries the same split dependency")
  }

  test("star: the hub carries every peripheral pair") {
    val edges = Seq(("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4"))
    val got = run(rels(edges: _*), Seq("h", "x1", "x2", "x3", "x4"))
    assert(got == oracle(edges, Seq("h", "x1", "x2", "x3", "x4")))
    assert(got("h") == 4L * 3L * 1000000L,
      "hub mediates all 12 ordered peripheral pairs")
    assert(Seq("x1", "x2", "x3", "x4").forall(got(_) == 0L))
  }

  test("seeded pseudo-random graph matches the JVM Brandes replay") {
    val n = 14
    val edges = for {
      i <- 0 until n; j <- (i + 1) until n
      if (i * 29 + j * 13 + i * j) % 5 == 0
    } yield (f"n$i%02d", f"n$j%02d")
    val names = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(run(rels(edges: _*), names) == oracle(edges, names))
  }

  test("k-source sampling: subset of sources, exact for that subset") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("b", "e"), ("c", "f"))
    val srcs = Seq("a", "d")
    assert(run(rels(edges: _*), srcs) == oracle(edges, srcs))
  }

  test("disconnected part never accumulates from an unreachable source") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"))
    assert(run(rels(edges: _*), Seq("a")) == oracle(edges, Seq("a")))
  }

  test("harmonic: exact micro-unit inverse-distance sums; unreachable adds 0") {
    // path a-b-c-d plus island x-y; sources a, c, x
    val g = rels(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
    val got = Betweenness.harmonic(g, Seq("a", "c", "x")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // hc(b) = 1e6/1 (from a) + 1e6/1 (from c) = 2_000_000
    // hc(d) = 1e6/3 (a) + 1e6/1 (c) = 333333 + 1000000
    // hc(a) = hc(c) = 1e6/2 (from the other source, self excluded)
    // island: hc(y) = 1e6 (x); hc(x) = 0 (own source only)
    assert(got == Map(
      "a" -> 500000L, "b" -> 2000000L,
      "c" -> 500000L, "d" -> 1333333L,
      "x" -> 0L, "y" -> 1000000L))
  }

  /** `body` on the distributed loop (local-solve cutoff 0): it throws an
    * IllegalStateException whose message contains `msg`, and the
    * checkpoints it held are freed. */
  private def throwsDistributed(msg: String)(body: => Any): Unit = {
    val knob = "spark.graft.graph.localSolveMaxEdges"
    spark.conf.set(knob, "0")
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val ex = intercept[IllegalStateException](body)
      assert(ex.getMessage.contains(msg), ex.getMessage)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        "the throw left the loop's checkpoints persisted")
    } finally spark.conf.unset(knob)
  }

  test("strict depth guard throws instead of truncating") {
    val g = rels(("a", "b"), ("b", "c"), ("c", "d"))
    val ex = intercept[IllegalStateException](
      Betweenness.centrality(g, Seq("a"), maxDepth = 1))
    assert(ex.getMessage.contains("maxDepth"))
    throwsDistributed("maxDepth")(
      Betweenness.centrality(g, Seq("a"), maxDepth = 1))
  }

  test("sigma guard: combinatorial equal-path growth throws instead of wrapping") {
    // a chain of 41 diamond gadgets doubles the shortest-path count per
    // gadget: sigma at the far end is 2^41 ≈ 2.2e12 > SigmaBound — the
    // forward pass must throw loudly, not let the Long sum wrap
    val edges = (0 until 41).flatMap { k =>
      val a = s"n$k"; val b = s"n${k + 1}"
      Seq((a, s"u$k"), (a, s"d$k"), (s"u$k", b), (s"d$k", b))
    }
    val ex = intercept[IllegalStateException](
      Betweenness.centrality(rels(edges: _*), Seq("n0"), maxDepth = 200))
    assert(ex.getMessage.contains("sigma"), ex.getMessage)
    throwsDistributed("sigma")(
      Betweenness.centrality(rels(edges: _*), Seq("n0"), maxDepth = 200))
  }

  test("approximate: k = n degenerates to exact betweenness") {
    // 6-cycle + a chord: nontrivial sigma structure
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "a"), ("b", "e"))
    val g = rels(edges: _*)
    val all = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val exact = run(g, all)
    val approx = Betweenness.approximate(g, k = all.size, seed = "s")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // (bc_m * n) div n == bc_m: the estimator collapses to the exact value
    assert(approx == exact, s"approx $approx != exact $exact")
  }

  test("approximate: estimate == (n/k)-scaled JVM replay over the same md5 sample") {
    // 8-cycle with two chords; k = 4 of 8 sources. The estimator's
    // deterministic contract: hash-ranked sample, exact batched Brandes
    // over it, every dependency scaled by n/k with integer div — so the
    // whole thing must equal the JVM oracle replayed on the same sample,
    // bit for bit. (Unbiasedness is statistical and belongs to the
    // Brandes-Pich analysis, not to a single-seed assertion; the oracle
    // GATE hash-verifies the same estimator against DuckDB.)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "g"), ("g", "h"), ("h", "a"), ("a", "e"), ("c", "g"))
    val g = rels(edges: _*)
    val all = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val n = all.size
    val k = 4
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md5.digest(s"s14$s".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val sample = all.sortBy(v => (hex(v), v)).take(k)
    val expect = oracle(edges, sample)
      .map { case (v, bc) => v -> bc * n / k } // bc*n exact in Long here
    val approx = Betweenness.approximate(g, k = k, seed = "s14")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val expectFull = all.map(v => v -> expect.getOrElse(v, 0L)).toMap
    assert(approx == expectFull, s"approx $approx != scaled replay $expectFull")
  }

  test("approximate: Brandes-Pich error bound holds and tightens with k") {
    // The QUALITY contract the estimator exists for (the q_sim_recall_sweep
    // pattern, applied to centrality): on a 24-node pseudo-random graph,
    // sweep the sample size and assert the worst-node absolute error
    // against the Brandes-Pich/Riondato Hoeffding bound. Per-source
    // dependency mass at a node is in [0, (n-1)·1e6] micro-units, the
    // estimator averages k such terms and rescales by n, so
    //   |est − exact| ≤ n·(n−1)·1e6 · sqrt(ln(2n/δ)/(2k))   w.p. ≥ 1−δ.
    // The md5 sample is deterministic — the assertion is that THIS sample
    // behaves like the uniform one the analysis assumes (δ = 0.01), which
    // either holds forever or fails loudly; plus the two hard endpoint
    // facts: error is 0 at k = n, and the swept error never worsens from
    // the smallest k to the largest.
    val n = 24
    val edges = (for {
      i <- 0 until n; j <- (i + 1) until n
      if (i * 29 + j * 13 + i * j) % 7 == 0
    } yield (f"n$i%02d", f"n$j%02d")).toSeq
    val g = rels(edges: _*)
    val names = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val nn = names.size
    val exact = run(g, names)
    def maxErr(k: Int): Long = {
      val approx = Betweenness.approximate(g, k = k, seed = "bound")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      names.map(v => math.abs(approx.getOrElse(v, 0L) - exact(v))).max
    }
    def bound(k: Int): Long =
      (nn.toDouble * (nn - 1) * 1e6 *
        math.sqrt(math.log(2.0 * nn / 0.01) / (2.0 * k))).toLong
    val ks = Seq(4, 8, 16, nn)
    val errs = ks.map(k => k -> maxErr(k))
    errs.foreach { case (k, err) =>
      assert(err <= bound(k),
        s"k=$k: max error $err exceeds the Hoeffding bound ${bound(k)}")
    }
    assert(errs.last._2 == 0L, s"k=n must be exact, got ${errs.last._2}")
    assert(errs.last._2 <= errs.head._2,
      s"error must not worsen from k=${ks.head} to k=${ks.last}: $errs")
  }
}
