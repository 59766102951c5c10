package graft.graph

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.adt.{AdtParser, CypherParser}

/** Regression tests for VLE range semantics (ADVICE round 1).
  *
  * Cypher/AGE `-[*min..max]->` has *exists-a-path* semantics
  * (opencypher M23 §9.2; the reference delegates to AGE's VLE executor,
  * Query.cs:122-129): a pair qualifies when SOME path of in-range length
  * connects it, even when a shorter out-of-range path also exists. */
class VleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def edges(rows: (String, String, String)*) = {
    val s = spark; import s.implicits._
    rows.toDF("source_id", "target_id", "relationship_name")
  }

  test("unbounded -[*] on a cyclic graph terminates at the fixpoint (r12 verdict #5)") {
    // 4-cycle a->b->c->d->a plus a tail t->a: maxIter = Int.MaxValue must
    // stop when the visited anti-join empties the frontier, NOT spin on
    // the cycle. Cycle pairs: every (x,y) on the ring incl. self at depth
    // 4; the tail node reaches all ring nodes at depths 1..4 and nothing
    // reaches it. 4*4 + 4 = 20 pairs, max depth 4.
    val g = edges(("a", "b", "e"), ("b", "c", "e"), ("c", "d", "e"),
      ("d", "a", "e"), ("t", "a", "e"))
    val m = new Vle.Metrics
    val out = Vle.withMetrics(m) {
      Vle.reachability(g, maxIter = Int.MaxValue).collect()
    }
    assert(out.length == 20, s"pair count: ${out.length}")
    assert(out.map(_.getInt(2)).max == 4, "minimal depths cap at the cycle length")
    assert(out.count(r => r.getString(0) == r.getString(1)) == 4,
      "each ring node closes on itself at depth 4")
    // budget guard: the fixpoint was reached after cycle-length rounds
    // (+1 emptiness probe), not anywhere near an unbounded spin
    assert(m.iterations <= 5, s"iterations ran to ${m.iterations}")
  }

  test("range(2,3): target also reachable at depth 1 is NOT excluded") {
    // a->b direct, plus a->c->d->b: (a,b) has paths of length 1 and 3.
    val e = edges(("a", "b", "x"), ("a", "c", "x"), ("c", "d", "x"), ("d", "b", "x"))
    val out = Vle.range(e, 2, 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out.contains(("a", "b", 3)), s"(a,b) reachable at depth 3 missing: $out")
    assert(out.contains(("a", "d", 2)) && out.contains(("c", "b", 2)))
    assert(!out.exists(_._3 < 2), "no out-of-range depths")
  }

  test("range(2,2) on a cycle: pair at depths 1 AND 2 appears with depth 2") {
    // a<->b two-cycle: a to b at depths 1,3,...; a to a at depths 2,4...
    val e = edges(("a", "b", "x"), ("b", "a", "x"))
    val out = Vle.range(e, 2, 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out == Set(("a", "a", 2), ("b", "b", 2)))
  }

  test("range min<=1 keeps minimal-depth fast path") {
    val e = edges(("a", "b", "x"), ("b", "c", "x"))
    val out = Vle.range(e, 1, 5).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out == Set(("a", "b", 1), ("b", "c", 1), ("a", "c", 2)))
  }

  test("range(2,4) empty when graph shallower than minDepth") {
    val e = edges(("a", "b", "x"))
    assert(Vle.range(e, 2, 4).isEmpty)
  }

  test("range enforces relationship uniqueness (trail, not walk, semantics)") {
    // moon1->earth (orbits), earth->sun (orbits), earth->moon1 (satellites):
    // the length-3 walk moon1->earth->moon1->earth reuses the moon1->earth
    // edge, so 'earth' is NOT a *2..6 target of moon1 (AGE rejects edge
    // re-use; VariableLengthEdgeTests.cs expects exactly {sun, moon1}).
    val e = edges(("moon1", "earth", "orbits"), ("earth", "sun", "orbits"),
      ("earth", "moon1", "satellites"))
    val out = Vle.range(e, 2, 6).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out.filter(_._1 == "moon1") == Set(("moon1", "sun"), ("moon1", "moon1")),
      s"edge re-use must be rejected: $out")
  }

  test("parallel edges are distinct traversals for uniqueness") {
    // two parallel a->b edges (different names) + b->a: a->b->a->b is a
    // valid trail of length 3 (three distinct edges).
    val e = edges(("a", "b", "x"), ("a", "b", "y"), ("b", "a", "z"))
    val out = Vle.range(e, 3, 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out.contains(("a", "b", 3)), s"parallel-edge trail missing: $out")
  }

  test("composite edge ids that concat to the same string stay distinct") {
    // (ab->abab) and (abab->ab) concatenate WITHOUT a separator to the same
    // "abababx" — a separator-less identity would treat them as one edge and
    // reject the only depth-4 trail s->ab->abab->ab->t (VERDICT r3 #6).
    val e = edges(("s", "ab", "x"), ("ab", "t", "x"),
      ("ab", "abab", "x"), ("abab", "ab", "x"))
    val out = Vle.range(e, 4, 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out.contains(("s", "t", 4)),
      s"colliding composite edge ids conflated — trail wrongly rejected: $out")
  }

  test("open-ended range min>1 terminates fast on cyclic graphs (hybrid BFS)") {
    // 3-cycle: '*2..30' must not enumerate 30-deep edge subsets — the BFS
    // answers for pairs whose minimal depth is in range; trail enumeration
    // only runs for sub-minDepth pairs and is depth-capped.
    val e = edges(("a", "b", "x"), ("b", "c", "x"), ("c", "a", "x"))
    val out = Vle.range(e, 2, 30).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out == Set(("a", "c", 2), ("b", "a", 2), ("c", "b", 2),
      ("a", "a", 3), ("b", "b", 3), ("c", "c", 3)), s"got $out")
    // depth-1 pairs have no redemption trail here (single cycle, edge reuse)
    assert(!out.exists(_._3 < 2))
  }

  test("multi-label VLE traverses ALL listed relationship names") {
    // a -A-> b -B-> c: reachable only if both labels expand.
    val e = edges(("a", "b", "A"), ("b", "c", "B"), ("a", "z", "C"))
    val out = Vle.range(e, 1, 2, Seq("A", "B")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out == Set(("a", "b", 1), ("b", "c", 1), ("a", "c", 2)),
      s"'C' edge must be excluded, both A and B traversed: $out")
  }

  test("range(0,n) includes depth-0 self-pairs for the node universe") {
    val e = edges(("a", "b", "x"), ("b", "c", "x"))
    val out = Vle.range(e, 0, 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out == Set(("a", "a", 0), ("b", "b", 0), ("c", "c", 0),
      ("a", "b", 1), ("b", "c", 1), ("a", "c", 2)), s"got $out")
    // explicit node universe (a planner-bound twin set) wins over endpoints
    val s = spark; import s.implicits._
    val nodes = Seq("a", "b", "c", "isolated").toDF("dt_id")
    val out2 = Vle.range(e, 0, 1, nodes = Some(nodes)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out2.contains(("isolated", "isolated", 0)), s"got $out2")
  }

  test("range(2,30): deep redemption trail beyond static cap is found") {
    // (a,b) has depth-1 edge plus a single 10-hop redemption trail — longer
    // than TrailEnumDepthCap(8); the row-budget extension must find it.
    val chain = (1 to 9).map(i => (s"n$i", s"n${i + 1}", "x"))
    val e = edges(Seq(("a", "b", "x"), ("a", "n1", "x"), ("n10", "b", "x")) ++ chain: _*)
    val out = Vle.range(e, 2, 30).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out.contains(("a", "b", 11)), s"11-hop redemption trail missing: $out")
  }

  test("endpoint-seeded range equals the unseeded result, restricted") {
    val e = edges(("a", "b", "x"), ("b", "c", "x"), ("z", "a", "x"),
      ("q", "r", "x"), ("c", "c2", "x"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val full = rows(Vle.range(e, 1, 3))
    // bound source: only a's cone explored, identical pairs for a
    val fromA = rows(Vle.range(e, 1, 3, sourceIds = Some(Seq("a"))))
    assert(fromA == full.filter(_._1 == "a"), s"$fromA vs $full")
    // bound target: backward expansion over reversed edges, swapped back
    val toC = rows(Vle.range(e, 1, 3, targetIds = Some(Seq("c"))))
    assert(toC == full.filter(_._2 == "c"), s"$toC vs $full")
    // min>1 trail regime with a bound source
    val deep = rows(Vle.range(e, 2, 3, sourceIds = Some(Seq("z"))))
    assert(deep == full.filter(t => t._1 == "z" && t._3 >= 2))
  }

  test("DataFrame-seeded range equals the literal-seeded result (r17)") {
    val s = spark; import s.implicits._
    val e = edges(("a", "b", "x"), ("b", "c", "x"), ("z", "a", "x"),
      ("q", "r", "x"), ("c", "c2", "x"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val full = rows(Vle.range(e, 1, 3))
    // a DataFrame seed (the planner's filtered-frame form) must produce
    // exactly the literal-seed result — both regimes
    val seedA = Seq("a").toDF("id")
    assert(rows(Vle.range(e, 1, 3, sourceDf = Some(seedA))) ==
      full.filter(_._1 == "a"))
    assert(rows(Vle.range(e, 1, 5, sourceDf = Some(seedA))) == // BFS regime
      full.filter(_._1 == "a"))
    // target-side DataFrame seed: backward expansion, endpoints swapped
    val seedC = Seq("c").toDF("id")
    assert(rows(Vle.range(e, 1, 3, targetDf = Some(seedC))) ==
      full.filter(_._2 == "c"))
    // min>1 hybrid with a DataFrame seed
    assert(rows(Vle.range(e, 2, 3, sourceDf = Some(Seq("z").toDF("id")))) ==
      full.filter(t => t._1 == "z" && t._3 >= 2))
    // trails with a DataFrame seed: per-path rows restricted to the cone
    val tr = Vle.trails(e, 1, 3, sourceDf = Some(seedA)).collect()
    assert(tr.map(_.getString(0)).toSet == Set("a"))
  }

  test("seeded BFS expands the seed's cone, not the edge universe (r17)") {
    // long chain c0->c1->...->c63 plus an isolated seed cone s->t: an
    // UNSEEDED depth-5 BFS visits O(V*depth) pairs; seeded with {s}, the
    // frontier must stay at the cone size (1 row), proving the first
    // expansion step was the seed's out-edges — the plan-level guarantee
    // the EXISTS-VLE probe relies on at 100x scale.
    val chain = (0 until 64).map(i => (s"c$i", s"c${i + 1}", "x"))
    val g = edges(chain :+ (("s", "t", "x")): _*)
    val s2 = spark; import s2.implicits._
    val m = new Vle.Metrics
    val out = Vle.withMetrics(m) {
      // maxIter 6 > JoinChainMaxDepth(3) => frontier BFS with metrics
      Vle.range(g, 1, 6, sourceDf = Some(Seq("s").toDF("id"))).collect()
    }
    assert(out.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("s", "t")))
    assert(m.frontierPeak == 1,
      s"seeded frontier peaked at ${m.frontierPeak}; expansion was not " +
        "restricted to the seed's cone")
    // the same expansion unseeded walks the whole chain
    val mu = new Vle.Metrics
    Vle.withMetrics(mu) { Vle.range(g, 1, 6).collect() }
    assert(mu.frontierPeak >= 60,
      s"unseeded control should touch the chain (peak ${mu.frontierPeak})")
  }

  test("ADT parser: '*1' is exact depth 1, bare '*' is 1..DefaultVleMax") {
    def vleOf(rel: String) = AdtParser.parse(
      s"SELECT T FROM DIGITALTWINS MATCH (S)-[$rel]->(T)").matches.head.vle
    assert(vleOf("r*1") == Some((1, 1)))
    assert(vleOf("r*2") == Some((2, 2)))
    assert(vleOf("r*") == Some((1, AdtParser.DefaultVleMax)))
    assert(vleOf("r*2..") == Some((2, AdtParser.DefaultVleMax)))
    assert(vleOf("r*2..3") == Some((2, 3)))
  }

  test("Cypher parser: '*1' is exact depth 1, bare '*' is 1..DefaultVleMax") {
    def vleOf(rel: String) = CypherParser.parse(
      s"MATCH (s)-[$rel]->(t) RETURN t").matches.head.vle
    assert(vleOf("r*1") == Some((1, 1)))
    assert(vleOf("r*") == Some((1, AdtParser.DefaultVleMax)))
    assert(vleOf("r*3..4") == Some((3, 4)))
  }

  test("trail enumeration past the depth cap stops at the row budget without throwing") {
    // a 10-ring with a parallel n0->n1 edge: the direct pair (n0, n1) is
    // redeemed for *2..12 only by the 11-edge trail around the ring, past
    // TrailEnumDepthCap; a budget of 1 frontier row truncates there
    val rows = (0 until 10).map(i => (s"n$i", s"n${(i + 1) % 10}", s"e$i")) :+
      (("n0", "n1", "e10"))
    def run(s: SparkSession): Set[(String, String, Int)] = {
      import s.implicits._
      Vle.range(rows.toDF("source_id", "target_id", "relationship_id"), 2, 12)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    }
    assert(12 > Vle.TrailEnumDepthCap)
    val full = run(spark)
    val child = spark.newSession()
    child.conf.set("spark.graft.vle.trailEnumRowBudget", "1")
    val capped = run(child)
    assert(full.contains(("n0", "n1", 11)))
    assert(capped.subsetOf(full) && !capped.contains(("n0", "n1", 11)))
  }
}
