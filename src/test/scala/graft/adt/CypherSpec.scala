package graft.adt

import org.scalatest.funsuite.AnyFunSuite

/** Cypher-subset semantics over the same fixture graph as AdtQuerySpec —
  * ports the raw-Cypher cases the reference's tests run through the query
  * endpoint (QueryTests.cs:50, :98, :995; VariableLengthEdgeTests.cs). */
class CypherSpec extends AnyFunSuite {

  // reuse the shared fixture graph/planner
  private val host = new AdtQuerySpec
  private def planner = host.planner

  private def count(q: String): Long = planner.run(q).count()

  test("language detection routes SELECT→ADT, MATCH/RETURN→Cypher") {
    assert(QueryLanguage.detect("SELECT T FROM DIGITALTWINS T") == "adt")
    assert(QueryLanguage.detect("MATCH (t:Twin) RETURN t") == "cypher")
    assert(QueryLanguage.detect("MATCH (t) WHERE t.x = 1 RETURN count(*)") == "cypher")
  }

  test("MATCH with inline property map and edge label (QueryTests.cs:50)") {
    val df = planner.run(
      "MATCH (r:Twin { `$dtId`: 'earth' })-[rel:satellites]->(s:Twin) RETURN r, rel, s")
    val row = df.collect()(0)
    val cols = df.columns
    assert(row.getString(cols.indexOf("r_dt_id")) == "earth")
    assert(row.getString(cols.indexOf("rel_relationship_id")) == "r4")
    assert(row.getString(cols.indexOf("s_dt_id")) == "moon1")
  }

  test("WHERE with bracket access on relationship (QueryTests.cs:98)") {
    val df = planner.run(
      "MATCH (r:Twin)-[rel:orbits]->(s:Twin) WHERE rel['$relationshipId'] = 'r2' RETURN rel")
    val row = df.collect()
    assert(row.length == 1)
    assert(row(0).getString(df.columns.indexOf("rel_source_id")) == "earth")
  }

  test("backtick metadata access + SKIP/LIMIT (QueryTests.cs:995)") {
    assert(count("MATCH (t:Twin) RETURN t") == 4)
    val page = planner.run(
      "MATCH (t:Twin) WHERE t.`$metadata`.`$model` <> 'nope' RETURN t.`$dtId` AS id ORDER BY t.`$dtId` SKIP 1 LIMIT 2")
    assert(page.collect().map(_.getString(0)).toSeq == Seq("kepler", "moon1"))
  }

  test("COUNT(*), DISTINCT, comparison operators") {
    val c = planner.run("MATCH (t:Twin) WHERE t.mass > 1e24 RETURN count(*)")
    assert(c.columns.toSeq == Seq("COUNT") && c.collect()(0).getLong(0) == 3)
    assert(count("MATCH (a:Twin)-[r:orbits]->(b:Twin) RETURN DISTINCT b.`$dtId`") == 2)
    assert(count("MATCH (t:Twin) WHERE t.name STARTS WITH 'Ke' RETURN t") == 1)
    assert(count("MATCH (t:Twin) WHERE t.name CONTAINS 'oo' RETURN t") == 1)
    assert(count("MATCH (t:Twin) WHERE t.hasLife IS NOT NULL RETURN t") == 1)
    assert(count("MATCH (t:Twin) WHERE t.hasLife IS NULL RETURN t") == 3)
    assert(count("MATCH (t:Twin) WHERE t.`$dtId` IN ['sun','earth'] RETURN t") == 2)
  }

  test("RETURN * expands to named bindings in pattern order") {
    val df = planner.run("MATCH (a:Twin)-[r:orbits]->(b:Twin) RETURN *")
    assert(df.count() == 3)
    for (p <- Seq("a_", "r_", "b_"))
      assert(df.columns.exists(_.startsWith(p)), s"missing $p columns: ${df.columns.toSeq}")
    // anonymous endpoints stay internal — only the rel binding is named
    val onlyRel = planner.run("MATCH (:Twin)-[r:orbits]->(:Twin) RETURN *")
    assert(onlyRel.columns.forall(_.startsWith("r_")), onlyRel.columns.toSeq)
    assert(onlyRel.count() == 3)
    // no named binding at all → loud error, like openCypher — including
    // the anonymous LONE-node form (its internal __cnode alias must not
    // leak as a result column)
    intercept[AdtParseException] {
      CypherParser.parse("MATCH (:Twin)-[]->(:Twin) RETURN *")
    }
    intercept[AdtParseException] {
      CypherParser.parse("MATCH (:Twin) RETURN *")
    }
  }

  test("literal IN list-property is ARRAY_CONTAINS membership") {
    assert(count("MATCH (t:Twin) WHERE 'rocky' IN t.tags RETURN t") == 1)
    assert(count("MATCH (t:Twin) WHERE 'molten' IN t.tags RETURN t") == 0)
    // literal-list IN keeps its original meaning alongside
    assert(count("MATCH (t:Twin) WHERE t.`$dtId` IN ['earth'] AND 'wet' IN t.tags RETURN t") == 1)
  }

  test("collect() list aggregation: grouped, ungrouped, DISTINCT") {
    val df = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "RETURN b.`$dtId` AS center, collect(a.`$dtId`) AS orbiters ORDER BY center")
    val rows = df.collect().map(r => (r.getString(0), r.getSeq[String](1).toList)).toSeq
    assert(rows == Seq(("earth", List("moon1")), ("sun", List("earth", "kepler"))))
    val all = planner.run("MATCH (t:Twin) RETURN collect(t.`$dtId`) AS ids")
      .collect()(0).getSeq[String](0).toList
    assert(all == List("earth", "kepler", "moon1", "sun"))
    val d = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) RETURN collect(DISTINCT b.`$dtId`) AS centers")
      .collect()(0).getSeq[String](0).toList
    assert(d == List("earth", "sun"))
    // collect() in a WITH horizon feeds later clauses
    val w = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "WITH b.`$dtId` AS center, collect(a.`$dtId`) AS orbiters " +
        "RETURN center, orbiters ORDER BY center")
    assert(w.collect().map(r => (r.getString(0), r.getSeq[String](1).toList)).toSeq ==
      Seq(("earth", List("moon1")), ("sun", List("earth", "kepler"))))
  }

  test("scalar functions in RETURN/WITH: toUpper/toLower, coalesce, size, toString") {
    val df = planner.run(
      "MATCH (t:Twin) RETURN t.`$dtId` AS id, toUpper(t.name) AS un, " +
        "coalesce(t.hasLife, false) AS hl, toString(t.mass) AS ms ORDER BY id")
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(rows == Seq(("earth", "EARTH", true), ("kepler", "KEPLER442B", false),
      ("moon1", "MOON", false), ("sun", "SUN", false)))
    // size() over a JSON array property
    val sz = planner.run(
      "MATCH (t:Twin) WHERE t.`$dtId` = 'earth' RETURN size(t.tags) AS n_tags")
      .collect()(0).getInt(0)
    assert(sz == 2)
    // size() over a collect() output (flat array column) through WITH
    val wsz = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "WITH b.`$dtId` AS center, collect(a.`$dtId`) AS orbiters " +
        "RETURN center, size(orbiters) AS n ORDER BY center")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(wsz == Seq(("earth", 1), ("sun", 2)))
    // scalar expression as a grouping key beside an aggregate
    val grouped = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "RETURN toUpper(b.name) AS center, count(*) AS n ORDER BY center")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(grouped == Seq(("EARTH", 1L), ("SUN", 2L)))
  }

  test("shortestPath + length(p); bare VLE path binds per path") {
    val df = planner.run(
      "MATCH p = shortestPath((s:Twin)-[*1..4]->(t:Twin)) " +
        "WHERE t.`$dtId` = 'sun' RETURN s.`$dtId` AS src, length(p) AS hops ORDER BY src")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("earth", 1L), ("kepler", 1L), ("moon1", 2L)))
    // single-hop bound path: length is 1
    val one = planner.run(
      "MATCH p = (a:Twin)-[r:satellites]->(b:Twin) " +
        "RETURN a.`$dtId` AS src, length(p) AS hops")
    assert(one.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("earth", 1L)))
    // bare VLE path: one row per PATH (not per pair), interiors enumerated
    val paths = planner.run(
      "MATCH p = (a:Twin)-[r:orbits*1..2]->(b:Twin) WHERE a.`$dtId` = 'moon1' " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs, length(p) AS hops " +
        "ORDER BY hops")
    assert(paths.collect().map(r => (r.getSeq[String](0).toList,
      r.getSeq[String](1).toList, r.getLong(2))).toSeq ==
      Seq((List("moon1", "earth"), List("r1"), 1L),
          (List("moon1", "earth", "sun"), List("r1", "r2"), 2L)))
    // label-free *1..2 from moon1 includes the node-repeating (but
    // edge-unique) trail moon1->earth->moon1 — three paths, per openCypher
    val multi = planner.run(
      "MATCH p = (a:Twin)-[*1..2]->(b:Twin) WHERE a.`$dtId` = 'moon1' " +
        "RETURN nodes(p) AS ns ORDER BY ns")
    assert(multi.collect().map(_.getSeq[String](0).toList).toSeq ==
      Seq(List("moon1", "earth"), List("moon1", "earth", "moon1"),
          List("moon1", "earth", "sun")))
    // reverse arrow: nodes(p) honors WRITTEN order (b first) over the
    // reversed traversal
    val rev = planner.run(
      "MATCH p = (b:Twin)<-[r:orbits*1..2]-(a:Twin) WHERE b.`$dtId` = 'sun' " +
        "RETURN nodes(p) AS ns ORDER BY ns")
    assert(rev.collect().map(_.getSeq[String](0).toList).toSeq ==
      Seq(List("sun", "earth"), List("sun", "earth", "moon1"),
          List("sun", "kepler")))
    // *0..1 includes the zero-length path: just the start node, no rels
    val zero = planner.run(
      "MATCH p = (a:Twin)-[*0..1]->(b:Twin) WHERE a.`$dtId` = 'kepler' " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs ORDER BY ns")
    assert(zero.collect().map(r => (r.getSeq[String](0).toList,
      r.getSeq[String](1).toList)).toSeq ==
      Seq((List("kepler"), Nil), (List("kepler", "sun"), List("r3"))))
    // unbounded bare path exceeds the enumeration cap — clean plan error
    val ex = intercept[AdtPlanException](planner.run(
      "MATCH p = (a:Twin)-[*1..]->(b:Twin) RETURN length(p)"))
    assert(ex.getMessage.contains("trailEnumDepthCap"))
  }

  test("variable-length Cypher edge -[*2..6]-> (VariableLengthEdgeTests.cs)") {
    assert(count(
      "MATCH (s:Twin { `$dtId`: 'moon1' })-[r*2..6]->(t:Twin) RETURN t") == 2)
    assert(count(
      "MATCH (s:Twin { `$dtId`: 'moon1' })-[r:orbits*1..2]->(t:Twin) RETURN t") == 2)
  }

  test("UNWIND list literal, standalone and after MATCH") {
    // standalone: no table scan, three rows from the literal
    val rows = planner.run("UNWIND [1, 2, 3] AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 2L, 3L))
    // after MATCH: cross of 4 twins x 2 values
    assert(count("MATCH (t:Twin) UNWIND ['a','b'] AS tag RETURN t, tag") == 8)
    // chained UNWINDs multiply
    assert(count("UNWIND [1,2] AS x UNWIND [10,20,30] AS y RETURN x, y") == 6)
  }

  test("WITH horizon: aggregate then filter then return") {
    // targets with >1 inbound orbit: only sun (earth+kepler orbit it)
    val df = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "WITH b.`$dtId` AS target, count(*) AS n WHERE n > 1 " +
        "RETURN target, n ORDER BY target")
    val out = df.collect()
    assert(df.columns.toSeq == Seq("target", "n"))
    assert(out.length == 1 && out(0).getString(0) == "sun" && out(0).getLong(1) == 2)
  }

  test("WITH retains entity bindings and later clauses use them") {
    // keep the node binding through the horizon, then project from it
    val df = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH b, count(*) AS n WHERE n > 1 " +
        "RETURN b.`$dtId` AS id, n")
    val out = df.collect()
    assert(out.length == 1 && out(0).getString(0) == "sun" && out(0).getLong(1) == 2)
  }

  test("OPTIONAL MATCH keeps unmatched sources with null targets") {
    // every twin + its orbit target if any: sun and kepler... sun has no
    // outgoing orbits; kepler orbits sun. 4 twins → 4 rows (no fan-out).
    val df = planner.run(
      "MATCH (t:Twin) OPTIONAL MATCH (t)-[r:orbits]->(o:Twin) " +
        "RETURN t.`$dtId` AS id, o.`$dtId` AS target ORDER BY id")
    val out = df.collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(out == Seq(
      ("earth", Some("sun")), ("kepler", Some("sun")),
      ("moon1", Some("earth")), ("sun", None)))
    // a scoped WHERE no row satisfies null-extends everything (no drops)
    assert(planner.run(
      "MATCH (t:Twin) OPTIONAL MATCH (t)-[r]->(o) WHERE o.x = 1 RETURN t")
      .count() == 4)
  }

  test("OPTIONAL MATCH VLE endpoint never frame-seeded by null-satisfiable WHERE") {
    // ADVICE r17: the main WHERE applies POST-join and may forward-
    // reference the OPTIONAL MATCH alias with a null-SATISFIABLE predicate
    // (IS NULL). Frame-seeding the VLE target with that predicate would
    // remove the moon1→earth pair (earth.hasLife is set), null-extend
    // moon1, and `null IS NULL` would then KEEP a row the unseeded plan
    // filters — so the optional endpoint must not be seeded.
    val df = planner.run(
      "MATCH (m:Twin) WHERE a.hasLife IS NULL " +
        "OPTIONAL MATCH (m)-[r:orbits*1..1]->(a:Twin) " +
        "RETURN m.`$dtId` AS id, a.`$dtId` AS aid")
    val rows = df.collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    // moon1's only depth-1 orbit target is earth (hasLife set) → its row
    // is FILTERED, not null-extended; sun has no outgoing orbits → kept
    // as a genuine null-extension
    assert(rows == Set(
      ("earth", Some("sun")), ("kepler", Some("sun")), ("sun", None)))
  }

  test("UNWIND a JSON array property") {
    val rows = planner.run(
      "MATCH (t:Twin) WHERE t.`$dtId` = 'earth' UNWIND t.tags AS tag " +
        "RETURN tag ORDER BY tag")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("rocky", "wet"))
  }

  test("WITH DISTINCT projection stage") {
    assert(count(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH DISTINCT b.`$dtId` AS t RETURN t") == 2)
  }

  test("count(DISTINCT x) and count over a string property") {
    // two distinct orbit targets (earth, sun) across three edges
    val d = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) RETURN count(DISTINCT b.`$dtId`) AS n")
      .collect()(0).getLong(0)
    assert(d == 2)
    // count over a string property counts non-null values, not numeric casts
    val c = planner.run("MATCH (t:Twin) RETURN count(t.name) AS n")
      .collect()(0).getLong(0)
    assert(c == 4)
  }

  test("grouped aggregates in RETURN (B10 through Cypher)") {
    // count of orbit targets per source kind
    val df = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "RETURN b.`$dtId` AS target, count(*) AS n ORDER BY target")
    assert(df.columns.toSeq == Seq("target", "n"))
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("earth", 1L), ("sun", 2L)))
    // global aggregates over a property
    val agg = planner.run(
      "MATCH (t:Twin) RETURN count(*) AS n, min(t.mass) AS lo, max(t.mass) AS hi")
    val row = agg.collect()(0)
    assert(row.getLong(0) == 4 && row.getDouble(1) == 7.34e22 && row.getDouble(2) == 1.989e30)
    // sum/avg
    val s = planner.run(
      "MATCH (t:Twin) WHERE t.mass < 1e26 RETURN sum(t.mass) AS total")
    assert(math.abs(s.collect()(0).getDouble(0) - (7.34e22 + 5.97e24 + 1.34e25)) < 1e20)
  }

  test("digitaltwins.is_of_model() predicate forms (querying.mdx:33)") {
    // fixture: sun=CelestialBody, earth=Planet, kepler=HabitablePlanet,
    // moon1=Moon — the CelestialBody family covers all four
    assert(count(
      "MATCH (t:Twin) WHERE digitaltwins.is_of_model(t, 'dtmi:com:contoso:CelestialBody;1') RETURN t") == 4)
    // bare + legacy-alias + closure-arg forms
    assert(count(
      "MATCH (t:Twin) WHERE is_of_model(t, 'dtmi:com:contoso:Planet;1') RETURN t") == 2)
    assert(count(
      "MATCH (t:Twin) WHERE g.is_of_model_old(t, 'dtmi:com:contoso:HabitablePlanet;1') RETURN t") == 1)
    assert(count(
      "MATCH (t:Twin) WHERE g.is_of_model(t, g.model_and_descendants('dtmi:com:contoso:Planet;1')) RETURN t") == 2)
  }

  test("EXISTS / NOT EXISTS pattern predicates plan as semi/anti joins") {
    // outgoing orbits exist for moon1, earth, kepler; not for sun
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t)-[:orbits]->(x)) RETURN t") == 3)
    assert(count(
      "MATCH (t:Twin) WHERE NOT EXISTS((t)-[:orbits]->(x)) RETURN t") == 1)
    // bound-destination form correlates both endpoints: pairs whose target
    // itself orbits something — only moon1->earth (earth orbits sun)
    assert(count(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WHERE EXISTS((b)-[:orbits]->(c)) RETURN a") == 1)
    // reverse-arrow form: twins nothing orbits = moon1 and kepler... via
    // <-: EXISTS((t)<-[:orbits]-(y)) holds for earth and sun only
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t)<-[:orbits]-(y)) RETURN t") == 2)
    // combines with plain predicates in the same WHERE
    assert(count(
      "MATCH (t:Twin) WHERE t.`$dtId` <> 'earth' AND EXISTS((t)-[:orbits]->(x)) RETURN t") == 2)
    // no row fan-out from multiple matching edges: sun has two inbound
    // orbits but appears once
    val ids = planner.run(
      "MATCH (t:Twin) WHERE EXISTS((t)<-[:orbits]-(y)) RETURN t.`$dtId` AS id ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(ids == Seq("earth", "sun"))
  }

  test("EXISTS patterns with inline property maps constrain the probe") {
    // node map on the unbound endpoint: who orbits something named Sun
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t)-[:orbits]->(x {name: 'Sun'})) RETURN t") == 2)
    // ... and the negation (sun itself + moon1, which orbits earth)
    assert(count(
      "MATCH (t:Twin) WHERE NOT EXISTS((t)-[:orbits]->(x {name: 'Sun'})) RETURN t") == 2)
    // map on the BOUND endpoint: pattern matches only when the bound row
    // satisfies it — only earth both orbits something and is named Earth
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t {name: 'Earth'})-[:orbits]->(x)) RETURN t") == 1)
    // unbound SOURCE with a map: what does the Moon orbit
    val ids = planner.run(
      "MATCH (t:Twin) WHERE EXISTS((y {name: 'Moon'})-[:orbits]->(t)) " +
        "RETURN t.`$dtId` AS id ORDER BY id").collect().map(_.getString(0))
    assert(ids.toSeq == Seq("earth"))
    // relationship property map inside EXISTS
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t)-[r:satellites {Distance: 384400.0}]->(x)) RETURN t") == 1)
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t)-[r:satellites {Distance: 1.0}]->(x)) RETURN t") == 0)
    // under OR (the marker-join path shares the probe)
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t)-[:orbits]->(x {name: 'Sun'})) " +
        "OR t.`$dtId` = 'moon1' RETURN t") == 3)
  }

  test("relationship property maps in top-level patterns lower to WHERE") {
    assert(count(
      "MATCH (a:Twin)-[r:satellites {Distance: 384400.0}]->(b:Twin) RETURN a") == 1)
    assert(count(
      "MATCH (a:Twin)-[r:satellites {Distance: 99.0}]->(b:Twin) RETURN a") == 0)
    // anonymous rel + map (AGE-legal, lifted r16): a parse-time internal
    // alias carries the predicates; semantics identical to the aliased form
    assert(count(
      "MATCH (a:Twin)-[:satellites {Distance: 384400.0}]->(b:Twin) RETURN a") == 1)
    assert(count(
      "MATCH (a:Twin)-[:satellites {Distance: 1.0}]->(b:Twin) RETURN a") == 0)
    // ...and the synthesized binding never leaks into RETURN *
    val star = planner.run(
      "MATCH (a:Twin)-[:satellites {Distance: 384400.0}]->(b:Twin) RETURN *")
    assert(!star.columns.exists(_.startsWith("__")), star.columns.mkString(","))
    assert(star.columns.contains("a_dt_id") && star.columns.contains("b_dt_id"))
    // anonymous rel map inside EXISTS too
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t)-[:satellites {Distance: 384400.0}]->(x)) RETURN t") == 1)
    // the internal prefixes are reserved at the identifier level
    assertThrows[AdtParseException](planner.run(
      "MATCH (a:Twin)-[__srel9:orbits]->(b:Twin) RETURN a"))
    assertThrows[AdtParseException](planner.run(
      "MATCH (a:Twin)-[__srelmap2:orbits]->(b:Twin) RETURN a"))
    // ...but the reservation is scoped to the EXACT internal shapes
    // (prefix + digit): `__related` / `__srelevant` stay legal user aliases
    assert(count("MATCH (a:Twin)-[__related:orbits]->(b:Twin) RETURN a") == 3)
    val legal = planner.run(
      "MATCH (a:Twin)-[__srelevant:orbits]->(b:Twin) RETURN *")
    assert(legal.columns.contains("__srelevant_relationship_id"),
      legal.columns.mkString(","))
    // VLE + map stays a loud parse error (alias binds an edge SET)
    assertThrows[AdtParseException](planner.run(
      "MATCH (a:Twin)-[r:orbits*1..2 {w: 1}]->(b:Twin) RETURN a"))
  }

  test("RETURN * after WITH/UNWIND projects the live horizon scope") {
    // WITH horizon: retained entity + flat column, name-sorted columns
    val df = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH a, b.`$dtId` AS tgt RETURN *")
    assert(df.count() == 3)
    assert(df.columns.contains("a_dt_id") && df.columns.contains("tgt"),
      df.columns.mkString(","))
    // UNWIND-only pipeline: the flat column alone
    val u = planner.run("UNWIND [1, 2, 3] AS x RETURN *")
    assert(u.columns.toSeq == Seq("x") && u.count() == 3)
    // a MATCH stage after the horizon extends the star's scope
    val m = planner.run(
      "MATCH (a:Twin) WITH a MATCH (a)-[r2:orbits]->(c:Twin) RETURN *")
    assert(m.count() == 3)
    assert(m.columns.contains("a_dt_id") && m.columns.contains("c_dt_id") &&
      m.columns.contains("r2_relationship_id"), m.columns.mkString(","))
    // anonymous rel/node after the horizon: the planner's internal
    // aliases (__srel/__cnode) must NOT leak into the star — openCypher
    // RETURN * covers named variables only
    val anon = planner.run(
      "MATCH (a:Twin) WITH a MATCH (a)-[:orbits]->(b:Twin) RETURN *")
    assert(anon.count() == 3)
    assert(!anon.columns.exists(c => c.startsWith("__")),
      anon.columns.mkString(","))
    assert(anon.columns.contains("a_dt_id") && anon.columns.contains("b_dt_id"))
    val anonNode = planner.run(
      "MATCH (a:Twin) WITH a MATCH (a)-[r2:orbits]->(:Twin) RETURN *")
    assert(!anonNode.columns.exists(_.startsWith("__")),
      anonNode.columns.mkString(","))
    assert(anonNode.columns.contains("r2_relationship_id"))
    // a path variable live at the RETURN horizon expands in the star as
    // its (nodes, rels, depth) columns (r17 — the r16 loud error retired)
    val starVle = planner.run(
      "MATCH p = (a:Twin)-[r:orbits*1..2]->(b:Twin) UNWIND [1] AS x RETURN *")
    assert(Seq("p_nodes", "p_rels", "p_depth", "x", "a_dt_id", "b_dt_id")
      .forall(starVle.columns.contains), starVle.columns.mkString(","))
    // moon1's depth-2 trail to the sun rides the star
    val deep = starVle.filter("a_dt_id = 'moon1' AND p_depth = 2").collect()
    assert(deep.length == 1 &&
      deep(0).getSeq[String](starVle.columns.indexOf("p_nodes")) ==
        Seq("moon1", "earth", "sun"))
    // a horizon that DROPS the path keeps the star path-free
    val dropped = planner.run(
      "MATCH p = (a:Twin)-[r:orbits]->(b:Twin) WITH a RETURN *")
    assert(dropped.columns.contains("a_dt_id") &&
      !dropped.columns.exists(_.startsWith("__")) &&
      !dropped.columns.exists(_.startsWith("p_")))
    // a single-edge path kept alive past a horizon that dropped an
    // endpoint cannot be star-projected — clean plan error, not an
    // unresolved-column crash
    val e = intercept[AdtPlanException](planner.run(
      "MATCH p = (a:Twin)-[r:orbits]->(b:Twin) WITH a, r RETURN *"))
    assert(e.getMessage.contains("survive"), e.getMessage)
  }

  test("VLE inside EXISTS: reachability-pair probe, all range shapes") {
    // orbits: moon1->earth->sun, kepler->sun. Reach the sun (mass map
    // constrains the PATH END) within 1..2 hops: earth(1), kepler(1),
    // moon1(2)
    assert(count("MATCH (t:Twin) WHERE " +
      "EXISTS((t)-[:orbits*1..2]->(x {mass: 1.989e30})) RETURN t") == 3)
    // exact depth 2: only moon1
    assert(count("MATCH (t:Twin) WHERE " +
      "EXISTS((t)-[:orbits*2..2]->(x {mass: 1.989e30})) RETURN t") == 1)
    // zero-lo includes the self-pair: sun itself at depth 0
    assert(count("MATCH (t:Twin) WHERE " +
      "EXISTS((t)-[:orbits*0..1]->(x {mass: 1.989e30})) RETURN t") == 3)
    // NOT EXISTS = anti-join over the same pair frame: only the sun
    // cannot reach itself via 1..2 orbit hops... and moon1/earth/kepler CAN
    assert(count("MATCH (t:Twin) WHERE " +
      "NOT EXISTS((t)-[:orbits*1..2]->(x {mass: 1.989e30})) RETURN t") == 1)
    // unbounded '*' (default cap) and multi-name disjunction
    assert(count("MATCH (t:Twin) WHERE " +
      "EXISTS((t)-[:orbits|satellites*]->(x {mass: 1.989e30})) RETURN t") == 3)
    // marker-join path (EXISTS under OR) with a VLE probe
    assert(count("MATCH (t:Twin) WHERE " +
      "EXISTS((t)-[:orbits*1..2]->(x {mass: 1.989e30})) OR t.name = 'Sun' " +
      "RETURN t") == 4)
    // reverse arrow: who is VLE-reachable FROM moon1 in 1..2 hops
    assert(count("MATCH (t:Twin) WHERE " +
      "EXISTS((t)<-[:orbits*1..2]-(x {mass: 7.34e22})) RETURN t") == 2)
  }

  test("variant and get_json_object extraction routes answer identically") {
    val q = "MATCH (t:Twin) WHERE t.mass > 1e24 AND t.name CONTAINS 'e' " +
      "RETURN t.`$dtId` AS id, t.mass AS mass, t.tags AS tags ORDER BY id"
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString
    val variantDf = planner.run(q)
    assert(plan(variantDf).contains("variant_get"))
    val viaVariant = variantDf.collect().map(_.toSeq).toSeq
    assert(viaVariant.nonEmpty)
    // a graph without the parsed column takes the string route
    val g = host.graph
    val noVariant = g.copy(twins = g.twins.drop("properties_v"),
      relationships = g.relationships.drop("properties_v"))
    val gjoDf = new AdtPlanner(noVariant).run(q)
    assert(!plan(gjoDf).contains("variant_get"))
    assert(plan(gjoDf).contains("get_json_object"))
    assert(gjoDf.collect().map(_.toSeq).toSeq == viaVariant)
  }

  test("EXISTS-VLE probe is frontier-seeded by the bound side (r17)") {
    // a selective outer filter must bound the expansion's WORK, not just
    // its result: with t = moon1 the seeded BFS frontier stays at moon1's
    // cone width (1 row/hop along moon1->earth->sun), where the unseeded
    // probe would start from all 3 orbit edges. *1..5 exceeds the
    // join-chain cap so the metrics-recording BFS regime runs.
    val m = new graft.graph.Vle.Metrics
    val rows = graft.graph.Vle.withMetrics(m) {
      planner.run("MATCH (t:Twin) WHERE t.`$dtId` = 'moon1' AND " +
        "EXISTS((t)-[:orbits*1..5]->(x)) RETURN t.`$dtId` AS id").collect()
    }
    assert(rows.map(_.getString(0)).toSeq == Seq("moon1"))
    assert(m.observedVle, "the VLE probe should have recorded metrics")
    assert(m.frontierPeak == 1,
      s"probe frontier peaked at ${m.frontierPeak}; the EXISTS expansion " +
        "was not seeded with the bound side's ids")
    // NOT EXISTS over the same seeded probe: sun reaches nothing via
    // orbits, and the anti-join must keep it even though the seeded
    // probe produced no pair for it
    assert(count("MATCH (t:Twin) WHERE t.`$dtId` = 'sun' AND " +
      "NOT EXISTS((t)-[:orbits*1..5]->(x)) RETURN t") == 1)
  }

  test("EXISTS under OR/NOT plans as a no-fan-out marker join") {
    // orbits sources = {moon1, earth, kepler}; OR adds sun → all 4
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t)-[:orbits]->(x)) OR t.`$dtId` = 'sun' RETURN t") == 4)
    // De Morgan round-trip: NOT(EXISTS or sun) = nothing
    assert(count(
      "MATCH (t:Twin) WHERE NOT (EXISTS((t)-[:orbits]->(x)) OR t.`$dtId` = 'sun') RETURN t") == 0)
    // OR of two patterns: orbits-source ∪ satellites-source = {moon1, earth, kepler}
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t)-[:orbits]->(x)) OR EXISTS((t)-[:satellites]->(y)) RETURN t") == 3)
    // no fan-out: sun has TWO inbound orbits edges but the marker join
    // keeps one row per twin
    assert(count(
      "MATCH (t:Twin) WHERE EXISTS((t)<-[:orbits]-(y)) OR t.mass > 1e99 RETURN t") == 2)
  }

  test("EXISTS in a WITH stage is a clean plan error; unused lone node is harmless") {
    // EXISTS outside the top-level WHERE → AdtPlanException, not MatchError
    val ex = intercept[AdtPlanException](planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH a, count(*) AS n " +
        "WHERE EXISTS((a)-[:orbits]->(x)) RETURN n"))
    assert(ex.getMessage.contains("EXISTS"))
    // a lone node alongside edge patterns binds as a cartesian factor
    // (openCypher) but doesn't hijack unqualified property resolution:
    // `name` still resolves to the first edge-bound alias (a), and the
    // 4-twin `(c)` binding multiplies the single a-match by 4
    assert(count(
      "MATCH (c), (a:Twin)-[r:orbits]->(b:Twin) WHERE name = 'Earth' RETURN a") == 4)
  }

  test("MATCH after WITH extends the horizon") {
    // aggregate horizon, then hop from the retained binding
    val out = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH b, count(*) AS n WHERE n >= 1 " +
        "MATCH (b)-[r2:orbits]->(c:Twin) RETURN b.`$dtId` AS hub, c.`$dtId` AS nxt")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("earth", "sun"))) // sun orbits nothing → dropped
    // a fresh binding in the second MATCH enters as a cartesian factor
    assert(count(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH DISTINCT b " +
        "MATCH (x:Twin)-[s:satellites]->(y:Twin) RETURN b, x, y") == 2)
    // an inline property map in a pipeline MATCH scopes to that stage
    assert(count(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH DISTINCT b " +
        "MATCH (b)-[r2:orbits]->(c:Twin { `$dtId`: 'sun' }) RETURN c") == 1)
    // OPTIONAL MATCH after a horizon: left-outer from the retained binding
    val opt = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH DISTINCT b " +
        "OPTIONAL MATCH (b)-[r2:orbits]->(c:Twin) " +
        "RETURN b.`$dtId` AS hub, c.`$dtId` AS nxt ORDER BY hub")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(opt == Seq(("earth", Some("sun")), ("sun", None)))
    // a projected scalar cannot be re-bound as a node
    assertThrows[AdtPlanException](planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH b.`$dtId` AS n " +
        "MATCH (n)-[r2:orbits]->(c:Twin) RETURN c"))
    // reusing a retained relationship alias is a clean error
    assertThrows[AdtPlanException](planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH a, r " +
        "MATCH (a)-[r:orbits]->(c:Twin) RETURN c"))
    // path variables in pipeline MATCH stages are a clean parse error
    assertThrows[AdtParseException](planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WITH b " +
        "MATCH p = shortestPath((b)-[*1..2]->(c:Twin)) RETURN length(p)"))
    // MATCH after UNWIND (no WITH) also extends the horizon
    assert(count(
      "MATCH (a:Twin) UNWIND a.tags AS tag " +
        "MATCH (x:Twin)-[s:satellites]->(y:Twin) RETURN tag, x") == 2)
  }

  test("AVG/MIN/MAX accept DISTINCT (avg over the distinct value set)") {
    // masses are all distinct here, so distinct-avg == avg; the duplicate
    // case is exercised through the orbits fan-out: sun appears twice as a
    // target, so b.mass repeats and avg(DISTINCT) differs from avg
    val df = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "RETURN avg(b.mass) AS m_avg, avg(DISTINCT b.mass) AS m_davg, " +
        "min(DISTINCT b.mass) AS m_min, max(DISTINCT b.mass) AS m_max")
    val r = df.collect()(0)
    val earth = 5.97e24; val sun = 1.989e30
    assert(math.abs(r.getDouble(0) - (earth + sun + sun) / 3) < 1e15)
    assert(math.abs(r.getDouble(1) - (earth + sun) / 2) < 1e15)
    assert(r.getDouble(2) == earth && r.getDouble(3) == sun)
  }

  test("stDev/percentile accept DISTINCT (over the distinct value set)") {
    // orbits fan-out repeats sun's mass: distinct set {earth, sun} vs
    // multiset {earth, sun, sun} — brute-force JVM oracle per aggregate
    val vals = Seq(5.97e24, 1.989e30, 1.989e30)
    val dist = vals.distinct
    def sd(xs: Seq[Double], samp: Boolean): Double = {
      val m = xs.sum / xs.size
      val ss = xs.map(x => (x - m) * (x - m)).sum
      math.sqrt(ss / (if (samp) xs.size - 1 else xs.size))
    }
    val df = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "RETURN stdev(DISTINCT b.mass) AS sd, stdevP(DISTINCT b.mass) AS sdp, " +
        "percentileDisc(DISTINCT b.mass, 0.5) AS p50d, " +
        "percentileCont(DISTINCT b.mass, 0.5) AS p50c")
    val r = df.collect()(0)
    assert(math.abs(r.getDouble(0) - sd(dist, samp = true)) / sd(dist, samp = true) < 1e-9)
    assert(math.abs(r.getDouble(1) - sd(dist, samp = false)) / sd(dist, samp = false) < 1e-9)
    // percentileDisc(0.5) over {earth, sun}: ceil(0.5*2)=1st sorted → earth
    assert(r.getDouble(2) == 5.97e24)
    // percentileCont(0.5): midpoint interpolation over the distinct pair
    assert(math.abs(r.getDouble(3) - (5.97e24 + 1.989e30) / 2) < 1e15)
    // single-distinct-value group: stdev(DISTINCT) answers 0, Neo4j-style
    val one = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) WHERE b.`$dtId` = 'sun' " +
        "RETURN stdev(DISTINCT b.mass) AS sd").collect()(0)
    assert(one.getDouble(0) == 0.0)
    // all-null group (missing property): every DISTINCT statistic answers
    // null — in particular percentileCont(DISTINCT) must not ANSI-crash
    // on try_element_at(arr, 0) when the distinct set is empty
    val empty = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "RETURN stdev(DISTINCT b.noSuchProp) AS sd, " +
        "percentileCont(DISTINCT b.noSuchProp, 0.5) AS pc, " +
        "percentileDisc(DISTINCT b.noSuchProp, 0.5) AS pd").collect()(0)
    assert(empty.isNullAt(0) && empty.isNullAt(1) && empty.isNullAt(2))
  }

  test("multiple bare MATCH bindings form a cartesian product") {
    assert(count("MATCH (a), (b) RETURN a, b") == 16) // 4 twins x 4 twins
    // correlated filter across the two bindings
    val pairs = planner.run(
      "MATCH (a), (b) WHERE a.mass > b.mass " +
        "RETURN a.`$dtId` AS heavier, b.`$dtId` AS lighter ORDER BY heavier, lighter")
    assert(pairs.count() == 6) // strict ordering over 4 distinct masses
    // lone node + edge pattern: every (a)-[orbits]->(b) pair times 4 c's
    assert(count("MATCH (c), (a:Twin)-[r:orbits]->(b:Twin) RETURN c") == 12)
  }

  test("label() predicate and reverse arrows") {
    assert(count(
      "MATCH (a:Twin)-[r]->(b:Twin) WHERE label(r) = 'satellites' RETURN r") == 1)
    assert(count(
      "MATCH (s:Twin)<-[r:orbits]-(t:Twin) WHERE s.`$dtId` = 'sun' RETURN t") == 2)
  }

  test("arithmetic in RETURN and WHERE: precedence, parens, unary minus") {
    // kepler Capacity=5: 5*2+1 = 11 > 10; (5+1)*2 = 12
    val df = planner.run(
      "MATCH (t:Twin) WHERE t.Capacity * 2 + 1 > 10 " +
        "RETURN t.`$dtId` AS id, (t.Capacity + 1) * 2 AS v, -t.Capacity AS neg")
    val r = df.collect()
    assert(r.length == 1 && r(0).getString(0) == "kepler")
    assert(r(0).getDouble(1) == 12.0 && r(0).getDouble(2) == -5.0)
    val m = planner.run(
      "MATCH (t:Twin {`$dtId`: 'kepler'}) " +
        "RETURN t.Capacity % 2 AS m, t.Capacity / 2 AS d").collect()(0)
    assert(m.getDouble(0) == 1.0 && m.getDouble(1) == 2.5)
    // parenthesized value expression heading a WHERE comparison
    assert(count("MATCH (t:Twin) WHERE (t.Capacity + 1) * 2 = 12 RETURN t") == 1)
    // arithmetic between two properties
    assert(count(
      "MATCH (a:Twin), (b:Twin) WHERE a.mass - b.mass > 1e29 RETURN a") == 3)
    // ANSI-safe dynamic typing: non-numeric operands yield null / string
    // comparison, never a CAST_INVALID_INPUT crash
    assert(count("MATCH (t:Twin) WHERE t.name = t.name RETURN t") == 4)
    assert(count("MATCH (t:Twin) WHERE toInteger(t.name) IS NULL RETURN t") == 4)
  }

  test("CASE expressions: generic and simple forms, CASE in WHERE") {
    val df = planner.run(
      "MATCH (t:Twin) RETURN t.`$dtId` AS id, " +
        "CASE WHEN t.mass > 1e26 THEN 'star' WHEN t.mass > 1e24 THEN 'planet' " +
        "ELSE 'rock' END AS kind ORDER BY id")
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("earth", "planet"), ("kepler", "planet"), ("moon1", "rock"), ("sun", "star")))
    // simple form desugars to equality on the scrutinee
    val s = planner.run(
      "MATCH (t:Twin) RETURN t.`$dtId` AS id, " +
        "CASE t.name WHEN 'Sun' THEN 1 WHEN 'Moon' THEN 2 ELSE 0 END AS n ORDER BY id")
    assert(s.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("earth", 0.0), ("kepler", 0.0), ("moon1", 2.0), ("sun", 1.0)))
    // no ELSE → null; CASE result feeds arithmetic
    val n = planner.run(
      "MATCH (t:Twin {`$dtId`: 'sun'}) " +
        "RETURN CASE WHEN t.mass > 1e26 THEN 10 END + 5 AS v").collect()(0)
    assert(n.getDouble(0) == 15.0)
    assert(count(
      "MATCH (t:Twin) WHERE CASE WHEN t.hasLife = true THEN true ELSE false END " +
        "RETURN t") == 1)
  }

  test("keys() and properties() accessors") {
    val k = planner.run("MATCH (t:Twin {`$dtId`: 'earth'}) RETURN keys(t) AS ks")
      .collect()(0).getSeq[String](0).toList
    assert(k == List("$dtId", "dims", "hasLife", "mass", "name", "tags"))
    // keys() of a nested object property
    val kd = planner.run("MATCH (t:Twin {`$dtId`: 'earth'}) RETURN keys(t.dims) AS ks")
      .collect()(0).getSeq[String](0).toList
    assert(kd == List("r"))
    // properties() of a relationship is its doc, exactly as stored
    val p = planner.run(
      "MATCH (a:Twin)-[r:satellites]->(b:Twin) RETURN properties(r) AS props")
      .collect()(0).getString(0)
    assert(p == """{"Distance":384400.0}""")
    // size(keys(t)) composes
    val n = planner.run(
      "MATCH (t:Twin {`$dtId`: 'earth'}) RETURN size(keys(t)) AS n").collect()(0)
    assert(n.getInt(0) == 6)
  }

  test("nodes() and relationships() path accessors") {
    val df = planner.run(
      "MATCH p = (a:Twin)-[r:orbits]->(b:Twin) " +
        "RETURN a.`$dtId` AS src, nodes(p) AS ns, relationships(p) AS rs ORDER BY src")
    val rows = df.collect().map(r =>
      (r.getString(0), r.getSeq[String](1).toList, r.getSeq[String](2).toList)).toSeq
    assert(rows == Seq(
      ("earth", List("earth", "sun"), List("r2")),
      ("kepler", List("kepler", "sun"), List("r3")),
      ("moon1", List("moon1", "earth"), List("r1"))))
    // reversed arrow: nodes(p) honors the WRITTEN order (a first), not the
    // normalized edge direction
    val rev = planner.run(
      "MATCH p = (a:Twin)<-[r:orbits]-(b:Twin) WHERE a.`$dtId` = 'sun' " +
        "RETURN nodes(p) AS ns ORDER BY b.`$dtId`")
    assert(rev.collect().map(_.getSeq[String](0).toList).toSeq ==
      Seq(List("sun", "earth"), List("sun", "kepler")))
    // interior of a shortestPath IS enumerated when the query observes it:
    // one row per endpoint pair, carrying the canonical minimal path
    val sp = planner.run(
      "MATCH p = shortestPath((a:Twin)-[*1..2]->(b:Twin)) " +
        "WHERE b.`$dtId` = 'sun' " +
        "RETURN a.`$dtId` AS src, nodes(p) AS ns, relationships(p) AS rs " +
        "ORDER BY src")
    assert(sp.collect().map(r => (r.getString(0), r.getSeq[String](1).toList,
      r.getSeq[String](2).toList)).toSeq == Seq(
      ("earth", List("earth", "sun"), List("r2")),
      ("kepler", List("kepler", "sun"), List("r3")),
      ("moon1", List("moon1", "earth", "sun"), List("r1", "r2"))))
    // still per PAIR: moon1 reaches sun once even though a *1..2 bare
    // pattern would also bind the moon1->earth->moon1 trail elsewhere
    assert(sp.count() == 3)
    // a range beyond the enumeration cap rejects cleanly when interiors
    // are observed (length(p)-only shortestPath stays BFS and allows it)
    val exSp = intercept[AdtPlanException](planner.run(
      "MATCH p = shortestPath((a:Twin)-[*1..]->(b:Twin)) RETURN nodes(p) AS ns"))
    assert(exSp.getMessage.contains("trailEnumDepthCap"))
    // length(p) composes in arithmetic
    val l = planner.run(
      "MATCH p = shortestPath((a:Twin)-[*1..2]->(b:Twin)) WHERE b.`$dtId` = 'sun' " +
        "RETURN a.`$dtId` AS src, length(p) * 10 AS d ORDER BY src")
    assert(l.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("earth", 10.0), ("kepler", 10.0), ("moon1", 20.0)))
  }

  test("OPTIONAL MATCH with scoped WHERE / property map null-extends, never drops") {
    // moon1 orbits earth (not sun) → null-extended, NOT dropped
    val expected = Seq(("earth", "sun"), ("kepler", "sun"),
      ("moon1", null), ("sun", null))
    val w = planner.run(
      "MATCH (a:Twin) OPTIONAL MATCH (a)-[r:orbits]->(b:Twin) " +
        "WHERE b.`$dtId` = 'sun' " +
        "RETURN a.`$dtId` AS id, b.`$dtId` AS center ORDER BY id")
    assert(w.collect().map(r => (r.getString(0), r.getString(1))).toSeq == expected)
    // an inline property map on the optional pattern scopes identically
    val pm = planner.run(
      "MATCH (a:Twin) OPTIONAL MATCH (a)-[r:orbits]->(b:Twin {`$dtId`: 'sun'}) " +
        "RETURN a.`$dtId` AS id, b.`$dtId` AS center ORDER BY id")
    assert(pm.collect().map(r => (r.getString(0), r.getString(1))).toSeq == expected)
    // the scoped predicate may correlate optional and outer bindings
    val cross = planner.run(
      "MATCH (a:Twin) OPTIONAL MATCH (a)-[r2:orbits]->(c:Twin) " +
        "WHERE c.mass > a.mass " +
        "RETURN a.`$dtId` AS id, c.`$dtId` AS heavier ORDER BY id")
    assert(cross.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("earth", "sun"), ("kepler", "sun"), ("moon1", "earth"), ("sun", null)))
  }

  test("pipeline-stage OPTIONAL MATCH honors a scoped WHERE") {
    // aggregate per center, then optionally hop each center to a
    // satellite ONLY when the rel is 'satellites' with the right target
    val df = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "WITH b, count(*) AS n " +
        "OPTIONAL MATCH (b)-[r2]->(c:Twin) WHERE label(r2) = 'satellites' " +
        "RETURN b.`$dtId` AS center, n, c.`$dtId` AS sat ORDER BY center")
    val rows = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    // earth has a satellites edge to moon1; sun has outgoing nothing —
    // but its orbits rows must NOT leak through the label filter
    assert(rows == Seq(("earth", 1L, "moon1"), ("sun", 2L, null)))
  }

  test("unaliased expressions get unique default output names") {
    val df = planner.run(
      "MATCH (t:Twin {`$dtId`: 'kepler'}) RETURN t.Capacity + 1, t.Capacity * 2")
    assert(df.columns.toSeq == Seq("expr", "expr1"))
    val r = df.collect()(0)
    assert(r.getDouble(0) == 6.0 && r.getDouble(1) == 10.0)
  }

  test("numeric and string scalar functions") {
    val r = planner.run(
      "MATCH (t:Twin {`$dtId`: 'kepler'}) RETURN " +
        "toInteger(t.mass / 1e24) AS m, toFloat(t.Capacity) AS cf, " +
        "abs(0 - t.Capacity) AS a, round(t.Capacity / 2) AS rd, " +
        "ceil(t.Capacity / 2) AS ce, floor(t.Capacity / 2) AS fl").collect()(0)
    assert(r.getLong(0) == 13L)     // 13.4 truncates toward zero
    assert(r.getDouble(1) == 5.0)
    assert(r.getDouble(2) == 5.0)
    assert(r.getDouble(3) == 3.0)   // 2.5 rounds half-up
    assert(r.getDouble(4) == 3.0 && r.getDouble(5) == 2.0)
    val s = planner.run(
      "MATCH (t:Twin {`$dtId`: 'kepler'}) RETURN " +
        "substring(t.name, 0, 6) AS pre, substring(t.name, 6) AS rest, " +
        "replace(t.name, '442b', 'X') AS rep, reverse(t.name) AS rev, " +
        "trim(t.name) AS tr, size(split(t.name, '42')) AS parts").collect()(0)
    assert(s.getString(0) == "Kepler")        // 0-based substring
    assert(s.getString(1) == "442b")
    assert(s.getString(2) == "KeplerX")
    assert(s.getString(3) == "b244relpeK")
    assert(s.getString(4) == "Kepler442b")
    assert(s.getInt(5) == 2)                  // "Kepler4" "b"
    // dotted delimiter must be literal, not a regex wildcard
    val d = planner.run(
      "MATCH (t:Twin {`$dtId`: 'sun'}) RETURN size(split(t.name, '.')) AS n")
      .collect()(0)
    assert(d.getInt(0) == 1)
    // flat string columns (UNWIND outputs) promote numerically too:
    // "10.5" must sort after "9.1", not lexicographically before it
    val u = planner.run(
      "UNWIND ['10.5', '9.1'] AS x RETURN toFloat(x) AS f ORDER BY f")
      .collect().map(_.getDouble(0)).toSeq
    assert(u == Seq(9.1, 10.5))
    // wrong arity is a clean plan error, not an index crash
    intercept[AdtPlanException](planner.run(
      "MATCH (t:Twin) RETURN substring(t.name) AS x"))
    // round() takes an optional literal precision
    val rp = planner.run(
      "MATCH (t:Twin {`$dtId`: 'kepler'}) RETURN round(t.mass / 1e25, 2) AS m")
      .collect()(0)
    assert(rp.getDouble(0) == 1.34)
  }

  test("scalar calls compose in WHERE predicates") {
    assert(count("MATCH (t:Twin) WHERE toLower(t.name) = 'sun' RETURN t") == 1)
    // earth has 6 keys, kepler 4 ($dtId, name, mass, Capacity)
    assert(count("MATCH (t:Twin) WHERE size(keys(t)) > 3 RETURN t") == 2)
  }

  test("WITH ... ORDER BY / SKIP / LIMIT horizons") {
    // top-1 orbit center by in-degree (sun: 2, earth: 1)
    val top = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "WITH b.`$dtId` AS center, count(*) AS n ORDER BY n DESC, center LIMIT 1 " +
        "RETURN center, n")
    assert(top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("sun", 2L)))
    // SKIP/LIMIT window over a sorted horizon
    val page = planner.run(
      "MATCH (t:Twin) WITH t.`$dtId` AS id ORDER BY id SKIP 1 LIMIT 2 " +
        "RETURN id ORDER BY id")
    assert(page.collect().map(_.getString(0)).toSeq == Seq("kepler", "moon1"))
    // WHERE filters AFTER the horizon's LIMIT (openCypher order): the
    // limit-2 window is {earth, kepler}; the filter then drops earth —
    // moon1 must NOT slide in to refill the window
    val after = planner.run(
      "MATCH (t:Twin) WITH t.`$dtId` AS id ORDER BY id LIMIT 2 " +
        "WHERE id <> 'earth' RETURN id")
    assert(after.collect().map(_.getString(0)).toSeq == Seq("kepler"))
    // ORDER BY may reference a retained alias's property
    val retained = planner.run(
      "MATCH (a:Twin)-[r:orbits]->(b:Twin) " +
        "WITH a ORDER BY a.mass DESC LIMIT 1 RETURN a.`$dtId` AS id")
    assert(retained.collect().map(_.getString(0)).toSeq == Seq("kepler"))
  }

  test("ORDER BY arbitrary expressions") {
    // arithmetic sort key: heaviest first via negation
    val neg = planner.run(
      "MATCH (t:Twin) RETURN t.`$dtId` AS id ORDER BY t.mass * -1")
    assert(neg.collect().map(_.getString(0)).toSeq ==
      Seq("sun", "kepler", "earth", "moon1"))
    // scalar-call sort key
    val lower = planner.run(
      "MATCH (t:Twin) RETURN t.name AS n ORDER BY toLower(t.name) DESC")
    assert(lower.collect().map(_.getString(0)).toSeq ==
      Seq("Sun", "Moon", "Kepler442b", "Earth"))
    // CASE sort key: life-bearing twins first, then by id
    val cased = planner.run(
      "MATCH (t:Twin) RETURN t.`$dtId` AS id " +
        "ORDER BY CASE WHEN t.hasLife = true THEN 0 ELSE 1 END, id")
    assert(cased.collect().map(_.getString(0)).toSeq ==
      Seq("earth", "kepler", "moon1", "sun"))
    // in a WITH horizon too
    val horizon = planner.run(
      "MATCH (t:Twin) WITH t ORDER BY t.mass * -1 LIMIT 2 " +
        "RETURN t.`$dtId` AS id ORDER BY id")
    assert(horizon.collect().map(_.getString(0)).toSeq == Seq("kepler", "sun"))
    // aggregated RETURN still requires naming an output column
    intercept[AdtPlanException](planner.run(
      "MATCH (t:Twin) RETURN t.name AS n, count(*) AS c ORDER BY c * 2"))
    // an output alias INSIDE an expression means the projected value,
    // not a (null) JSON property of the default entity
    val aliased = planner.run(
      "MATCH (t:Twin) RETURN t.name AS n ORDER BY toLower(n) DESC")
    assert(aliased.collect().map(_.getString(0)).toSeq ==
      Seq("Sun", "Moon", "Kepler442b", "Earth"))
    // DISTINCT + a non-returned sort key is nondeterministic → rejected
    intercept[AdtPlanException](planner.run(
      "MATCH (t:Twin) RETURN DISTINCT t.name AS n ORDER BY t.mass"))
  }

  test("exists(n.prop) legacy form and labels()") {
    assert(count("MATCH (t:Twin) WHERE exists(t.hasLife) RETURN t") == 1)
    assert(count("MATCH (t:Twin) WHERE NOT exists(t.hasLife) RETURN t") == 3)
    val l = planner.run(
      "MATCH (t:Twin {`$dtId`: 'earth'})-[r:orbits]->(b:Twin) " +
        "RETURN labels(t) AS tl, labels(r) AS rl").collect()(0)
    assert(l.getSeq[String](0).toList == List("dtmi:com:contoso:Planet;1"))
    assert(l.getSeq[String](1).toList == List("orbits"))
  }

  test("range(), head(), last() list functions") {
    val r = planner.run(
      "MATCH (t:Twin {`$dtId`: 'earth'}) RETURN range(1, 5) AS r, " +
        "range(1, 10, 3) AS s, range(5, 1) AS empty, range(5, 1, -2) AS down, " +
        "head(range(2, 9)) AS h, last(range(2, 9)) AS l").collect()(0)
    assert(r.getSeq[Long](0).toList == List(1L, 2L, 3L, 4L, 5L))
    assert(r.getSeq[Long](1).toList == List(1L, 4L, 7L, 10L))
    assert(r.getSeq[Long](2).isEmpty, "range(5,1) must be empty, not reversed")
    assert(r.getSeq[Long](3).toList == List(5L, 3L, 1L))
    assert(r.getLong(4) == 2L && r.getLong(5) == 9L)
  }

  test("list comprehension: filter, projection, and both") {
    val r = planner.run(
      "MATCH (t:Twin {`$dtId`: 'earth'}) RETURN " +
        "[x IN range(1, 6) WHERE x % 2 = 0] AS evens, " +
        "[x IN range(1, 3) | x * 10] AS tens, " +
        "[x IN range(1, 6) WHERE x > 3 | x + 100] AS both, " +
        "size([x IN range(1, 6) WHERE x >= 5]) AS n").collect()(0)
    assert(r.getSeq[Long](0).toList == List(2L, 4L, 6L))
    assert(r.getSeq[Long](1).toList == List(10L, 20L, 30L))
    assert(r.getSeq[Long](2).toList == List(104L, 105L, 106L))
    assert(r.getInt(3) == 2)
  }

  test("list comprehension over a collect() output and a literal list") {
    val all = planner.run(
      "MATCH (t:Twin) WITH collect(t.`$dtId`) AS ids " +
        "RETURN size([x IN ids WHERE x <> 'earth']) AS others").collect()(0)
    assert(all.getInt(0) == 3, "sun, moon1, kepler remain after filtering earth")
    val lits = planner.run(
      "MATCH (t:Twin {`$dtId`: 'earth'}) RETURN [x IN [3, 1, 2] | x * 2] AS d")
      .collect()(0)
    assert(lits.getSeq[Long](0).toList == List(6L, 2L, 4L))
  }

  test("reduce() folds a list; integer init stays integer") {
    val r = planner.run(
      "MATCH (t:Twin {`$dtId`: 'earth'}) RETURN " +
        "reduce(s = 0, x IN range(1, 10) | s + x) AS tri, " +
        "reduce(p = 1, x IN [1, 2, 3, 4] | p * x) AS fact").collect()(0)
    assert(r.getLong(0) == 55L)
    assert(r.getLong(1) == 24L)
  }

  test("head()/last() of an empty list answer null; range() step 0 errors") {
    val r = planner.run(
      "MATCH (t:Twin {`$dtId`: 'earth'}) RETURN " +
        "head([x IN range(1, 3) WHERE x > 5]) AS h, " +
        "last(range(5, 1)) AS l").collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1),
      "empty-list head/last must be null, not an ANSI index error")
    val boom = intercept[Exception](planner.run(
      "MATCH (t:Twin {`$dtId`: 'earth'}) RETURN range(1, 5, 0) AS r").collect())
    assert(boom.getMessage != null)
  }

  test("percentileDisc over an all-string property answers null, not a crash") {
    val r = planner.run(
      "MATCH (t:Twin) RETURN percentileDisc(t.name, 0.5) AS p").collect()(0)
    assert(r.isNullAt(0))
  }

  test("stdev/stdevP/percentileCont/percentileDisc aggregates") {
    val r = planner.run(
      "UNWIND [2, 4, 4, 4, 5, 5, 7, 9] AS x RETURN " +
        "stdevP(x) AS sdp, percentileDisc(x, 0.5) AS p50d, " +
        "percentileCont(x, 0.25) AS p25c, percentileDisc(x, 0) AS p0")
      .collect()(0)
    assert(r.getDouble(0) == 2.0) // the classic σ=2 set
    assert(r.getDouble(1) == 4.0, "disc p50 = 4th of 8 sorted values")
    assert(r.getDouble(2) == 4.0)
    assert(r.getDouble(3) == 2.0, "percentileDisc(x, 0) answers the minimum")
    val sd = planner.run(
      "UNWIND [2, 4, 4, 4, 5, 5, 7, 9] AS x RETURN stdev(x) AS sd")
      .collect()(0).getDouble(0)
    assert(math.abs(sd - 2.13808993) < 1e-6, s"sample stdev, got $sd")
    // grouped: per-model mass percentile over the fixture
    val grouped = planner.run(
      "MATCH (t:Twin) RETURN t.`$metadata`.`$model` AS m, " +
        "percentileDisc(t.mass, 1.0) AS pmax ORDER BY m")
    assert(grouped.collect().map(_.getDouble(1)).max == 1.989e30)
  }

  test("lambda variables shadow outer aliases and compose in WHERE") {
    // `x` is both an output alias and the comprehension variable — the
    // lambda binding must win inside the brackets
    val r = planner.run(
      "MATCH (t:Twin {`$dtId`: 'earth'}) WITH t.name AS x " +
        "RETURN x, size([x IN range(1, 4) WHERE x > 1]) AS n").collect()(0)
    assert(r.getString(0) == "Earth")
    assert(r.getInt(1) == 3)
    // comprehension in a WHERE predicate
    assert(count("MATCH (t:Twin) WHERE size([x IN range(1, 3) | x]) = 3 RETURN t") == 4)
  }

  test("shortestPath interior tie-break: canonical (smallest) path wins") {
    // diamond: a->x->b and a->y->b are BOTH shortest; openCypher allows
    // an arbitrary pick, ours is the deterministic lexicographic minimum
    // (node list, then rel list) so results and oracles are stable
    val spark = host.spark
    import spark.implicits._
    val twins = Seq("a", "x", "y", "b").map(id =>
        (id, "dtmi:t;1", null: String, "2026-01-01T00:00:00Z",
          s"""{"$$dtId":"$id"}"""))
      .toDF("dt_id", "model_id", "etag", "last_update_time", "properties")
    val rels = Seq(
      ("e1", "a", "x", "hop", null: String, "{}"),
      ("e2", "x", "b", "hop", null: String, "{}"),
      ("e3", "a", "y", "hop", null: String, "{}"),
      ("e4", "y", "b", "hop", null: String, "{}"))
      .toDF("relationship_id", "source_id", "target_id",
        "relationship_name", "etag", "properties")
    val models = Seq(("dtmi:t;1", Seq.empty[String], Seq.empty[String], "T"))
      .toDF("id", "bases", "descendants", "display_name")
    val p = new AdtPlanner(graft.graph.TwinGraph(twins, rels, models))
    val rows = p.run(
      "MATCH p = shortestPath((s:Twin)-[*1..3]->(t:Twin)) " +
        "WHERE s.`$dtId` = 'a' AND t.`$dtId` = 'b' " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs").collect()
    assert(rows.length == 1, "one row per endpoint pair")
    assert(rows(0).getSeq[String](0).toList == List("a", "x", "b"))
    assert(rows(0).getSeq[String](1).toList == List("e1", "e2"))
  }

  test("any/all/none/single list predicates (openCypher quantifiers)") {
    // fixture twins: earth, moon1, kepler, sun
    assert(count("MATCH (t:Twin) WHERE any(x IN ['earth','nope'] " +
      "WHERE x = t.`$dtId`) RETURN t") == 1)
    // all: every element of range(1,3) below the twin count ⇔ always true
    assert(count("MATCH (t:Twin) WHERE all(x IN range(1, 3) WHERE x <= 3) " +
      "RETURN t") == 4)
    assert(count("MATCH (t:Twin) WHERE all(x IN range(1, 4) WHERE x <= 3) " +
      "RETURN t") == 0)
    assert(count("MATCH (t:Twin) WHERE none(x IN range(1, 3) WHERE x > 5) " +
      "RETURN t") == 4)
    assert(count("MATCH (t:Twin) WHERE single(x IN range(1, 5) " +
      "WHERE x % 4 = 0) RETURN t") == 4)
    // composes under NOT, with the bound entity feeding the source list
    // (list literals hold literals only, so derive the list from a prop)
    assert(count("MATCH (t:Twin) WHERE NOT any(x IN split(t.`$dtId`, ',') " +
      "WHERE x = 'earth') RETURN t") == 3)
  }

  test("quantifiers with NULL predicates filter like openCypher (ADVICE r12)") {
    // t.nosuch is undefined on every twin, so `t.nosuch = x` is NULL per
    // element. openCypher ternary logic makes the quantifier NULL, which in
    // WHERE filters the row — the pre-r13 all() desugaring counted NULLs as
    // non-counterexamples and passed all 4 rows.
    assert(count("MATCH (t:Twin) WHERE all(x IN range(1, 3) " +
      "WHERE t.nosuch = x) RETURN t") == 0)
    assert(count("MATCH (t:Twin) WHERE none(x IN range(1, 3) " +
      "WHERE t.nosuch = x) RETURN t") == 0)
    // mixed: one definite true, the rest NULL — all()/single() are NULL in
    // openCypher (no false counterexample, but unresolved elements), so
    // the row is filtered
    assert(count("MATCH (t:Twin) WHERE all(x IN range(1, 3) " +
      "WHERE x = 1 OR t.nosuch = x) RETURN t") == 0)
    assert(count("MATCH (t:Twin) WHERE single(x IN range(1, 3) " +
      "WHERE x = 1 OR t.nosuch = x) RETURN t") == 0)
    // any() needs one definite true regardless of NULL siblings — passes
    assert(count("MATCH (t:Twin) WHERE any(x IN range(1, 3) " +
      "WHERE x = 1 OR t.nosuch = x) RETURN t") == 4)
    // positive controls: fully-definite predicates still satisfy
    assert(count("MATCH (t:Twin) WHERE all(x IN range(1, 3) WHERE x >= 1) " +
      "RETURN t") == 4)
    assert(count("MATCH (t:Twin) WHERE none(x IN range(1, 3) WHERE x > 5) " +
      "RETURN t") == 4)
    assert(count("MATCH (t:Twin) WHERE single(x IN range(1, 3) WHERE x = 2) " +
      "RETURN t") == 4)
  }

  test("RETURN * with a path variable expands it (r17; was loud ADVICE r12)") {
    val df = planner.run("MATCH p = (a:Twin)-[r:orbits]->(b:Twin) RETURN *")
    assert(df.count() == 3)
    for (c <- Seq("p_nodes", "p_rels", "p_depth", "a_dt_id",
        "r_relationship_id", "b_dt_id"))
      assert(df.columns.contains(c), df.columns.mkString(","))
    val row = df.filter("a_dt_id = 'earth'").collect()(0)
    assert(row.getSeq[String](df.columns.indexOf("p_nodes")) ==
      Seq("earth", "sun"))
    assert(row.getSeq[String](df.columns.indexOf("p_rels")) == Seq("r2"))
    assert(row.getLong(df.columns.indexOf("p_depth")) == 1L)
  }

  test("user identifiers with the internal __cnode prefix are rejected (ADVICE r12)") {
    // a binding named __cnode1 would collide with the anonymous-node pool
    // and be silently dropped from RETURN * — reject at parse time instead
    intercept[AdtParseException] {
      planner.run("MATCH (__cnode1:Twin) RETURN *")
    }
    intercept[AdtParseException] {
      planner.run("MATCH (t:Twin) RETURN t.`$dtId` AS __cnode9")
    }
  }

  test("model graph: :Model label routes the shared planner onto model nodes") {
    // MATCH (m:Model)-[e:_extends]->(parent:Model) — QueryTests.cs:1201 —
    // through the SAME planner instance the twin queries use
    val out = planner.run(
      "MATCH (m:Model)-[e:_extends]->(p:Model) " +
        "RETURN m.id AS model, p.id AS parent")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(
      ("dtmi:com:contoso:Planet;1", "dtmi:com:contoso:CelestialBody;1"),
      ("dtmi:com:contoso:HabitablePlanet;1", "dtmi:com:contoso:Planet;1"),
      ("dtmi:com:contoso:Moon;1", "dtmi:com:contoso:CelestialBody;1")))
    // :Twin patterns stay on the twin graph (4 twins, not 4 models by id)
    assert(planner.run("MATCH (t:Twin) RETURN t.`$dtId` AS id")
      .collect().map(_.getString(0)).toSet ==
      Set("sun", "moon1", "earth", "kepler"))
    // mixing node sets in one query is a loud plan error
    intercept[AdtPlanException] {
      planner.run("MATCH (m:Model), (t:Twin) RETURN m.id, t.`$dtId`")
    }
  }

  test("model graph: stored DTDL docs drive _extends and _hasComponent edges") {
    val s = host.spark; import s.implicits._
    val models = Seq(
      ("dtmi:g:base;1", Seq.empty[String],
        """{"@id":"dtmi:g:base;1","@type":"Interface","contents":[]}"""),
      ("dtmi:g:thermo;1", Seq.empty[String],
        """{"@id":"dtmi:g:thermo;1","@type":"Interface","contents":[]}"""),
      ("dtmi:g:room;1", Seq("dtmi:g:base;1"),
        """{"@id":"dtmi:g:room;1","@type":"Interface",
          |"extends":["dtmi:g:base;1"],"contents":[
          |{"@type":"Component","name":"t","schema":"dtmi:g:thermo;1"}]}"""
          .stripMargin)
    ).toDF("id", "bases", "dtdl")
    val empty = Seq.empty[(String, String, String, String, String)]
      .toDF("dt_id", "model_id", "etag", "last_update_time", "properties")
    val emptyRels = Seq.empty[(String, String, String, String, String, String)]
      .toDF("relationship_id", "source_id", "target_id",
        "relationship_name", "etag", "properties")
    val base = graft.graph.TwinGraph(empty, emptyRels, models)
    val edges = base.modelGraph.relationships.collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(edges == Set(
      ("dtmi:g:room;1", "dtmi:g:base;1", "_extends"),
      ("dtmi:g:room;1", "dtmi:g:thermo;1", "_hasComponent")))
    // and the component edge is Cypher-reachable via label routing
    val comp = new AdtPlanner(base).run(
      "MATCH (m:Model)-[c:_hasComponent]->(s:Model) RETURN s.id AS sid")
      .collect().map(_.getString(0)).toSeq
    assert(comp == Seq("dtmi:g:thermo;1"))
  }
}
