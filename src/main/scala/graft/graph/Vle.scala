package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Unbounded variable-length path expansion (SURVEY §2 B7) — Cypher
  * `-[*]->` / `-[:name*1..]->`, which the reference passes through to AGE's
  * recursive VLE executor (Query.cs:122-129).
  *
  * Spark-first design: frontier-based BFS as iterative DataFrame joins.
  * Per-iteration `localCheckpoint` truncates the exploding lineage — the
  * classic iterative-algorithm failure mode on Spark — and persistence is
  * MEMORY_AND_DISK so a 100 TB frontier spills instead of OOMing. The loop
  * converges when the frontier empties (transitive closure) or at maxIter.
  */
object Vle {

  /** Static depth floor for the trail-enumeration regime (min>1): up to
    * this depth enumeration always runs. Beyond it, enumeration CONTINUES
    * to maxDepth as long as the edge-subset frontier stays under
    * [[TrailEnumRowBudget]] rows — so open-ended ranges ('*2..' parses to
    * 2..30) are exact on all but adversarially cyclic graphs, where the
    * frontier explodes combinatorially and the run is truncated with a
    * driver-log warning instead of silently. Both bound the resources one
    * user query may use, so both are configurable:
    * `spark.graft.vle.trailEnumDepthCap` / `spark.graft.vle.trailEnumRowBudget`. */
  val TrailEnumDepthCap = 8

  /** Frontier-row ceiling for trail enumeration beyond the static cap. */
  val TrailEnumRowBudget = 2000000L

  /** Largest static bound [[reachability]] expands as a plain join chain. */
  private val JoinChainMaxDepth = 3

  /** Observed-work telemetry for VLE expansion (SURVEY B20): iteration
    * count + peak frontier rows, recorded by the BFS loop and the trail
    * enumerator. The reference bills VLE queries a flat +10 surcharge
    * (AgeDigitalTwinsClient.Query.cs:240-257, from a static
    * `isVariableLengthEdgeQuery` flag); with these metrics the charge
    * model can reproduce that surcharge from work the engine actually
    * performed — and operators get convergence visibility (how many
    * rounds, how wide the frontier got) for free.
    *
    * Activate for the current thread with [[withMetrics]] — the driver
    * loop of every Vle entry point called inside the scope records here.
    * Frontier counts are read off eager localCheckpoints (already
    * materialized blocks), so recording adds row-count jobs over cached
    * partitions, never a recompute of the expansion. */
  final class Metrics {
    @volatile var iterations: Int = 0
    @volatile var frontierPeak: Long = 0L
    /** True when a variable-length expansion actually ran in scope. */
    def observedVle: Boolean = iterations > 0
    /** The reference's +10 VLE surcharge, derived from observed work. */
    def surcharge: Double = if (observedVle) 10.0 else 0.0
  }

  private val activeMetrics = new ThreadLocal[Metrics]

  /** Run `body` with `m` as this thread's active VLE metrics collector. */
  def withMetrics[T](m: Metrics)(body: => T): T = {
    activeMetrics.set(m)
    try body finally activeMetrics.remove()
  }

  private def metricsOn: Boolean = activeMetrics.get() != null

  private def record(iteration: Int, frontierRows: Long): Unit = {
    val m = activeMetrics.get()
    if (m != null) {
      if (iteration > m.iterations) m.iterations = iteration
      if (frontierRows > m.frontierPeak) m.frontierPeak = frontierRows
    }
  }

  private def filtered(edges: DataFrame, relNames: Seq[String]): DataFrame = {
    val e0 =
      if (relNames.isEmpty) edges
      else if (relNames.size == 1)
        edges.filter(col("relationship_name") === relNames.head)
      else edges.filter(col("relationship_name").isin(relNames: _*))
    e0.select(col("source_id"), col("target_id")).distinct()
  }

  /** Restrict the DEPTH-1 start set of an expansion: literal ids filter in
    * place; a DataFrame seed semi-joins on its first column (the planner's
    * frontier-seeded form, used when the bound side is a filtered frame
    * rather than literals — r16 VERDICT #1: expansion work must be O(cone
    * of the bound set), not O(graph)). Only the first hop is restricted;
    * later hops traverse the full edge set, as the cone's interior
    * requires. The semi-join is AQE-broadcastable when the seed is small —
    * the selective-filter case this exists for. */
  private def seedStarts(e: DataFrame, sourceIds: Option[Seq[String]],
      seed: Option[DataFrame]): DataFrame = {
    val s1 = sourceIds.fold(e)(ids => e.filter(col("source_id").isin(ids: _*)))
    seed.fold(s1) { sd =>
      val ids = sd.select(col(sd.columns.head).as("__seed_id")).distinct()
      s1.join(ids, s1("source_id") === col("__seed_id"), "left_semi")
    }
  }

  /** Transitive reachability (start_id, end_id, depth = minimal hops).
    * `maxIter` bounds pathological cycles; Int.MaxValue = run to fixpoint.
    * Minimal-depth pruning (the visited anti-join) is sound here because a
    * pair is "reachable" iff it is reachable at its minimal depth.
    *
    * Two regimes. For small static bounds (maxIter ≤
    * [[JoinChainMaxDepth]]) the expansion is a
    * plain chain of joins — no persist, no per-iteration checkpoint, no
    * isEmpty probes: Catalyst plans the whole thing as one job, which is
    * both the fastest local plan and the one you'd want on a cluster (the
    * checkpoint machinery exists to cut iterative lineage, and a ≤3-join
    * plan has none worth cutting). NOTE the perf contract: the chain
    * regime returns a LAZY plan — a caller that triggers multiple actions
    * over it re-executes the chain each time (persist/checkpoint it
    * yourself if you re-read; `range`'s minDepth>1 branch already does).
    * The BFS regime returns an eager localCheckpoint, read-many for free.
    * Deep or unbounded expansion keeps the
    * frontier-BFS with per-iteration lineage truncation, and explicitly
    * frees each superseded checkpoint instead of waiting for a driver GC. */
  def reachability(edges: DataFrame, relNames: Seq[String] = Nil,
      maxIter: Int = 100, checkpointEvery: Int = 3,
      sourceIds: Option[Seq[String]] = None,
      sourceDf: Option[DataFrame] = None): DataFrame = {
    if (maxIter <= JoinChainMaxDepth)
      return joinChain(edges, relNames, maxIter, sourceIds, sourceDf)

    import graft.core.Blocks
    val e = filtered(edges, relNames).persist(StorageLevel.MEMORY_AND_DISK)

    // A bound start set prunes the whole expansion to the reachable cone —
    // at scale, the difference between scanning a 100 TB edge set once per
    // hop and touching only the frontier's neighborhoods.
    val seed = seedStarts(e, sourceIds, sourceDf)
    var visited = seed.select(col("source_id").as("start_id"),
      col("target_id").as("end_id"), lit(1).as("depth"))
      .localCheckpoint(eager = true)
    if (metricsOn) record(1, visited.count())
    var visitedCp = visited // last checkpoint holding the visited base rows
    var frontier = visited
    var depth = 1
    var done = false
    // Intermediate frames awaiting release: a checkpoint truncates the
    // lineage that referenced them, at which point persists can be
    // unpersisted and superseded checkpoint blocks freed — leaving either
    // around accumulates across a long multi-query session.
    var pending: List[DataFrame] = Nil
    var oldFrontiers: List[DataFrame] = Nil
    while (!done && depth < maxIter) {
      // localCheckpoint every iteration: lineage of an iterative join grows
      // multiplicatively and both planning time and driver memory blow up
      // without truncation.
      val next = frontier.join(e, col("end_id") === col("source_id"))
        .select(col("start_id"), col("target_id").as("end_id"),
          lit(depth + 1).as("depth"))
        .distinct()
        .join(visited.select(col("start_id").as("vs"), col("end_id").as("ve")),
          col("start_id") === col("vs") && col("end_id") === col("ve"), "left_anti")
        .localCheckpoint(eager = true)
      // with metrics on, the emptiness probe doubles as the frontier count
      // (next is an eager checkpoint — counting reads cached blocks)
      val frontierRows =
        if (metricsOn) next.count() else if (next.isEmpty) 0L else -1L
      if (frontierRows == 0L) { done = true; Blocks.free(next) }
      else {
        record(depth + 1, frontierRows)
        oldFrontiers = frontier :: oldFrontiers
        val grown = visited.unionByName(next)
        visited =
          if (depth % checkpointEvery == 0) {
            val cp = grown.localCheckpoint(eager = true)
            pending.foreach(_.unpersist(false)); pending = Nil
            // cp holds every row; the previous checkpoint and the frontier
            // checkpoints folded into it are no longer reachable from any
            // live plan
            Blocks.free(visitedCp)
            oldFrontiers.foreach(Blocks.free); oldFrontiers = Nil
            visitedCp = cp
            cp
          } else {
            val p = grown.persist(StorageLevel.MEMORY_AND_DISK)
            pending = p :: pending
            p
          }
        frontier = next
        depth += 1
      }
    }
    // sever lineage so the edge cache can be released per-invocation; when
    // the loop ended exactly on a checkpoint the result IS that checkpoint
    val out =
      if (visited eq visitedCp) visited
      else {
        val cp = visited.localCheckpoint(eager = true)
        pending.foreach(_.unpersist(false))
        Blocks.free(visitedCp)
        cp
      }
    oldFrontiers.foreach(Blocks.free)
    if (!(frontier eq out)) Blocks.free(frontier)
    e.unpersist(false)
    out
  }

  /** Small-bound regime: minimal-depth reachability as one declarative
    * plan — d chained joins, per-level distinct, and a final min(depth)
    * aggregation. Reads the edge frame up to `maxDepth` times, which for
    * maxDepth ≤ 3 is cheaper than materializing it, locally and at scale. */
  private def joinChain(edges: DataFrame, relNames: Seq[String],
      maxDepth: Int, sourceIds: Option[Seq[String]],
      sourceDf: Option[DataFrame] = None): DataFrame = {
    // declarative regime: the chain depth is the iteration count; frontier
    // sizes are not observable without forcing the lazy plan, so only the
    // depth is recorded (enough to reproduce the VLE surcharge)
    record(maxDepth, 0L)
    val e = filtered(edges, relNames)
    val seed = seedStarts(e, sourceIds, sourceDf)
    var level = seed.select(col("source_id").as("start_id"),
      col("target_id").as("end_id")).distinct()
    var acc = level.withColumn("depth", lit(1))
    for (d <- 2 to maxDepth) {
      level = level
        .join(e.select(col("source_id"), col("target_id")),
          col("end_id") === col("source_id"))
        .select(col("start_id"), col("target_id").as("end_id"))
        .distinct()
      acc = acc.unionByName(level.withColumn("depth", lit(d)))
    }
    acc.groupBy(col("start_id"), col("end_id")).agg(min(col("depth")).as("depth"))
  }

  /** Bounded range form `-[*min..max]->` with Cypher/AGE *exists-a-trail*
    * semantics (openCypher relationship uniqueness: no edge traversed twice
    * in one path; nodes MAY repeat): a pair qualifies when SOME trail of
    * length d ∈ [min,max] connects it, even if a shorter out-of-range trail
    * also exists. `depth` is the minimal in-range trail length per pair.
    *
    * Regimes:
    *  - min <= 1: every reachable pair's minimal depth is in range, and a
    *    shortest walk never repeats a vertex (hence never an edge), so
    *    exists-trail ≡ exists-walk and the linear minimal-depth BFS applies.
    *  - min > 1: hybrid. The BFS still answers for every pair whose minimal
    *    depth d0 lands in [min,max] (the shortest walk is simple, hence a
    *    valid trail). Only pairs with d0 < min need edge-set trail
    *    enumeration — moon1→earth→moon1→earth reuses an edge, so a longer
    *    in-range trail may or may not exist for them. That enumeration runs
    *    ONLY from the affected start nodes, carries the set of traversed
    *    edge ids (deduped on (start, end, sorted edge-set)), and is capped
    *    at [[TrailEnumDepthCap]] — exact for every reference-shaped range
    *    (*2..2 … *3..6), under-approximating only ultra-deep redemption
    *    trails on open-ended ranges like `*2..`. */
  def range(edges: DataFrame, minDepth: Int, maxDepth: Int,
      relNames: Seq[String] = Nil, nodes: Option[DataFrame] = None,
      sourceIds: Option[Seq[String]] = None,
      targetIds: Option[Seq[String]] = None,
      sourceDf: Option[DataFrame] = None,
      targetDf: Option[DataFrame] = None): DataFrame = {
    require(maxDepth >= minDepth, s"VLE range $minDepth..$maxDepth is empty")
    require(minDepth >= 0, s"VLE range lower bound must be >= 0, got $minDepth")
    if (sourceIds.isEmpty && sourceDf.isEmpty &&
        (targetIds.isDefined || targetDf.isDefined)) {
      // bound TARGET, unbound source: expand backward from the targets over
      // the reversed edge set (same trail semantics — reversing preserves
      // edge identity), then swap endpoints back
      val rev = edges
        .withColumnRenamed("source_id", "__vle_tmp")
        .withColumnRenamed("target_id", "source_id")
        .withColumnRenamed("__vle_tmp", "target_id")
      return range(rev, minDepth, maxDepth, relNames, nodes,
          sourceIds = targetIds, sourceDf = targetDf)
        .select(col("end_id").as("start_id"), col("start_id").as("end_id"),
          col("depth"))
    }
    if (minDepth == 0) {
      // openCypher `*0..n` includes the zero-length path: every bound start
      // node pairs with itself at depth 0. The node universe comes from the
      // caller (the planner's bound twin set) when available; otherwise the
      // endpoints of the filtered edge set — the only nodes a caller joining
      // on this edge-derived frame could observe anyway.
      val universe = nodes.map(_.select(col(nodes.get.columns.head).as("n")))
        .getOrElse(filtered(edges, relNames)
          .select(explode(array(col("source_id"), col("target_id"))).as("n")))
        .distinct()
      val self = universe.select(col("n").as("start_id"), col("n").as("end_id"),
        lit(0).as("depth"))
      if (maxDepth == 0) self
      else self.unionByName(
        range(edges, 1, maxDepth, relNames, sourceIds = sourceIds,
            sourceDf = sourceDf)
          .filter(col("start_id") =!= col("end_id")))
    } else if (minDepth <= 1)
      reachability(edges, relNames, maxIter = maxDepth,
          sourceIds = sourceIds, sourceDf = sourceDf)
        .filter(col("depth") <= maxDepth)
    else {
      val bfs = reachability(edges, relNames, maxIter = maxDepth,
          sourceIds = sourceIds, sourceDf = sourceDf)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val inRange = bfs.filter(col("depth") >= minDepth && col("depth") <= maxDepth)
      val shortPairs = bfs.filter(col("depth") < minDepth)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val out =
        if (shortPairs.isEmpty) inRange.localCheckpoint(eager = true)
        else {
          val redeemed = trailEnumerate(edges, relNames, minDepth, maxDepth,
            shortPairs)
          // keep only redeemed pairs NOT already found in range by BFS (the
          // BFS depth is the true minimal in-range depth when present)
          val extra = redeemed.join(
            inRange.select(col("start_id").as("rs"), col("end_id").as("re")),
            col("start_id") === col("rs") && col("end_id") === col("re"),
            "left_anti")
          inRange.unionByName(extra).localCheckpoint(eager = true)
        }
      bfs.unpersist(false)
      shortPairs.unpersist(false)
      out
    }
  }

  /** Per-TRAIL enumeration with interiors, for bounded ranges: one row per
    * distinct trail (ordered edge list, openCypher relationship
    * uniqueness), carrying `node_ids` (node ids in traversal order, both
    * endpoints included) and `rel_ids` (edge ids in order) — the lists
    * `nodes(p)` / `relationships(p)` need over a VLE path (AGE returns
    * full paths from its VLE executor, Query.cs:122-129; here the
    * interior rides the frontier rows as array columns, so the whole
    * enumeration stays a distributed plan).
    *
    * Row multiplicity is PER PATH (two trails between the same endpoints =
    * two rows), unlike [[range]]'s per-pair rows — callers choose by
    * whether the query observes the interior. `maxDepth` must stay within
    * `spark.graft.vle.trailEnumDepthCap` (the planner rejects wider
    * ranges); within the cap the frontier is additionally guarded by
    * `spark.graft.vle.trailEnumRowBudget` against combinatorially cyclic
    * graphs (truncates with a driver-log warning, as [[trailEnumerate]]
    * does). */
  def trails(edges: DataFrame, minDepth: Int, maxDepth: Int,
      relNames: Seq[String] = Nil, nodes: Option[DataFrame] = None,
      sourceIds: Option[Seq[String]] = None,
      targetIds: Option[Seq[String]] = None,
      sourceDf: Option[DataFrame] = None,
      targetDf: Option[DataFrame] = None): DataFrame = {
    require(maxDepth >= minDepth, s"VLE range $minDepth..$maxDepth is empty")
    require(minDepth >= 0, s"VLE range lower bound must be >= 0, got $minDepth")
    val conf = edges.sparkSession.conf
    val cap = conf
      .get("spark.graft.vle.trailEnumDepthCap", TrailEnumDepthCap.toString).toInt
    require(maxDepth <= cap,
      s"trails() enumerates bounded ranges only: max depth $maxDepth exceeds " +
        s"spark.graft.vle.trailEnumDepthCap=$cap")
    if (sourceIds.isEmpty && sourceDf.isEmpty &&
        (targetIds.isDefined || targetDf.isDefined)) {
      // bound TARGET only: enumerate backward over the reversed edge set
      // (edge identity survives reversal), then flip lists back to forward
      // traversal order and swap the endpoints.
      val rev = edges
        .withColumnRenamed("source_id", "__vle_tmp")
        .withColumnRenamed("target_id", "source_id")
        .withColumnRenamed("__vle_tmp", "target_id")
      return trails(rev, minDepth, maxDepth, relNames, nodes,
          sourceIds = targetIds, sourceDf = targetDf)
        .select(col("end_id").as("start_id"), col("start_id").as("end_id"),
          col("depth"), reverse(col("node_ids")).as("node_ids"),
          reverse(col("rel_ids")).as("rel_ids"))
    }
    val named =
      if (relNames.isEmpty) edges
      else edges.filter(col("relationship_name").isin(relNames: _*))
    // Edge identity for both uniqueness and the relationships(p) output:
    // the real relationship_id when the graph has one, else a
    // "\u0001"-separated composite (see trailEnumerate).
    val withId =
      if (named.columns.contains("relationship_id"))
        named.withColumn("__eid", col("relationship_id"))
      else if (named.columns.contains("relationship_name"))
        named.withColumn("__eid", concat_ws("\u0001",
          col("source_id"), col("target_id"), col("relationship_name")))
      else named.withColumn("__eid",
        concat_ws("\u0001", col("source_id"), col("target_id")))
    val e = withId.select(col("source_id"), col("target_id"), col("__eid"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val rowBudget = conf
      .get("spark.graft.vle.trailEnumRowBudget", TrailEnumRowBudget.toString).toLong

    import graft.core.Blocks
    val frames = collection.mutable.ListBuffer[DataFrame]() // in-range levels
    // the zero-length path: (n, n, [n], []) for every node in the caller's
    // universe (openCypher *0..k matches nodes regardless of edges)
    if (minDepth == 0) {
      val universe = nodes.map(n => n.select(col(n.columns.head).as("n")))
        .getOrElse(e.select(explode(array(col("source_id"), col("target_id")))
          .as("n")))
        .distinct()
      val bound0 = sourceIds.fold(universe)(ids =>
        universe.filter(col("n").isin(ids: _*)))
      val bound = sourceDf.fold(bound0) { sd =>
        val ids = sd.select(col(sd.columns.head).as("__seed_id")).distinct()
        bound0.join(ids, col("n") === col("__seed_id"), "left_semi")
      }
      frames += bound.select(col("n").as("start_id"), col("n").as("end_id"),
        lit(0).as("depth"), array(col("n")).as("node_ids"),
        array().cast("array<string>").as("rel_ids"))
    }
    var frontier = seedStarts(e, sourceIds, sourceDf)
      .select(col("source_id").as("start_id"), col("target_id").as("end_id"),
        lit(1).as("depth"),
        array(col("source_id"), col("target_id")).as("node_ids"),
        array(col("__eid")).as("rel_ids"))
      .localCheckpoint(eager = true)
    val frontiers = collection.mutable.ListBuffer(frontier)
    if (minDepth <= 1 && maxDepth >= 1) frames += frontier
    var depth = 1
    var emptied = frontier.isEmpty
    if (metricsOn && !emptied) record(1, frontier.count())
    def overBudget(): Boolean = {
      val n = frontier.count()
      record(depth, n)
      val over = n > rowBudget
      if (over) org.apache.log4j.Logger.getLogger(getClass).warn(
        s"VLE path enumeration truncated at depth $depth/$maxDepth: frontier " +
          s"exceeds $rowBudget rows (spark.graft.vle.trailEnumRowBudget); " +
          "deeper paths are missing from nodes()/relationships() output")
      over
    }
    while (!emptied && depth < maxDepth && !overBudget()) {
      val next = frontier.join(e, col("end_id") === col("source_id"))
        .filter(!array_contains(col("rel_ids"), col("__eid")))
        .select(col("start_id"), col("target_id").as("end_id"),
          lit(depth + 1).as("depth"),
          concat(col("node_ids"), array(col("target_id"))).as("node_ids"),
          concat(col("rel_ids"), array(col("__eid"))).as("rel_ids"))
        .localCheckpoint(eager = true)
      depth += 1
      if (next.isEmpty) { emptied = true; Blocks.free(next) }
      else {
        frontier = next
        frontiers += next
        if (depth >= minDepth) frames += next
      }
    }
    val raw =
      if (frames.isEmpty)
        frontier.limit(0) // schema-correct empty frame
      else frames.reduce(_.unionByName(_))
    val filtered1 = targetIds.fold(raw)(ids =>
      raw.filter(col("end_id").isin(ids: _*)))
    val filteredOut = targetDf.fold(filtered1) { td =>
      val ids = td.select(col(td.columns.head).as("__seed_id")).distinct()
      filtered1.join(ids, col("end_id") === col("__seed_id"), "left_semi")
    }
    val out = filteredOut.localCheckpoint(eager = true)
    frontiers.foreach(Blocks.free)
    e.unpersist(false)
    out
  }

  /** Canonical shortest path per endpoint pair WITH interiors — what
    * `nodes(p)`/`relationships(p)` over `p = shortestPath(...)` needs.
    * openCypher's shortestPath returns an arbitrary one of the minimal
    * paths; an arbitrary pick breaks both result determinism and oracle
    * comparison, so the tie-break is total and deterministic: minimal
    * depth, then lexicographically smallest node list, then edge list
    * (ids joined with "\u0001" so composite boundaries can't collide).
    * Ties of the full key are identical paths, so `min_by` is stable.
    *
    * Costs a bounded trail enumeration rather than the per-pair BFS —
    * callers (the planner) choose this form only when the query actually
    * observes the interior, and the depth cap bounds the blow-up.
    * CAVEAT inherited from [[trails]]: on adversarially cyclic graphs the
    * frontier row budget truncates enumeration (driver-log warning), so a
    * pair whose only shortest path lies beyond the truncation depth is
    * absent here even though the BFS form would return it — observing the
    * interior can narrow the pair set on such graphs. */
  def shortestPaths(edges: DataFrame, minDepth: Int, maxDepth: Int,
      relNames: Seq[String] = Nil, nodes: Option[DataFrame] = None,
      sourceIds: Option[Seq[String]] = None,
      targetIds: Option[Seq[String]] = None,
      sourceDf: Option[DataFrame] = None,
      targetDf: Option[DataFrame] = None): DataFrame =
    trails(edges, minDepth, maxDepth, relNames, nodes, sourceIds, targetIds,
        sourceDf, targetDf)
      .groupBy(col("start_id"), col("end_id"))
      .agg(min_by(
        struct(col("depth"), col("node_ids"), col("rel_ids")),
        struct(col("depth"), array_join(col("node_ids"), "\u0001"),
          array_join(col("rel_ids"), "\u0001"))).as("__best"))
      .select(col("start_id"), col("end_id"),
        col("__best.depth").as("depth"),
        col("__best.node_ids").as("node_ids"),
        col("__best.rel_ids").as("rel_ids"))

  /** Edge-set trail enumeration restricted to start nodes that have some
    * pair below minDepth (`shortPairs`); returns (start_id, end_id, depth)
    * for pairs in `shortPairs` reached by a trail of in-range length. */
  private def trailEnumerate(edges: DataFrame, relNames: Seq[String],
      minDepth: Int, maxDepth: Int, shortPairs: DataFrame): DataFrame = {
    val named =
      if (relNames.isEmpty) edges
      else edges.filter(col("relationship_name").isin(relNames: _*))
    // Relationship uniqueness is per edge *identity*: parallel edges are
    // distinct traversals. Use the real id when the graph has one; else a
    // (source, target, name) composite is the closest stable identity.
    // The explicit "\u0001" unit separator keeps ("a","bc") and ("ab","c")
    // from colliding into one composite id (VleSpec has the collision case).
    val withId =
      if (named.columns.contains("relationship_id"))
        named.withColumn("__eid", col("relationship_id"))
      else if (named.columns.contains("relationship_name"))
        named.withColumn("__eid", concat_ws("\u0001",
          col("source_id"), col("target_id"), col("relationship_name")))
      else named.withColumn("__eid",
        concat_ws("\u0001", col("source_id"), col("target_id")))
    val e = withId.select(col("source_id"), col("target_id"), col("__eid"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val starts = shortPairs.select(col("start_id")).distinct()
    val conf = edges.sparkSession.conf
    val staticCap = math.max(minDepth, conf
      .get("spark.graft.vle.trailEnumDepthCap", TrailEnumDepthCap.toString).toInt)
    val rowBudget = conf
      .get("spark.graft.vle.trailEnumRowBudget", TrailEnumRowBudget.toString).toLong

    var frontier = e
      .join(starts.select(col("start_id").as("source_id")), Seq("source_id"),
        "left_semi")
      .select(col("source_id").as("start_id"), col("target_id").as("end_id"),
        array(col("__eid")).as("eset"))
      .localCheckpoint(eager = true)
    var result: DataFrame = null
    var depth = 1
    var emptied = frontier.isEmpty
    // Beyond the static cap, keep enumerating only while the edge-subset
    // frontier stays within budget — exact for open-ended ranges ('*2..'
    // = 2..30) on normal graphs; combinatorially cyclic graphs truncate
    // with a logged warning instead of silently.
    def overBudget(): Boolean = depth >= staticCap && {
      val over = frontier.count() > rowBudget
      if (over) org.apache.log4j.Logger.getLogger(getClass).warn(
        s"VLE trail enumeration truncated at depth $depth/$maxDepth: " +
          s"frontier exceeds $rowBudget rows " +
          "(spark.graft.vle.trailEnumRowBudget); pairs whose only in-range " +
          "trail is deeper are under-approximated")
      over
    }
    import graft.core.Blocks
    while (!emptied && depth < maxDepth && !overBudget()) {
      val next = frontier.join(e, col("end_id") === col("source_id"))
        .filter(!array_contains(col("eset"), col("__eid")))
        .select(col("start_id"), col("target_id").as("end_id"),
          array_sort(concat(col("eset"), array(col("__eid")))).as("eset"))
        .distinct()
        .localCheckpoint(eager = true)
      depth += 1
      if (next.isEmpty) { emptied = true; Blocks.free(next) }
      else {
        Blocks.free(frontier) // superseded: next's checkpoint holds the rows
        frontier = next
        if (depth >= minDepth) {
          val pairs = frontier.select(col("start_id"), col("end_id"))
            .distinct().withColumn("depth", lit(depth))
          // anti-join so each pair keeps its first (minimal) in-range depth
          val grown =
            (if (result == null) pairs
             else result.unionByName(pairs.join(
               result.select(col("start_id").as("rs"), col("end_id").as("re")),
               col("start_id") === col("rs") && col("end_id") === col("re"),
               "left_anti")))
              .localCheckpoint(eager = true)
          if (result != null) Blocks.free(result)
          result = grown
        }
      }
    }
    Blocks.free(frontier)
    e.unpersist(false)
    if (result == null)
      shortPairs.select(col("start_id"), col("end_id"), lit(0).as("depth"))
        .limit(0)
    else
      // only pairs that actually needed redemption (d0 < min)
      result.join(shortPairs.select(col("start_id").as("ss"),
          col("end_id").as("se")),
        col("start_id") === col("ss") && col("end_id") === col("se"),
        "left_semi")
  }
}
