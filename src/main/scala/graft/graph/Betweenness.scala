package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Blocks

/** K-source betweenness centrality — Brandes' dependency accumulation
  * (Brandes 2001, "A faster algorithm for betweenness centrality"),
  * batched over all sources at once: every BFS round and every backward
  * accumulation round is ONE equi-join + combinable aggregate keyed by
  * (source, node), so k sources cost the same number of Spark stages as
  * one. Sampling sources is the standard scale path (Brandes/Pich 2007
  * approximation); with sources = all nodes this is exact betweenness.
  *
  * Forward: unweighted BFS by depth rounds; sigma(s,v) = number of
  * shortest s→v paths = sum of predecessor sigmas (exact integers).
  * Backward: depth layers processed deepest-first;
  *   delta(v) = Σ_{w ∈ succ(v)} (sigma_v · (SCALE + delta_w)) div sigma_w
  * in micro-unit integers — each term is an integer division computed
  * per (v,w) pair and the sum is order-independent, so results are
  * bit-identical on any partitioning and mirrorable in oracle SQL.
  * bc(v) = Σ_sources delta(s,v) over rows with dist > 0 (a source never
  * accumulates its own dependency, Brandes' v ≠ s rule).
  *
  * Scale shape: per-round lineage truncated via eager localCheckpoint
  * in a [[graft.core.Blocks.Scope]] (layer tables are kept — the backward
  * pass re-reads them — and freed on exit, also when a guard throws);
  * frontier emptiness probes are driver-side counts over
  * materialized blocks. Rounds = eccentricity of the source set, the
  * [[Sssp]] discipline.
  */
object Betweenness {

  val Scale = 1000000L

  /** Loud cap on per-(source,node) shortest-path counts. Sigma is summed
    * in Long during the forward BFS: with max degree Δ the next round's
    * sum is ≤ Δ·max(sigma), so capping sigma at 1e12 keeps the Long sum
    * exact up to Δ ≈ 9.2e6 — any realistic hub. The backward term widens
    * to DECIMAL(38,0) (sigma·(1e6+delta) reaches ~1e12·1e6·n², past Long
    * but far under 1e38), so the forward sum is the one place a dense
    * equal-path structure could silently wrap; it throws instead. */
  val SigmaBound = 1000000000000L

  /** K-source harmonic centrality (Boldi & Vigna 2014, "Axioms for
    * centrality"): `hc_m(v) = Σ_sources (1e6 div d(s,v))` over reachable
    * source-node pairs with d > 0 — the distance-based centrality that
    * stays well-defined on disconnected graphs (unreachable pairs
    * contribute 0, where closeness degenerates). Same batched BFS as
    * [[centrality]] — one (source,node)-keyed equi-join + combinable
    * aggregate per depth round — with per-term integer division summed
    * order-independently, so results are bit-identical anywhere. */
  /** The shared symmetric distinct edge plan both paths consume; the
    * distributed path checkpoints it. */
  private def edgePlan(relationships: DataFrame): DataFrame =
    relationships
      .select(col("source_id").as("a"), col("target_id").as("b"))
      .unionByName(relationships
        .select(col("target_id").as("a"), col("source_id").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Sub-cutoff driver bottom-out (r19 verdict item 4, [[LocalBrandes]]):
    * at fixture/cone scale the batched rounds are ~90 Spark jobs of pure
    * scheduling over microseconds of arithmetic. Gated on the shared
    * [[LocalGraph.maxEdges]] size class (`0` disables); string keys only
    * (the order-free parts don't need an order, but collectEdges does
    * string extraction). */
  private def localSolved(e: DataFrame, sources: Seq[String],
      maxDepth: Int, strict: Boolean): Option[LocalBrandes.Solved] =
    LocalGraph.collectEdges(e, LocalGraph.maxEdges(e.sparkSession))
      .map(LocalBrandes.solve(_, sources, maxDepth, strict))

  def harmonic(relationships: DataFrame, sources: Seq[String],
               maxDepth: Int = 16, strict: Boolean = true): DataFrame = {
    val plan = LocalGraph.probeInput(edgePlan(relationships))
    localSolved(plan, sources, maxDepth, strict).map { sv =>
      val spark = relationships.sparkSession
      import spark.implicits._
      sv.nodes.zip(sv.hcM).toSeq.toDF("node", "hc_m").coalesce(1)
    }.getOrElse(Blocks.scoped { s =>
      val e = s.compact(plan)
      val layers = forward(e, sources, maxDepth, strict)
      val all = e.select(col("a").as("node")).distinct()
      val agg = layers.zipWithIndex.drop(1).map { case (l, d) =>
          l.select(col("node"), lit(Scale / d).as("h"))
        } match {
        case Seq() => None
        case parts => Some(s.compact(parts.reduce(_ unionByName _)
          .groupBy(col("node")).agg(sum(col("h")).as("hc_m"))))
      }
      // materialize the (node-sized) result, so the scope frees every
      // upstream checkpoint — the edge table included: a lazy return
      // would pin e's blocks until driver GC
      s.compact(agg match {
        case None => all.select(col("node"), lit(0L).as("hc_m"))
        case Some(a) => all.join(a, Seq("node"), "left_outer")
          .select(col("node"), coalesce(col("hc_m"), lit(0L)).as("hc_m"))
      })
    })
  }

  /** Sampled approximate betweenness — the 100 TB path (Brandes & Pich
    * 2007, "Centrality estimation in large networks"; Riondato &
    * Kornaropoulos 2014 for the sample-size/ε analysis): run the exact
    * batched accumulation from k DETERMINISTIC hash-ranked sources
    * (md5(seed ‖ node) order — reproducible on any engine, so the result
    * stays oracle-able, unlike an RNG sample) and scale each node's
    * accumulated dependency by n/k, the unbiased Brandes-Pich estimator.
    * With k = n the sample is every node and the estimate IS exact
    * betweenness — the degeneracy the spec asserts. The scaled product
    * widens to DECIMAL(38,0): bc_m reaches ~n²·1e6 and another ·n factor
    * overflows Long well inside realistic graph sizes.
    *
    * Scale shape: identical to [[centrality]] (k batched BFS sources cost
    * the same stages as one) plus one hash-ranked top-k over the node set
    * (TakeOrderedAndProject — no full sort) and a bounded k-row collect. */
  def approximate(relationships: DataFrame, k: Int, seed: String,
                  maxDepth: Int = 16, strict: Boolean = true): DataFrame = {
    require(k > 0, "need a positive sample size")
    val nodes = relationships
      .select(col("source_id").as("node"))
      .unionByName(relationships.select(col("target_id").as("node")))
      .distinct()
    val n = nodes.count()
    val sources = nodes
      .orderBy(md5(concat(lit(seed), col("node"))), col("node"))
      .limit(k)
      .collect().map(_.getString(0)).toSeq // bounded: k rows
    centrality(relationships, sources, maxDepth, strict)
      .select(col("node"),
        expr(s"(CAST(bc_m AS DECIMAL(38,0)) * ${n}L) div ${math.min(k, n)}L")
          .as("bc_est_m"))
  }

  /** Per-source eccentricity + reach over the undirected graph: (source,
    * ecc, n_reached) from the same batched BFS — the sampled-diameter
    * probe (max ecc over sampled sources lower-bounds the diameter) and
    * the connectivity sanity check (n_reached < component size flags a
    * depth cap or a split). */
  def eccentricity(relationships: DataFrame, sources: Seq[String],
                   maxDepth: Int = 16, strict: Boolean = true): DataFrame = {
    val plan = LocalGraph.probeInput(edgePlan(relationships))
    localSolved(plan, sources, maxDepth, strict).map { sv =>
      val spark = relationships.sparkSession
      import spark.implicits._
      sv.eccBySource.toSeq.toDF("source", "ecc", "n_reached").coalesce(1)
    }.getOrElse(Blocks.scoped { s =>
      val layers = forward(s.compact(plan), sources, maxDepth, strict)
      s.compact(layers.zipWithIndex.map { case (l, d) =>
          l.select(col("s"), lit(d.toLong).as("depth"))
        }.reduce(_ unionByName _)
        .groupBy(col("s").as("source"))
        .agg(max(col("depth")).as("ecc"), count(lit(1)).as("n_reached")))
    })
  }

  /** Shared forward machinery: the BFS layers (s, node, sigma) per depth
    * over the undirected edge checkpoint `e`; layers(0) = the sources. */
  private def forward(e: DataFrame, sources: Seq[String],
      maxDepth: Int, strict: Boolean)
      : IndexedSeq[DataFrame] = Blocks.scoped { s =>
    require(sources.nonEmpty, "need at least one source")
    val spark = e.sparkSession
    import spark.implicits._
    // Soundness of the per-round sigma probe: each round's Long sum per
    // (s,node) has at most in-degree(node) terms, each ≤ the PREVIOUS
    // round's observed max (round 0: sigma = 1). The sum itself executes
    // before the probe can see it, so the probe alone is a heuristic — to
    // make it a guarantee, bound the term count. Tiered so the guarantee
    // is (almost always) free: the edge COUNT m bounds every in-degree,
    // so while prevMax ≤ Long.Max/m no sum can wrap (one cheap count over
    // the checkpointed blocks); only if path counts grow past that does
    // the exact max-in-degree aggregation run, once.
    val m = math.max(1L, e.count())
    lazy val maxInDeg = e.groupBy(col("b")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).collect()(0).getLong(0)
    def checkNoWrap(prevMax: Long, depth: Int): Unit =
      if (prevMax > Long.MaxValue / m && prevMax > Long.MaxValue / maxInDeg)
        throw new IllegalStateException(
          s"max sigma $prevMax × max in-degree $maxInDeg could wrap a " +
            s"Long at depth $depth — equal-path structure too dense for " +
            "64-bit accumulation; sample fewer/other sources")
    var prevMaxSigma = 1L
    var frontier = s.compact(sources.distinct.map(src => (src, src, 1L))
      .toDF("s", "node", "sigma"))
    val layers = scala.collection.mutable.Buffer(frontier)
    var visited = s.compact(frontier.select(col("s"), col("node")))
    var d = 0
    var alive = frontier.count()
    while (alive > 0 && d < maxDepth) {
      d += 1
      // BEFORE this round's Long sums execute: certify they cannot wrap
      // (term count ≤ in-degree ≤ m, each term ≤ prevMaxSigma)
      checkNoWrap(prevMaxSigma, d)
      val nxt = s.compact(frontier.join(e, frontier("node") === e("a"))
        .select(col("s"), e("b").as("node"), col("sigma"))
        .join(visited, Seq("s", "node"), "left_anti")
        .groupBy(col("s"), col("node")).agg(sum(col("sigma")).as("sigma")))
      // one probe job over the materialized blocks carries BOTH the
      // emptiness test and the overflow guard: sigma counts equal
      // shortest paths and grow combinatorially on grid-like graphs —
      // past SigmaBound the NEXT round's Long sum could wrap silently
      // (ANSI off), so fail loudly instead of accumulating garbage
      val probe = nxt.agg(count(lit(1)).as("n"), max(col("sigma")).as("mx"))
        .collect()(0)
      alive = probe.getLong(0)
      if (alive > 0 && probe.getLong(1) > SigmaBound)
        throw new IllegalStateException(
          s"shortest-path count sigma=${probe.getLong(1)} exceeds " +
            s"$SigmaBound at depth $d — equal-path structure too dense " +
            "for 64-bit accumulation; sample fewer/other sources")
      if (alive > 0) {
        prevMaxSigma = probe.getLong(1)
        layers += nxt
        visited = s.compact(visited.unionByName(nxt.select(col("s"), col("node"))))
        frontier = nxt
        s.keep(visited, layers)
      }
    }
    if (strict && alive > 0)
      throw new IllegalStateException(
        s"BFS still expanding at maxDepth=$maxDepth — " +
          "raise maxDepth or pass strict=false")
    layers.toIndexedSeq
  }

  /** (node, bc_m) for every endpoint in `relationships` — micro-unit
    * betweenness accumulated from `sources`. Undirected, unweighted.
    *
    * @param maxDepth BFS round cap; with `strict` (default) a frontier
    *                 still alive at the cap throws — a silently
    *                 truncated accumulation is wrong, not approximate.
    */
  def centrality(relationships: DataFrame, sources: Seq[String],
                 maxDepth: Int = 16, strict: Boolean = true): DataFrame = {
    val plan = LocalGraph.probeInput(edgePlan(relationships))
    localSolved(plan, sources, maxDepth, strict).map { sv =>
      val spark = relationships.sparkSession
      import spark.implicits._
      sv.nodes.zip(sv.bcM).toSeq.toDF("node", "bc_m").coalesce(1)
    }.getOrElse(Blocks.scoped { s =>
      val e = s.compact(plan)
      val layers = forward(e, sources, maxDepth, strict)

      // ---- backward accumulation, deepest layer first ----
      // delta(v) over the deepest layer is 0 (no successors); each shallower
      // layer joins successors-at-depth+1 with their deltas
      var delta = s.compact(layers.last
        .select(col("s"), col("node"), lit(0L).as("delta")))
      // frames holding dist>0 deltas feed the final aggregate; the dist-0
      // frame (sources, excluded by Brandes' v ≠ s rule) is not one
      val contributions = scala.collection.mutable.Buffer.empty[DataFrame]
      if (layers.size > 1) contributions += delta // deepest layer, dist > 0
      for (dep <- (layers.size - 2) to 0 by -1) {
        val lv = layers(dep)
          .select(col("s").as("vs"), col("node").as("v"), col("sigma").as("sv"))
        val lw = layers(dep + 1)
          .select(col("s"), col("node").as("w"), col("sigma").as("sw"))
          .join(delta.select(col("s"), col("node").as("w"),
            col("delta").as("dw")), Seq("s", "w"))
        val dv = lv
          .join(e, col("v") === e("a"))
          .join(lw, e("b") === lw("w") && col("vs") === lw("s"))
          .select(col("vs"), col("v"),
            // DECIMAL(38,0) product: sigma (≤ SigmaBound) times micro-unit
            // deltas overflows Long on dense equal-path graphs; `div`
            // narrows the exact decimal quotient back to Long
            expr("(CAST(sv AS DECIMAL(38,0)) * (1000000 + dw)) div sw")
              .as("term"))
          .groupBy(col("vs").as("s"), col("v").as("node"))
          .agg(sum(col("term")).as("delta"))
        delta = s.compact(lv.select(col("vs").as("s"), col("v").as("node"))
          .join(dv, Seq("s", "node"), "left_outer")
          .select(col("s"), col("node"),
            coalesce(col("delta"), lit(0L)).as("delta")))
        if (dep > 0) contributions += delta
      }

      val nodes = e.select(col("a").as("node")).distinct()
      // materialize the node-sized result, so the scope frees EVERY
      // upstream checkpoint (edge table, layers, backward contributions) —
      // returning a lazy frame would pin all of them in the BlockManager
      // until driver GC
      s.compact(
        if (contributions.isEmpty)
          nodes.select(col("node"), lit(0L).as("bc_m"))
        else
          nodes.join(
            contributions.reduce(_ unionByName _)
              .groupBy(col("node")).agg(sum(col("delta")).as("bc_m")),
            Seq("node"), "left_outer")
            .select(col("node"), coalesce(col("bc_m"), lit(0L)).as("bc_m")))
    })
  }
}
