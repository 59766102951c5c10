package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Blocks

/** Fixed-iteration HITS (Kleinberg, "Authoritative Sources in a
  * Hyperlinked Environment", JACM 1999) — hub/authority scores, the
  * classic complement to [[PageRank]] for link-graph curation: PageRank
  * finds globally endorsed pages, HITS separates good DIRECTORIES
  * (hubs) from good DESTINATIONS (authorities), which is exactly the
  * seed-list/harvest-list split a crawl-frontier curator wants.
  *
  * All arithmetic is INTEGER in score micro-units: each half-step is a
  * plain sum over in/out edges followed by sum-normalization
  * `x · 1e6 div Σx` (Σ of longs is order-independent, div truncates
  * deterministically), so scores are bit-identical on any engine and
  * partitioning — the same reproducibility contract as [[PageRank]].
  * Truncation loses a bounded sliver of mass per normalization; the
  * ORDERING of scores — all the curation signal — is unaffected.
  *
  * Scale shape per iteration: two equi-joins (scores against the edge
  * list, keyed by source/target), two map-side-combinable sums, and one
  * scalar total per half-step (a broadcastable single row). Lineage is
  * truncated per iteration via `localCheckpoint` in a
  * [[graft.core.Blocks.Scope]], which frees superseded tables.
  */
object Hits {

  /** (node, hub_m, auth_m) after `iterations` synchronous rounds over
    * the DIRECTED edge set; nodes = every endpoint. */
  def scores(relationships: DataFrame,
      iterations: Int = 3): DataFrame = Blocks.scoped { s =>
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val edges = s.compact(relationships.select(col("source_id"), col("target_id"))
      .distinct())
    val nodes = s.compact(edges.select(col("source_id").as("node"))
      .unionByName(edges.select(col("target_id").as("node")))
      .distinct())

    /** Sum-normalize a (node, x) table into micro-units, two-step:
      * pre-shrink by s = t div 1e6 + 1 so the ·1e6 product never
      * overflows a long (raw sums are ≤ 1e6·degree; x·1e6 alone would
      * overflow once Σx > ~9e12). Both divisions truncate
      * deterministically, and the oracle replays the same two steps.
      * The RAW frame is checkpointed first, so the half-step's join+agg
      * executes exactly once: the scalar-sum collect and the normalized
      * output both read the materialized blocks (pre-r13 the collect ran
      * the un-checkpointed join+agg and the caller's checkpoint re-ran
      * it — doubling every half-step). Returns an eagerly-checkpointed
      * frame; the raw intermediate is freed at the round's end. */
    def normalize(df: DataFrame): DataFrame = {
      val raw = s.compact(df)
      val row = raw.agg(sum(col("x"))).collect()(0)
      // empty frame sums to NULL, an all-zero vector to 0 — both degrade
      // to divisor 1 (scores stay zero / no rows)
      val total = if (row.isNullAt(0)) 0L else row.getLong(0)
      val t = if (total == 0L) 1L else total
      val sh = t / 1000000L + 1L
      val ts = t / sh
      s.compact(raw.select(col("node"),
        expr(s"((x div ${sh}L) * 1000000L) div ${ts}L").as("x")))
    }

    /** One round from the hub scores: (new hubs, new authorities). */
    def round(hubs: DataFrame): (DataFrame, DataFrame) = {
      // authority step: a(v) = Σ h(u) over edges u→v
      val aRaw = edges
        .join(hubs.select(col("node").as("source_id"), col("x")), Seq("source_id"))
        .groupBy(col("target_id").as("node")).agg(sum(col("x")).as("x"))
      val auths = normalize(
        nodes.join(aRaw, Seq("node"), "left_outer")
          .select(col("node"), coalesce(col("x"), lit(0L)).as("x")))
      // hub step: h(u) = Σ a(v) over edges u→v
      val hRaw = edges
        .join(auths.select(col("node").as("target_id"), col("x")), Seq("target_id"))
        .groupBy(col("source_id").as("node")).agg(sum(col("x")).as("x"))
      val next = (normalize(
        nodes.join(hRaw, Seq("node"), "left_outer")
          .select(col("node"), coalesce(col("x"), lit(0L)).as("x"))), auths)
      s.keep(next, edges, nodes)
      next
    }

    val (hubs, auths) = (2 to iterations).foldLeft(
        round(s.compact(nodes.withColumn("x", lit(1000000L))))) {
      case ((h, _), _) => round(h) }
    s.compact(hubs.select(col("node"), col("x").as("hub_m"))
      .join(auths.select(col("node"), col("x").as("auth_m")), Seq("node")))
  }
}
