package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Blocks

/** Maximal independent set — Luby's algorithm (Luby 1986, "A simple
  * parallel algorithm for the maximal independent set problem") with
  * deterministic md5 priorities instead of per-round coin flips: a node
  * joins the set when its (md5(node), node) pair is smaller than every
  * remaining neighbor's; winners and their neighbors leave the graph and
  * the remainder repeats. Every round shrinks the graph (the global
  * minimum always wins), and random-like priorities give the expected
  * O(log n) round count; the result is bit-identical on any engine or
  * partitioning because the priority is a pure function of the node id
  * (the DuckDB oracle replays the same md5 comparisons).
  *
  * Pipeline use: on a near-dup pair graph an MIS is a survivor set with
  * a maximality GUARANTEE — no two survivors are near-dups AND no
  * dropped doc could be added back ([[graft.pipeline.Dedup.keepBest]]
  * optimizes per-cluster quality instead; MIS maximizes the number of
  * mutually-distinct survivors).
  *
  * Scale shape per round: one edge × priority equi-join to find
  * dominated nodes, two anti-joins, one semi-join edge restriction —
  * all combinable/equi, per-round lineage truncated via eager
  * localCheckpoint in a [[graft.core.Blocks.Scope]].
  */
object Mis {

  /** (node) rows of the maximal independent set over the undirected
    * `edges` (columns src, dst). Isolated nodes never appear in `edges`
    * and are trivially independent — callers union them if their
    * universe is wider. */
  def independentSet(edges: DataFrame,
      maxRounds: Int = 100): DataFrame = Blocks.scoped { s =>
    val e0 = s.local(edges
      .select(col("src").cast("string").as("u"), col("dst").cast("string").as("v"))
      .unionByName(edges
        .select(col("dst").cast("string").as("u"), col("src").cast("string").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct())
    var rem = s.local(e0.select(col("u").as("node")).distinct())
    var e = e0
    var out = List.empty[DataFrame]
    var remCount = rem.count()
    var round = 0
    while (remCount > 0) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"MIS did not converge within $maxRounds rounds")
      // dominated: v has a remaining neighbor u with a smaller
      // (priority, id) pair — one self-equi-join of the edge list with
      // the md5 comparison as the filter
      val dominated = e
        .filter(md5(col("u")) < md5(col("v")) ||
          (md5(col("u")) === md5(col("v")) && col("u") < col("v")))
        .select(col("v").as("node")).distinct()
      val winners = s.local(rem.join(dominated, Seq("node"), "left_anti"))
      out ::= winners
      val removed = winners
        .unionByName(e.join(winners.withColumnRenamed("node", "u"),
          Seq("u"), "left_semi").select(col("v").as("node")))
        .distinct()
      rem = s.local(rem.join(removed, Seq("node"), "left_anti"))
      e = s.local(e
        .join(rem.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(rem.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
      s.keep(rem, e, out)
      remCount = rem.count()
    }
    out match {
      case Nil => e0.sparkSession.emptyDataFrame
        .withColumn("node", lit(null).cast("string")).limit(0)
      case parts => parts.reduce(_ unionByName _)
    }
  }
}
