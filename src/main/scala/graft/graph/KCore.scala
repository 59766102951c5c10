package graft.graph

import graft.core.Blocks
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** k-core decomposition by iterative peeling — the cohesion signal that
  * separates densely embedded nodes from peripheral ones (Seidman,
  * "Network structure and minimum degree", 1983). In a curation pipeline
  * the k-core of a link/co-occurrence graph is the "established
  * community" filter: spam farms and drive-by pages fall out of low
  * cores while organically interlinked content survives. Sibling of
  * [[PageRank]] and [[Triangles]] on the pipeline-extension surface
  * (SURVEY §2.F).
  *
  * Peeling round = drop every node whose degree in the CURRENT subgraph
  * is below k; the k-core is the fixpoint. All set/count logic — exact
  * integers, bit-identical on any engine, so the fixed-round form is
  * oracle-checkable with unrolled SQL (the [[PageRank]] discipline).
  *
  * Scale shape: each round is two semi-joins (restrict the symmetric
  * edge list to surviving endpoints) and one map-side-combinable degree
  * count — all equi-joins on node keys. The symmetric edge list is
  * materialized once and re-read per round; survivor sets checkpoint per
  * round in a [[graft.core.Blocks.Scope]], which frees their predecessor
  * (lineage stays flat across any number of rounds). Above the [[LocalGraph]] cutoff: no adjacency
  * lists, no driver state; peeling a 100 TB graph is K passes of
  * join+count. At or under it the peel runs on the driver
  * ([[LocalGraph.kcoreSurvivors]]).
  */
object KCore {

  /** The canonical simple edge set: one (least, greatest) row per
    * undirected non-loop pair. */
  private def canonical(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()

  private def symmetric(und: DataFrame): DataFrame =
    und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))

  /** One peeling round as an UNMATERIALIZED plan: survivors of `nodes`
    * with ≥ k neighbors inside the `nodes`-restricted subgraph — two
    * semi-joins plus a combinable count. Exposed for plan-quality
    * assertions; the loops below materialize it per round. */
  private[graft] def peelRound(sym: DataFrame, nodes: DataFrame, k: Int)
      : DataFrame =
    sym.join(nodes.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(nodes.select(col("node").as("v")), Seq("v"), "left_semi")
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select(col("u").as("node"))

  /** The symmetric simple edge view, for [[peelRound]] callers. */
  private[graft] def symmetricView(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = symmetric(canonical(edges, srcCol, dstCol))

  /** Survivors of a driver-side synchronous peel as a (node) frame —
    * the sub-cutoff bottom-out ([[LocalGraph]] doc): the canonical pairs
    * are collected (half the rows of the symmetric set) and symmetrized
    * here, and one serial pass replaces O(cascade length) Spark jobs,
    * with bit-identical output (the survivor SET needs no ordering, only
    * equality). None ⇒ distributed. */
  private def localPeel(und: DataFrame, k: Int,
      rounds: Int): Option[DataFrame] = {
    val spark = und.sparkSession
    LocalGraph.collectEdgesAny(und, LocalGraph.maxEdges(spark)).map { es =>
      val schema = StructType(Seq(StructField("node", und.schema("a").dataType)))
      LocalGraph.frame(spark, schema, LocalGraph.kcoreSurvivors(
        es ++ es.map(_.swap), k, rounds).map(Row(_)))
    }
  }

  /** Surviving nodes after `rounds` synchronous peeling rounds at
    * threshold `k` (every node starts alive; round r drops nodes with
    * fewer than k surviving neighbors). With enough rounds this IS the
    * k-core; the bounded form exists for oracle parity and for
    * incremental monitoring. */
  def peel(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val und = LocalGraph.probeInput(canonical(edges, srcCol, dstCol))
    localPeel(und, k, rounds).getOrElse(Blocks.scoped { s =>
      val sym = s.compact(symmetric(und))
      (1 to rounds).foldLeft(s.compact(sym.select(col("u").as("node")).distinct())) {
        (nodes, _) =>
          val next = s.compact(peelRound(sym, nodes, k))
          s.keep(next, sym)
          next
      }
    })
  }

  /** The exact k-core: peel until the survivor set stops shrinking.
    * Terminates in at most |V| rounds; each round costs one count-check
    * on a checkpointed survivor set (driver sees only the count). */
  def kcore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 1000): DataFrame = {
    val und = LocalGraph.probeInput(canonical(edges, srcCol, dstCol))
    localPeel(und, k, maxRounds).getOrElse(Blocks.scoped { s =>
      val sym = s.compact(symmetric(und))
      var nodes = s.compact(sym.select(col("u").as("node")).distinct())
      var prev = nodes.count()
      var rounds = 0
      var converged = prev == 0L
      while (!converged && rounds < maxRounds) {
        nodes = s.compact(peelRound(sym, nodes, k))
        s.keep(nodes, sym)
        val n = nodes.count()
        converged = n == prev
        prev = n
        rounds += 1
      }
      nodes
    })
  }
}
