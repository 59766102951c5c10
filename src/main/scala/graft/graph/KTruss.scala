package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Blocks

/** K-truss decomposition — iterative edge peeling by triangle support
  * (Cohen 2008, "Trusses: cohesive subgraphs for social network
  * analysis"): an edge survives while it participates in ≥ k−2
  * triangles among the surviving subgraph. The k-truss is the standard
  * tighter-than-k-core cohesion filter (every k-truss edge lives inside
  * a (k−1)-core, not vice versa) for community seeding and dense-region
  * curation.
  *
  * Fixed-round formulation (the [[KCore.peel]] discipline — aggregates
  * can't live in a recursive oracle CTE, so both engines unroll the same
  * round count; the fixpoint is reached when a round removes nothing).
  * Per round: one wedge equi-join (edge (a,b) × neighbors x of a)
  * semi-joined against the (b,x) edge set — the [[Triangles]] shape,
  * never an all-pairs stage — one combinable count per edge, one
  * semi-join filter. Per-round lineage truncated via eager
  * localCheckpoint in a [[graft.core.Blocks.Scope]].
  */
object KTruss {

  /** Canonical undirected edge view: (a < b), deduplicated. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Triangle support per surviving edge: (a, b, support). Edges in no
    * triangle are present with support 0. */
  def supports(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("x"))
      .unionByName(e.select(col("b").as("u"), col("a").as("x")))
    val wedge = e.join(sym.select(col("u").as("a"), col("x")), Seq("a"))
    val tri = wedge.join(sym.select(col("u").as("b"), col("x")),
      Seq("b", "x"), "left_semi")
    val sup = tri.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("support"))
    e.join(sup, Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Surviving (a, b) edges after `rounds` peels at truss level `k`. */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = LocalGraph.probeInput(canonical(edges))
    // Sub-cutoff bottom-out ([[LocalGraph]] doc): one serial synchronous
    // peel replaces rounds × (wedge join + semi-join + count) Spark jobs;
    // the survivor EDGE SET needs no ordering, so output is bit-identical.
    // The edges are checkpointed only when it declines.
    val spark = edges.sparkSession
    LocalGraph.collectEdgesAny(und, LocalGraph.maxEdges(spark)).map { es =>
      LocalGraph.frame(spark, org.apache.spark.sql.types.StructType(
          und.schema.fields.map(_.copy(nullable = true))),
        LocalGraph.ktrussSurvivors(es, k, rounds)
          .map(p => org.apache.spark.sql.Row(p._1, p._2)))
    }.getOrElse(Blocks.scoped { s =>
      (1 to rounds).foldLeft(s.compact(und)) { (e, _) =>
        val kept = s.compact(supports(e).filter(col("support") >= k - 2)
          .select(col("a"), col("b")))
        s.keep(kept)
        kept
      }
    })
  }
}
