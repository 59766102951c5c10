package graft.adt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.TwinGraph
import graft.functions.JsonFunctions

/** Plans a parsed [[AdtQuery]] straight onto DataFrames over a [[TwinGraph]]
  * — the Spark-native replacement for the reference's ADT→Cypher→AGE
  * pipeline (AdtQueryHelpers.cs + Postgres execution).
  *
  * Namespace scheme: every in-scope entity (twin alias or relationship
  * alias) contributes its columns prefixed `<alias>__`. Twin entities carry
  * (dt_id, model_id, etag, properties); relationship entities carry
  * (relationship_id, source_id, target_id, relationship_name, etag,
  * properties). Hops are equi-joins over these namespaces; Catalyst prunes
  * unused columns down to the parquet scan, so a query touching only
  * `$dtId` never deserializes the JSON doc.
  *
  * Cypher pipeline clauses (`WITH` / `UNWIND`, Query.cs routes raw Cypher
  * to AGE which supports the full language) fold left-to-right over the
  * scope: `WITH` projects/aggregates into *flat* named columns (retained
  * node/relationship bindings keep their namespaces), `UNWIND` explodes a
  * list into a new flat column. Flat columns live beside the namespaced
  * ones in the same DataFrame, so Catalyst still sees one linear plan.
  */
final class AdtPlanner(graph: TwinGraph) {

  import AdtPlanner._

  /** A bound path (`p = (a)-[r]->(b)` or `p = shortestPath(...)`): the rel
    * alias carrying its columns, whether it spans a VLE, and its endpoint
    * aliases in PATH order — for a reverse-arrow pattern the lexical start
    * is the edge's dst, and nodes(p) must honor the written order. */
  private case class PathBinding(rel: String, isVle: Boolean,
      src: String, dst: String,
      // false for `<-[r]-` patterns: the VLE interior arrays are built in
      // edge-traversal order, so path-order accessors reverse them
      forward: Boolean = true,
      // shortestPath paths bind per endpoint pair and carry NO interior;
      // bare VLE paths bind per path, with node_ids/rel_ids columns
      shortest: Boolean = false,
      // whether the match planned node_ids/rel_ids interior arrays for
      // this path: always for a bare bounded-VLE path (per-path
      // multiplicity needs them), and for a shortestPath only when the
      // query observes nodes(p)/relationships(p) — the canonical-path
      // enumeration costs more than the per-pair BFS, so it is planned
      // on demand (see pathInteriorRefs)
      hasInterior: Boolean = false)

  /** Path aliases whose interior the query observes via `nodes(p)` /
    * `relationships(p)` — a generic AST walk (every Expr position: SELECT,
    * WHERE, WITH, UNWIND, ORDER BY, lambdas), so the MATCH planner can
    * decide up front whether a shortestPath needs interior enumeration. */
  private def pathInteriorRefs(q: AdtQuery): Set[String] = {
    val acc = collection.mutable.Set[String]()
    def walk(x: Any): Unit = x match {
      case FnCall(n, List(PropRef(None, List(p))))
          if n == "NODES" || n == "RELATIONSHIPS" => acc += p
      case xs: Iterable[_] => xs.foreach(walk)
      case p: Product => p.productIterator.foreach(walk)
      case _ => ()
    }
    walk(q)
    // RETURN * expands every surviving path as (nodes, rels, depth)
    // columns, so a star query observes every interior
    if (q.items.contains(SelectStar))
      q.matches.flatMap(_.pathAlias).foreach(acc += _)
    acc.toSet
  }

  /** A path binding's (nodes, rels, depth) columns — shared by the
    * nodes()/relationships()/length() accessors and the RETURN * path
    * expansion, so their semantics can't drift. */
  private def pathCols(pb: PathBinding): (Column, Column, Column) =
    if (pb.isVle) {
      def oriented(c: Column) = if (pb.forward) c else reverse(c)
      (oriented(col(s"${pb.rel}__node_ids")),
        oriented(col(s"${pb.rel}__rel_ids")),
        col(s"${pb.rel}__depth").cast("long"))
    } else
      (array(col(s"${pb.src}__dt_id"), col(s"${pb.dst}__dt_id")),
        array(col(s"${pb.rel}__relationship_id")),
        lit(1L))

  /** Resolution context: which aliases are twins vs relationships, the
    * default entity for unqualified properties, flat columns introduced
    * by WITH/UNWIND stages, and path bindings by path alias. */
  private case class Scope(twins: Set[String], rels: Set[String],
      default: String, flat: Set[String] = Set.empty,
      paths: Map[String, PathBinding] = Map.empty,
      // list-comprehension / reduce() lambda variables: name → the bound
      // higher-order-function Column, shadowing any same-named alias
      lambdaVars: Map[String, Column] = Map.empty)

  /** Parse + plan with language detection (ADT vs raw Cypher), like the
    * reference endpoint (Query.cs:44-55). In the reference's unified AGE
    * graph, `:Twin` and `:Model` nodes share one property graph and the
    * label selects the node set (QueryTests.cs:1096,1201) — here a
    * `:Model`-labeled pattern routes the plan onto the model-graph view
    * ([[graft.graph.TwinGraph.modelGraph]]); mixed Twin/Model patterns
    * in one query are rejected loudly rather than silently joined across
    * node sets. */
  def run(query: String): DataFrame = {
    val q = QueryLanguage.parse(query)
    val labels = q.nodeLabels.values.toSet
    if (labels.contains("Model")) {
      if (labels.exists(_ != "Model"))
        throw new AdtPlanException(
          "cannot mix :Model and non-Model node labels in one query")
      new AdtPlanner(graph.modelGraph).plan(q)
    } else plan(q)
  }

  /** Flatten an AND-conjunction into its conjuncts. */
  private def conjuncts(e: Expr): List[Expr] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => List(x)
  }

  def plan(q: AdtQuery): DataFrame = {
    // ---- resolve scope: which aliases exist, which are twins vs rels ----
    val (df0, twinAliases, relAliases, defaultEntity) = buildScope(q)
    val interiorRefs = pathInteriorRefs(q)
    val pathBindings = q.matches.zipWithIndex.collect {
      case (e, i) if e.pathAlias.isDefined =>
        val (pSrc, pDst) = if (e.pathForward) (e.src, e.dst) else (e.dst, e.src)
        e.pathAlias.get -> PathBinding(e.relAlias.getOrElse(s"__rel$i"),
          e.vle.isDefined, pSrc, pDst, e.pathForward, e.shortest,
          hasInterior = e.vle.isDefined &&
            (!e.shortest || interiorRefs(e.pathAlias.get)))
    }.toMap
    var scope = Scope(twinAliases, relAliases, defaultEntity,
      paths = pathBindings)

    // ---- WHERE ----
    // EXISTS pattern predicates peel off the top-level conjunction and plan
    // as semi/anti joins (they cannot be a Column); the rest is a filter.
    def hasNestedExists(e: Expr): Boolean = e match {
      case _: ExistsPattern => true
      case And(l, r) => hasNestedExists(l) || hasNestedExists(r)
      case Or(l, r) => hasNestedExists(l) || hasNestedExists(r)
      case Not(x) => hasNestedExists(x)
      case _ => false
    }
    var df1 = df0
    q.where.foreach { e =>
      val (patternPreds, plain) = conjuncts(e).partition {
        case _: ExistsPattern | Not(_: ExistsPattern) => true
        case _ => false
      }
      // conjuncts with EXISTS nested under OR/NOT can't be semi/anti
      // joins; they get boolean marker columns instead (below)
      val (withNested, pure) = plain.partition(hasNestedExists)
      if (pure.nonEmpty)
        df1 = df1.filter(compile(pure.reduce(And), scope))
      patternPreds.foreach {
        case ExistsPattern(edge) => df1 = planExists(df1, scope, edge, negated = false)
        case Not(ExistsPattern(edge)) => df1 = planExists(df1, scope, edge, negated = true)
        case _ => // unreachable by partition
      }
      withNested.foreach { pred =>
        val (df2, rewritten, markers) = planExistsMarkers(df1, scope, pred)
        df1 = df2
          .filter(compile(rewritten, scope.copy(flat = scope.flat ++ markers)))
          .drop(markers: _*)
      }
    }

    // ---- WITH / UNWIND / MATCH pipeline (Cypher) ----
    for (pc <- q.pipeline) pc match {
      case u: UnwindClause =>
        val (d, s) = planUnwind(df1, scope, u); df1 = d; scope = s
      case w: WithClause =>
        val (d, s) = planWith(df1, scope, w); df1 = d; scope = s
      case m: MatchClause =>
        val (d, s) = planMatchStage(df1, scope, m); df1 = d; scope = s
    }

    // ---- SELECT ----
    val isCount = q.items.contains(SelectCount)
    val aggItems = q.items.collect { case a: SelectAgg => a }
    val df2 =
      if (isCount) df1.agg(count(lit(1)).as("COUNT"))
      else if (aggItems.nonEmpty) {
        // Cypher grouped aggregation: non-aggregate return items are the
        // grouping keys (B10) — partial aggregation + one shuffle.
        val keyCols = q.items.collect {
          case SelectProp(ent, path, as) =>
            val (entOpt, realPath) = resolvePropRef(ent, path, scope)
            propValue(entOpt, realPath, scope)
              .as(as.getOrElse(realPath.last.stripPrefix("$")))
          case SelectEntity(p) if !scope.twins(p) && !scope.rels(p) =>
            propValue(None, List(p), scope).as(p)
          case SelectExpr(e, as) =>
            compile(e, scope).as(as.getOrElse("expr"))
        }
        val aggCols = aggItems.map(aggColumn(_, scope))
        val grouped =
          if (keyCols.isEmpty) df1.agg(aggCols.head, aggCols.tail: _*)
          else df1.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
        if (q.orderBy.nonEmpty) {
          val order = q.orderBy.map {
            case (ref: PropRef, asc) =>
              val name = ref.path.last.stripPrefix("$")
              val c = grouped.columns.find(n => n == name || ref.path == List(n))
                .map(col).getOrElse(throw new AdtPlanException(
                  s"ORDER BY ${ref.path.mkString(".")} must name a returned column"))
              if (asc) c.asc else c.desc
            case (other, _) => throw new AdtPlanException(
              s"ORDER BY over an aggregated RETURN must name a returned " +
                s"column (alias the expression), got $other")
          }
          grouped.orderBy(order: _*)
        } else grouped
      }
      else {
        val cols = q.items.flatMap {
          case SelectStar =>
            // openCypher RETURN * covers NAMED variables only: drop
            // planner-internal anonymous aliases (__cnode from the parser,
            // __rel/__srel from un-aliased relationships) before expanding.
            // A live path binding expands as its (nodes, rels, depth)
            // columns — the value surface nodes(p)/relationships(p)/
            // length(p) expose, which is what a path IS here (r17; the
            // r16 loud error retired).
            val named = (scope.twins ++ scope.rels)
              .filterNot(InternalAlias.is)
            val pathColumns = scope.paths.toSeq.sortBy(_._1).flatMap {
              case (p, pb) =>
                val required =
                  if (pb.isVle) Seq(s"${pb.rel}__node_ids",
                    s"${pb.rel}__rel_ids", s"${pb.rel}__depth")
                  else Seq(s"${pb.src}__dt_id", s"${pb.dst}__dt_id",
                    s"${pb.rel}__relationship_id")
                if (!required.forall(df1.columns.contains))
                  throw new AdtPlanException(
                    s"RETURN * cannot project path $p: its endpoint/edge " +
                      "columns did not survive the WITH horizon — retain " +
                      "both endpoints or RETURN nodes()/relationships() " +
                      "explicitly before the horizon")
                val (n, r, d) = pathCols(pb)
                Seq(n.as(s"${p}_nodes"), r.as(s"${p}_rels"),
                  d.as(s"${p}_depth"))
            }
            named.toSeq.sorted.flatMap(a => entityCols(df1, a)) ++
              scope.flat.toSeq.sorted.map(col) ++ pathColumns
          case SelectEntity(a) if scope.twins(a) || scope.rels(a) =>
            entityCols(df1, a)
          case SelectEntity(p) => // bare identifier: flat column or property
            Seq(propValue(None, List(p), scope).as(p))
          case SelectProp(ent, path, as) =>
            val (entOpt, realPath) = resolvePropRef(ent, path, scope)
            Seq(propValue(entOpt, realPath, scope)
              .as(as.getOrElse(realPath.last.stripPrefix("$"))))
          case SelectExpr(e, as) =>
            Seq(compile(e, scope).as(as.getOrElse("expr")))
          case SelectCount => Nil
          case _: SelectAgg => Nil // unreachable: aggItems branch handles them
        }
        if (q.orderBy.nonEmpty) {
          // ORDER BY may name a projected alias (`RETURN t.x AS id ORDER BY
          // id`) — sort on the output column directly; anything else
          // resolves against the pre-projection scope and is carried as a
          // hidden column through the projection, sorted, dropped.
          val outNames: Seq[String] = q.items.flatMap {
            case SelectProp(ent, path, as) =>
              val (_, realPath) = resolvePropRef(ent, path, scope)
              Seq(as.getOrElse(realPath.last.stripPrefix("$")))
            case SelectEntity(p) if !scope.twins(p) && !scope.rels(p) => Seq(p)
            case SelectExpr(_, as) => as.toSeq
            case _ => Nil
          }
          // output aliases referenced INSIDE an ORDER BY expression must
          // mean the projected value, not a (null) JSON property of the
          // default entity — substitute each alias with its source expr
          // before compiling against the pre-projection scope
          val aliasMap: Map[String, Expr] = q.items.collect {
            case SelectProp(ent, path, as) =>
              val (entOpt, realPath) = resolvePropRef(ent, path, scope)
              as.getOrElse(realPath.last.stripPrefix("$")) ->
                PropRef(entOpt, realPath)
            case SelectExpr(e, Some(a)) => a -> e
          }.toMap
          val sortSpecs = q.orderBy.zipWithIndex.map { case ((e, asc), i) =>
            def hidden(c: org.apache.spark.sql.Column) =
              (Some(c.as(s"__sort$i")),
                if (asc) col(s"__sort$i").asc else col(s"__sort$i").desc)
            e match {
              case PropRef(None, List(n)) if outNames.contains(n) =>
                (None, if (asc) col(n).asc else col(n).desc)
              case ref: PropRef => hidden(sortKey(ref, scope))
              // arbitrary expression (arithmetic, scalar call, CASE):
              // compiled result already carries its type
              case other => hidden(compile(substituteAliases(other, aliasMap), scope))
            }
          }
          // a hidden sort key under DISTINCT would order by an arbitrary
          // surviving duplicate's value — nondeterministic; openCypher
          // rejects ordering by non-projected values here too
          if (q.distinct && sortSpecs.exists(_._1.isDefined))
            throw new AdtPlanException(
              "ORDER BY under DISTINCT must order by returned columns")
          val sortCols = sortSpecs.flatMap(_._1)
          val hiddenNames = sortSpecs.zipWithIndex.collect {
            case ((Some(_), _), i) => s"__sort$i"
          }
          val base = df1.select(cols ++ sortCols: _*)
          val deduped = if (q.distinct)
            base.dropDuplicates(base.columns.dropRight(sortCols.size).toSeq)
          else base
          deduped.orderBy(sortSpecs.map(_._2): _*).drop(hiddenNames: _*)
        } else {
          val projected = df1.select(cols: _*)
          if (q.distinct) projected.distinct() else projected
        }
      }

    // ---- SKIP / TOP/LIMIT ----
    val df3 = q.skip.fold(df2)(df2.offset)
    q.top.fold(df3)(df3.limit)
  }

  /** One aggregate output column. COUNT counts the raw value (no cast —
    * a string property must not be nulled by a numeric cast); SUM/AVG/
    * MIN/MAX operate numerically like the agtype aggregates the reference
    * reaches through AGE. `DISTINCT` is supported for COUNT and SUM. */
  private def aggColumn(a: SelectAgg, scope: Scope): Column = {
    val raw = a.arg.map(r => propFromRef(r, scope))
    // try_cast: ANSI mode must not crash an aggregate over a mixed/string
    // property — non-numeric values aggregate as null, agtype-style
    val num = raw.map(_.try_cast("double"))
    val c = (a.fn, a.distinct) match {
      case ("COUNT", false) => raw.fold(count(lit(1)))(count)
      case ("COUNT", true) => count_distinct(raw.get)
      case ("SUM", false) => sum(num.get)
      case ("SUM", true) => sum_distinct(num.get)
      case ("AVG", false) => avg(num.get)
      // avg over the distinct value set; min/max are distinct-insensitive
      case ("AVG", true) => sum_distinct(num.get) / count_distinct(num.get)
      case ("MIN", _) => min(num.get)
      case ("MAX", _) => max(num.get)
      // Cypher collect(): list aggregation. openCypher leaves element order
      // unspecified; we sort for cross-run/cross-partition determinism.
      // Nulls are skipped by collect_list/set, matching Cypher.
      case ("COLLECT", false) => sort_array(collect_list(raw.get))
      case ("COLLECT", true) => sort_array(collect_set(raw.get))
      // openCypher statistics aggregates (AGE executes these natively).
      // Neo4j/AGE answer 0 (not NULL) for stDev over a group with fewer
      // than two numeric values; Spark's stddev_samp answers NULL there —
      // coalesce to 0 when the group had at least one numeric value.
      case ("STDEV", false) =>
        coalesce(stddev_samp(num.get),
          when(count(num.get) > 0, lit(0.0)))
      case ("STDEVP", false) =>
        coalesce(stddev_pop(num.get),
          when(count(num.get) > 0, lit(0.0)))
      // percentileCont: exact linear-interpolated percentile — Spark's
      // percentile() (not percentile_approx) matches AGE/SQL
      // percentile_cont semantics
      case ("PERCENTILECONT", false) =>
        percentile(num.get, lit(a.param.getOrElse(
          throw new AdtPlanException("percentileCont needs a quantile"))))
      // percentileDisc: the smallest value whose cumulative frequency
      // reaches q — the 1-indexed ceil(q·n)-th of the sorted values
      // (q = 0 answers the minimum). Emulated via a sorted collect; exact
      // and deterministic, but materializes the group — fine for the
      // grouped-aggregate shapes Cypher queries produce.
      case ("PERCENTILEDISC", distinct) =>
        val q = a.param.getOrElse(
          throw new AdtPlanException("percentileDisc needs a quantile"))
        // try_element_at: a group whose values are all null/non-numeric
        // collects an empty list — answer null (agtype-style), don't
        // ANSI-crash the aggregate
        val sorted = sort_array(
          if (distinct) collect_set(num.get) else collect_list(num.get))
        try_element_at(sorted,
          greatest(ceil(lit(q) * size(sorted)), lit(1)).cast("int"))
      // DISTINCT variants of the statistics aggregates: evaluate over the
      // group's distinct numeric value set (collect_set skips nulls, like
      // the plain aggregates skip them). Spark has no stddev_distinct /
      // percentile(DISTINCT ...), so compute from the sorted distinct
      // array with higher-order functions — stays inside codegen, no UDF.
      case ("STDEV", true) => distinctStddev(num.get, sample = true)
      case ("STDEVP", true) => distinctStddev(num.get, sample = false)
      case ("PERCENTILECONT", true) =>
        val q = a.param.getOrElse(
          throw new AdtPlanException("percentileCont needs a quantile"))
        // linear interpolation at rank q·(n−1) over the sorted distinct set.
        // n == 0 (all values null/non-numeric): answer null like
        // distinctStddev / PERCENTILEDISC — rank would be −q, lo −1, and
        // try_element_at(arr, 0) ANSI-crashes rather than suppressing.
        val arr = sort_array(collect_set(num.get))
        val n = size(arr)
        val rank = lit(q) * (n - lit(1)).cast("double")
        val lo = floor(rank).cast("int")
        val frac = rank - lo.cast("double")
        val vLo = try_element_at(arr, greatest(lo + lit(1), lit(1)))
        val vHi = try_element_at(arr, least(greatest(lo + lit(2), lit(1)), n))
        when(n === 0, lit(null).cast("double"))
          .otherwise(vLo + (vHi - vLo) * frac)
      case (fn, _) => throw new AdtPlanException(s"unknown aggregate $fn")
    }
    c.as(a.as.getOrElse(a.fn))
  }

  /** stDev/stDevP over a group's DISTINCT numeric values. Spark has no
    * stddev(DISTINCT); aggregate the distinct set (collect_set skips
    * nulls) with higher-order functions — sum and sum-of-squares in one
    * struct fold, then the textbook formula. Matches the plain-aggregate
    * convention of answering 0 (not NULL) when the group has at least one
    * numeric value but not enough for a deviation. */
  private def distinctStddev(v: Column, sample: Boolean): Column = {
    val arr = collect_set(v)
    val n = size(arr).cast("double")
    val acc = aggregate(arr,
      struct(lit(0.0).as("s"), lit(0.0).as("ss")),
      (a, x) => struct((a("s") + x).as("s"), (a("ss") + x * x).as("ss")))
    val mean = acc("s") / n
    val denom = if (sample) n - lit(1.0) else n
    val variance = (acc("ss") - n * mean * mean) / denom
    // max(0): guard float cancellation from producing a tiny negative
    when(n === 0, lit(null).cast("double"))
      .when(denom <= 0, lit(0.0))
      .otherwise(sqrt(greatest(variance, lit(0.0))))
  }

  /** EXISTS patterns nested under OR/NOT (e.g. `WHERE EXISTS(...) OR x`)
    * become boolean marker columns: a left-outer join against the
    * DE-DUPLICATED bound keys of the matching relationships (no fan-out —
    * one row per key on the probe side), `true` where matched, `false`
    * otherwise, referenced by the rewritten predicate and dropped after
    * the filter. Costs one hash join per distinct pattern, same as the
    * semi-join fast path. */
  private var markerSeq = 0
  private def planExistsMarkers(df: DataFrame, scope: Scope, pred: Expr)
      : (DataFrame, Expr, Seq[String]) = {
    var cur = df
    val markers = collection.mutable.ListBuffer[String]()
    def walk(x: Expr): Expr = x match {
      case ExistsPattern(edge) =>
        markerSeq += 1
        val m = s"__exists$markerSeq"
        cur = attachExistsMarker(cur, scope, edge, m)
        markers += m
        PropRef(None, List(m))
      case And(l, r) => And(walk(l), walk(r))
      case Or(l, r) => Or(walk(l), walk(r))
      case Not(i) => Not(walk(i))
      case other => other
    }
    val rewritten = walk(pred)
    (cur, rewritten, markers.toSeq)
  }

  /** Shared EXISTS preamble: which endpoints are bound + the pruned
    * relationship scan (used by both the semi/anti fast path and the
    * marker-join path, so their semantics can't drift). Inline property
    * maps of the EXISTS pattern (parser: edge.optWhere) constrain the
    * PROBE, not the outer rows: a rel-alias predicate filters the
    * relationship scan directly; an endpoint predicate semi-joins the
    * scan against the filtered twin scan on that endpoint's id — uniform
    * for bound and unbound endpoints, because the bound-key join the
    * callers add afterwards correlates bound rows anyway. Both stay
    * single hash joins (broadcast-able filtered dimensions) at scale. */
  private def existsProbe(scope: Scope, edge: MatchEdge, outer: DataFrame)
      : (Boolean, Boolean, DataFrame) = {
    val srcBound = scope.twins(edge.src)
    val dstBound = scope.twins(edge.dst)
    if (!srcBound && !dstBound) throw new AdtPlanException(
      s"EXISTS pattern must reference at least one bound node: " +
        s"(${edge.src})-->(${edge.dst})")
    // VLE inside EXISTS (AGE executes these; loud error until r16): the
    // probe becomes the (start, end) reachability-pair frame of the same
    // Vle.range expansion a MATCH-based VLE plans — the semi/anti join
    // the callers add is unchanged. Endpoint property maps still
    // constrain the probe (they semi-join on the PATH endpoints); a
    // rel-document predicate is meaningless across a multi-hop path and
    // stays rejected at parse (VLE + inline map).
    //
    // FRONTIER SEEDING (r17): the expansion is seeded with the OUTER
    // frame's bound-side distinct ids — pure WHERE conjuncts are planned
    // before EXISTS, so `outer` already carries the selective filter and
    // the expansion does O(cone-of-the-bound-set) work instead of
    // O(graph) (AGE executes VLE seeded from bound pattern nodes,
    // reference Query.cs:122-129). Seeding restricts only which pairs the
    // probe produces; the callers' semi/anti join consumes a subset of
    // the seeded pairs, so results are unchanged — including NOT EXISTS,
    // where a bound row reaching nothing matches no probe pair and the
    // anti-join keeps it, exactly as with the unseeded probe.
    var rels0 = edge.vle match {
      case Some((lo, hi)) =>
        val nodes =
          if (lo == 0) Some(graph.twins.select(col("dt_id"))) else None
        val seed =
          if (srcBound)
            Some(outer.select(col(s"${edge.src}__dt_id")).distinct())
          else None
        val tgtSeed =
          if (!srcBound && dstBound)
            Some(outer.select(col(s"${edge.dst}__dt_id")).distinct())
          else None
        graft.graph.Vle.range(graph.relationships, lo, hi, edge.relNames,
            nodes, sourceDf = seed, targetDf = tgtSeed)
          .select(col("start_id").as("source_id"),
            col("end_id").as("target_id"))
      case None =>
        if (edge.relNames.isEmpty) graph.relationships
        else graph.relationships.filter(
          col("relationship_name").isin(edge.relNames: _*))
    }
    edge.optWhere.toList.flatMap(conjuncts).foreach { pred =>
      val alias = pred match {
        case Cmp(_, PropRef(Some(a), _), _) => a
        case other => throw new AdtPlanException(
          s"unsupported predicate inside EXISTS pattern: $other")
      }
      if (edge.relAlias.contains(alias)) {
        // property of the relationship document itself — compile against
        // the namespaced rel scan with the standard JSON semantics, then
        // un-namespace so the callers' column expectations hold
        val plainCols = rels0.columns.toSeq
        rels0 = AdtPlanner.ns(rels0, alias)
          .filter(compile(pred, Scope(Set.empty, Set(alias), alias)))
          .select(plainCols.map(c => col(s"${alias}__$c").as(c)): _*)
      } else if (alias == edge.src || alias == edge.dst) {
        val side = if (alias == edge.src) "source_id" else "target_id"
        val tw = AdtPlanner.ns(graph.twins, alias)
          .filter(compile(pred, Scope(Set(alias), Set.empty, alias)))
          .select(col(s"${alias}__dt_id").as(side))
        rels0 = rels0.join(tw, Seq(side), "left_semi")
      } else throw new AdtPlanException(
        s"EXISTS pattern predicate references '$alias', " +
          "which is not bound by the pattern")
    }
    (srcBound, dstBound, rels0)
  }

  private def attachExistsMarker(df: DataFrame, scope: Scope, edge: MatchEdge,
      name: String): DataFrame = {
    val (srcBound, dstBound, rels0) = existsProbe(scope, edge, df)
    val keyCols =
      (if (srcBound) Seq(col("source_id").as(s"${name}_src")) else Nil) ++
        (if (dstBound) Seq(col("target_id").as(s"${name}_dst")) else Nil)
    val probe = rels0.select(keyCols: _*).distinct().withColumn(name, lit(true))
    val conds =
      (if (srcBound) Seq(col(s"${edge.src}__dt_id") === col(s"${name}_src")) else Nil) ++
        (if (dstBound) Seq(col(s"${edge.dst}__dt_id") === col(s"${name}_dst")) else Nil)
    df.join(probe, conds.reduce(_ && _), "left_outer")
      .withColumn(name, coalesce(col(name), lit(false)))
      .drop(s"${name}_src", s"${name}_dst")
  }

  /** `EXISTS((src)-[:names]->(dst))` as a semi-join, `NOT EXISTS` as an
    * anti-join — row multiplicity never changes, and at scale both compile
    * to a single hash join against the (pruned) relationship scan. A bound
    * dst alias correlates both endpoints; an anonymous/unbound dst is
    * purely existential. */
  private def planExists(df: DataFrame, scope: Scope, edge: MatchEdge,
      negated: Boolean): DataFrame = {
    val (srcBound, dstBound, rels0) = existsProbe(scope, edge, df)
    val probe = rels0.select(col("source_id").as("__ex_src"),
      col("target_id").as("__ex_dst"))
    val conds =
      (if (srcBound) Seq(col(s"${edge.src}__dt_id") === col("__ex_src")) else Nil) ++
      (if (dstBound) Seq(col(s"${edge.dst}__dt_id") === col("__ex_dst")) else Nil)
    df.join(probe, conds.reduce(_ && _), if (negated) "left_anti" else "left_semi")
  }

  // ---------------- pipeline stages (Cypher WITH / UNWIND) ----------------

  /** `UNWIND list AS alias`: one exploded flat column appended to the
    * scope. List literals explode an in-row array; property references
    * parse the JSON array (element type string — agtype lists surface as
    * text through the reference's JSON serialization). */
  private def planUnwind(df: DataFrame, scope: Scope, u: UnwindClause)
      : (DataFrame, Scope) = {
    val listCol = u.src match {
      case ListLit(vs) =>
        val allInt = vs.forall { case NumLit(_, i) => i; case _ => false }
        val lits =
          if (allInt) vs.map { case NumLit(v, _) => lit(v.toLong); case v => lit(litValue(v)) }
          else vs.map(v => lit(litValue(v)))
        array(lits: _*)
      case p: PropRef =>
        import org.apache.spark.sql.types._
        val (entOpt, path) = resolvePropRef(p.entity, p.path, scope)
        path match {
          case List(name) if entOpt.isEmpty && scope.flat(name) => col(name)
          case _ =>
            from_json(jsonProp(entOpt.getOrElse(scope.default), path),
              ArrayType(StringType))
        }
      case other => throw new AdtPlanException(s"cannot UNWIND $other")
    }
    (df.withColumn(u.alias, explode(listCol)),
      scope.copy(flat = scope.flat + u.alias))
  }

  /** `MATCH pattern [WHERE expr]` after a WITH horizon: each edge joins
    * onto the live scope — a source already in scope hops from its bound
    * dt_id, a fresh binding enters as a cartesian factor and is then
    * constrained by the hop (the openCypher composition). Bare bindings
    * multiply the scope by the twin set. */
  private var stageSeq = 0
  private def planMatchStage(df0: DataFrame, scope: Scope, m: MatchClause)
      : (DataFrame, Scope) = {
    var df = df0
    var twins = scope.twins
    var rels = scope.rels
    stageSeq += 1
    // a WITH-projected scalar is a value, not a node/relationship — openCypher
    // rejects reusing it as a pattern binding, and silently cross-joining a
    // twin scan under the same name would produce garbage rows
    def checkNodeName(n: String): Unit =
      if (scope.flat(n)) throw new AdtPlanException(
        s"'$n' is a projected value in this horizon and cannot be re-bound " +
          "as a node in a later MATCH")
    for ((e, i) <- m.edges.zipWithIndex) {
      checkNodeName(e.src); checkNodeName(e.dst)
      val relAlias = e.relAlias.getOrElse(s"__srel${stageSeq}_$i")
      if (rels(relAlias) || twins(relAlias) || scope.flat(relAlias))
        throw new AdtPlanException(
          s"relationship alias '$relAlias' is already bound in this scope")
      val relDf = e.vle match {
        case Some((lo, hi)) =>
          val nodes =
            if (lo == 0) Some(graph.twins.select(col("dt_id"))) else None
          ns(graft.graph.Vle.range(graph.relationships, lo, hi, e.relNames,
              nodes)
            .select(col("start_id").as("source_id"),
              col("end_id").as("target_id"), col("depth")), relAlias)
        case None =>
          val rels0 =
            if (e.relNames.isEmpty) graph.relationships
            else graph.relationships.filter(
              col("relationship_name").isin(e.relNames: _*))
          ns(rels0, relAlias)
      }
      if (e.optional) {
        // OPTIONAL MATCH after a horizon: same left-outer shape as B13 —
        // pre-join edge+target so an unmatched source keeps ONE all-null row
        if (!twins(e.src)) throw new AdtPlanException(
          s"OPTIONAL MATCH source ${e.src} must already be bound")
        if (twins(e.dst)) throw new AdtPlanException(
          s"OPTIONAL MATCH target ${e.dst} is already bound")
        val relAndDst = relDf.join(ns(graph.twins, e.dst),
          col(s"${relAlias}__target_id") === col(s"${e.dst}__dt_id"))
        df = df.join(relAndDst, optionalJoinCond(e, relAlias,
            scope.copy(twins = twins + e.dst, rels = rels + relAlias,
              default = e.src)),
          "left_outer")
        rels += relAlias
        twins += e.dst
      } else {
        if (!twins(e.src)) {
          df = df.crossJoin(ns(graph.twins, e.src))
          twins += e.src
        }
        df = df.join(relDf,
          col(s"${e.src}__dt_id") === col(s"${relAlias}__source_id"))
        rels += relAlias
        if (!twins(e.dst)) {
          df = df.join(ns(graph.twins, e.dst),
            col(s"${relAlias}__target_id") === col(s"${e.dst}__dt_id"))
          twins += e.dst
        } else {
          df = df.filter(col(s"${relAlias}__target_id") === col(s"${e.dst}__dt_id"))
        }
      }
    }
    for (n <- m.loneNodes if !twins(n)) {
      checkNodeName(n)
      df = df.crossJoin(ns(graph.twins, n))
      twins += n
    }
    val newScope = scope.copy(twins = twins, rels = rels,
      default = if (scope.default.nonEmpty) scope.default
        else twins.headOption.getOrElse(""))
    val out = m.where.fold(df)(w => df.filter(compile(w, newScope)))
    (out, newScope)
  }

  /** `WITH [DISTINCT] items [WHERE expr]`: project/aggregate the scope.
    * Retained entity bindings keep their full `alias__*` namespaces (and
    * act as grouping keys when the stage aggregates); property/aggregate
    * items become flat named columns referenced by later clauses. */
  private def planWith(df: DataFrame, scope: Scope, w: WithClause)
      : (DataFrame, Scope) = {
    val entityAliases = w.items.collect {
      case SelectEntity(a) if scope.twins(a) || scope.rels(a) => a
    }
    // VARIANT is neither groupable nor comparable, so the dual-written
    // `__properties_v` column can't ride through a groupBy/distinct
    // horizon — drop it here and RE-DERIVE it after (it is a pure
    // function of the retained `properties` string; the re-parse runs
    // once per surviving group/row, not per input row).
    val variantEnt = entityAliases
      .map(a => s"${a}__properties_v").filter(df.columns.contains)
    val entCols = entityAliases.flatMap { a =>
      val prefix = s"${a}__"
      df.columns.filter(c => c.startsWith(prefix) &&
        c != s"${prefix}properties_v").toSeq.map(col)
    }
    def reattachVariant(d: DataFrame): DataFrame =
      variantEnt.foldLeft(d)((acc, n) => acc.withColumn(n,
        try_parse_json(col(n.stripSuffix("_v")))))
    val propCols = w.items.collect {
      case SelectProp(ent, path, as) =>
        val (entOpt, realPath) = resolvePropRef(ent, path, scope)
        val name = as.getOrElse(realPath.last.stripPrefix("$"))
        (name, propValue(entOpt, realPath, scope).as(name))
      case SelectEntity(p) if !scope.twins(p) && !scope.rels(p) =>
        (p, propValue(None, List(p), scope).as(p))
      case SelectExpr(e, as) =>
        val name = as.getOrElse("expr")
        (name, compile(e, scope).as(name))
    }
    val aggItems = w.items.collect { case a: SelectAgg => a }

    val (out, flatNames) =
      if (aggItems.nonEmpty) {
        val aggCols = aggItems.map(aggColumn(_, scope))
        val keys = entCols ++ propCols.map(_._2)
        val grouped =
          if (keys.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
          else df.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
        (reattachVariant(grouped),
          propCols.map(_._1) ++ aggItems.map(a => a.as.getOrElse(a.fn)))
      } else {
        val projected = df.select(entCols ++ propCols.map(_._2): _*)
        (reattachVariant(
            if (w.distinct) projected.distinct() else projected),
          propCols.map(_._1))
      }

    val newScope = Scope(
      twins = scope.twins.intersect(entityAliases.toSet),
      rels = scope.rels.intersect(entityAliases.toSet),
      default = entityAliases.headOption.getOrElse(""),
      flat = flatNames.toSet,
      // a path binding survives the horizon only while the rel alias that
      // carries its columns was retained
      paths = scope.paths.filter { case (_, pb) =>
        entityAliases.contains(pb.rel) })
    // openCypher horizon order: ORDER BY → SKIP → LIMIT shape the
    // horizon, then WHERE filters the survivors. A sort followed by a
    // limit plans as TakeOrdered (top-k), so a `WITH ... ORDER BY x
    // LIMIT k` never materializes a full global sort at scale.
    var staged = out
    if (w.orderBy.nonEmpty) {
      val sortCols = w.orderBy.map { case (e, asc) =>
        val c = e match {
          case ref: PropRef => sortKey(ref, newScope)
          case other => compile(other, newScope)
        }
        if (asc) c.asc else c.desc
      }
      staged = staged.orderBy(sortCols: _*)
    }
    w.skip.foreach(n => staged = staged.offset(n))
    w.limit.foreach(n => staged = staged.limit(n))
    val filtered = w.where match {
      case Some(e) => staged.filter(compile(e, newScope))
      case None => staged
    }
    (filtered, newScope)
  }

  /** Builds the joined scope DataFrame with `alias__col` namespaces. */
  private def buildScope(q: AdtQuery)
      : (DataFrame, Set[String], Set[String], String) = q.from match {

    case FromUnit =>
      // pipeline-only query (`UNWIND [...] AS x RETURN x`): one empty row.
      (graph.twins.sparkSession.range(1).select(),
        Set.empty[String], Set.empty[String], "")

    case FromRelationships(alias) =>
      val a = alias.getOrElse("R")
      (ns(graph.relationships, a), Set.empty[String], Set(a), a)

    case FromTwins(alias) =>
      val edges = q.matches ++ q.joins.map(j =>
        MatchEdge(j.source, j.relAlias, List(j.relName), j.target))
      // path aliases whose interiors the query reads — decides whether a
      // shortestPath plans as per-pair BFS or canonical-path enumeration
      lazy val interiorPaths = pathInteriorRefs(q)

      // $dtId point/IN bindings from top-level WHERE conjuncts (incl. the
      // inline property maps the parser lowered into WHERE) — used to SEED
      // variable-length expansions so a bound endpoint prunes the BFS to
      // its cone instead of expanding the whole graph. Purely an
      // optimization: the same predicates still filter the joined frame.
      def pointIds(a: String): Option[Seq[String]] = {
        val ids = q.where.toList.flatMap(conjuncts).collect {
          case Cmp("=", PropRef(Some(`a`), List("$dtId")), StrLit(v)) => Seq(v)
          case Cmp("=", StrLit(v), PropRef(Some(`a`), List("$dtId"))) => Seq(v)
          // only when EVERY element is a string literal — a mixed-type IN
          // could coerce-match rows a string-only seed set would miss, and
          // seeding must stay a pure optimization
          case In(PropRef(Some(`a`), List("$dtId")), vals)
              if vals.forall(_.isInstanceOf[StrLit]) =>
            vals.collect { case StrLit(v) => v }
        }.flatten
        if (ids.nonEmpty) Some(ids) else None
      }

      // Non-literal seed (r17): WHERE conjuncts that reference ONLY alias
      // `a` (and contain no EXISTS pattern) compile against the bare twin
      // scan into a distinct-id frame — a SUPERSET of the ids that can
      // survive the final join + WHERE, so seeding the expansion with it
      // is sound: the pairs it omits belong to rows the WHERE filter
      // removes later anyway (including through an OPTIONAL MATCH, where
      // the src-only predicate kills the row whether it matched or
      // null-extended). The conjuncts are NOT consumed — they still
      // filter the joined frame, so seeding stays a pure optimization.
      def seedDf(a: String): Option[DataFrame] = {
        def eligible(p: Expr): Boolean = {
          var refs = 0
          var ok = true
          def walk(x: Any): Unit = x match {
            case PropRef(ent, _) =>
              if (ent.contains(a)) refs += 1 else ok = false
            case _: ExistsPattern => ok = false
            case pr: Product => pr.productIterator.foreach(walk)
            case it: Iterable[_] => it.foreach(walk)
            case _ =>
          }
          walk(p)
          ok && refs > 0
        }
        val preds = q.where.toList.flatMap(conjuncts).filter(eligible)
        if (preds.isEmpty) None
        else Some(ns(graph.twins, a)
          .filter(compile(preds.reduce(And), Scope(Set(a), Set.empty, a)))
          .select(col(s"${a}__dt_id")))
      }
      // literal $dtId seeds win (no extra scan); else the filtered frame.
      // `frameSeed = false` (the endpoint of an OPTIONAL MATCH edge) skips
      // the compiled-predicate seed: the conjunct may be NULL-SATISFIABLE
      // (`a.x IS NULL`, `NOT a.x`, coalesce...), and removing pairs from
      // an optional edge turns matched rows into null-extended rows that
      // such a predicate then KEEPS — the unseeded plan filters them, so
      // frame seeding would change results. The literal $dtId equality /
      // IN conjuncts above are null-rejecting (null = 'v' is never true),
      // so a null-extended row is dropped exactly like the matched row
      // the seed removed, and those stay sound on optional edges.
      def srcSeeds(a: String, frameSeed: Boolean = true)
          : (Option[Seq[String]], Option[DataFrame]) =
        pointIds(a) match {
          case some @ Some(_) => (some, None)
          case None => (None, if (frameSeed) seedDf(a) else None)
        }

      if (edges.isEmpty) {
        // one or more bare node bindings: `MATCH (a), (b)` is a cross
        // product of independent twin scans (openCypher cartesian pattern)
        val a = alias.getOrElse("T")
        var df = ns(graph.twins, a)
        val twinAliases = collection.mutable.LinkedHashSet(a)
        for (n <- q.loneNodes if !twinAliases.contains(n)) {
          df = df.crossJoin(ns(graph.twins, n))
          twinAliases += n
        }
        (df, twinAliases.toSet, Set.empty[String], a)
      } else {
        // multi-hop: start from the first edge's source, chain equi-joins.
        val twinAliases = collection.mutable.LinkedHashSet[String]()
        val relAliases = collection.mutable.LinkedHashSet[String]()
        var df: DataFrame = null
        for ((e, i) <- edges.zipWithIndex) {
          val relAlias = e.relAlias.getOrElse(s"__rel$i")
          // a VLE edge joins through the BFS reachability pair set
          // (source_id, target_id, depth) instead of a single edge row
          val relDf = e.vle match {
            // Interior enumeration, two flavors sharing one arm:
            //  - a bare path binding (`p = (a)-[*1..3]->(b)`) has
            //    openCypher PER-PATH semantics — one row per trail, with
            //    nodes(p)/relationships(p) as ordered interior arrays;
            //  - a shortestPath whose interior the query observes keeps
            //    per-PAIR multiplicity but carries the canonical minimal
            //    path (deterministic tie-break).
            // Both route through the trail machinery, so both are limited
            // to bounded ranges within the enumeration cap (unbounded
            // enumeration is combinatorial), and on adversarially cyclic
            // graphs both inherit trails()' frontier row budget — a
            // shortestPath that only reads length(p) instead stays on the
            // uncapped per-pair BFS below.
            case Some((lo, hi)) if e.pathAlias.isDefined &&
                (!e.shortest || interiorPaths(e.pathAlias.get)) =>
              val cap = graph.twins.sparkSession.conf
                .get("spark.graft.vle.trailEnumDepthCap",
                  graft.graph.Vle.TrailEnumDepthCap.toString).toInt
              if (hi > cap) throw new AdtPlanException(
                (if (e.shortest)
                  s"nodes()/relationships() over a shortestPath needs a " +
                    s"bounded range within *..$cap (got *$lo..$hi) — interior "
                 else
                  s"a path variable over a variable-length edge needs a " +
                    s"bounded range within *..$cap (got *$lo..$hi) — per-path ") +
                  "enumeration is capped by " +
                  "spark.graft.vle.trailEnumDepthCap; use " +
                  (if (e.shortest) "" else "shortestPath(...) with ") +
                  "length(p) and the endpoint bindings for wider ranges")
              val nodes =
                if (lo == 0) Some(graph.twins.select(col("dt_id")))
                else None
              val (srcIds, srcDf) = srcSeeds(e.src)
              // dst of an OPTIONAL edge is the null-extended alias: no
              // frame seed (see srcSeeds — null-satisfiable conjuncts)
              val (dstIds, dstDf) = srcSeeds(e.dst, frameSeed = !e.optional)
              val enumerated =
                if (e.shortest)
                  graft.graph.Vle.shortestPaths(graph.relationships, lo, hi,
                    e.relNames, nodes, sourceIds = srcIds,
                    targetIds = dstIds, sourceDf = srcDf, targetDf = dstDf)
                else
                  graft.graph.Vle.trails(graph.relationships, lo, hi,
                    e.relNames, nodes, sourceIds = srcIds,
                    targetIds = dstIds, sourceDf = srcDf, targetDf = dstDf)
              ns(enumerated.select(col("start_id").as("source_id"),
                  col("end_id").as("target_id"), col("depth"),
                  col("node_ids"), col("rel_ids")), relAlias)
            case Some((lo, hi)) =>
              // *0..n: the depth-0 universe is EVERY twin (openCypher
              // zero-length paths match nodes regardless of edges), not
              // just edge endpoints — pass the bound node set explicitly
              val nodes =
                if (lo == 0) Some(graph.twins.select(col("dt_id")))
                else None
              val (srcIds, srcDf) = srcSeeds(e.src)
              // dst of an OPTIONAL edge is the null-extended alias: no
              // frame seed (see srcSeeds — null-satisfiable conjuncts)
              val (dstIds, dstDf) = srcSeeds(e.dst, frameSeed = !e.optional)
              ns(graft.graph.Vle.range(graph.relationships, lo, hi,
                  e.relNames, nodes, sourceIds = srcIds,
                  targetIds = dstIds, sourceDf = srcDf, targetDf = dstDf)
                .select(col("start_id").as("source_id"),
                  col("end_id").as("target_id"), col("depth")), relAlias)
            case None =>
              val rels0 =
                if (e.relNames.isEmpty) graph.relationships
                else graph.relationships.filter(col("relationship_name").isin(e.relNames: _*))
              ns(rels0, relAlias)
          }
          relAliases += relAlias
          if (df == null) {
            if (e.optional && !alias.contains(e.src)) throw new AdtPlanException(
              "OPTIONAL MATCH requires a preceding MATCH binding its source")
            df = ns(graph.twins, e.src)
            twinAliases += e.src
          } else if (!twinAliases.contains(e.src)) {
            if (e.optional) throw new AdtPlanException(
              s"OPTIONAL MATCH source ${e.src} must already be bound")
            df = df.join(ns(graph.twins, e.src), lit(true)) // disconnected pattern: cross
            twinAliases += e.src
          }
          if (e.optional) {
            // B13: left-outer in one join — pre-join edge+target so an
            // unmatched source gets a single all-null row, not one per phase
            if (twinAliases.contains(e.dst)) throw new AdtPlanException(
              s"OPTIONAL MATCH target ${e.dst} is already bound")
            val relAndDst = relDf.join(ns(graph.twins, e.dst),
              col(s"${relAlias}__target_id") === col(s"${e.dst}__dt_id"))
            // a scoped WHERE joins the match condition — it may reference
            // both the outer row and the optional pattern's bindings
            df = df.join(relAndDst, optionalJoinCond(e, relAlias,
                Scope(twinAliases.toSet + e.dst, relAliases.toSet, e.src)),
              "left_outer")
            twinAliases += e.dst
          } else {
            df = df.join(relDf, col(s"${e.src}__dt_id") === col(s"${relAlias}__source_id"))
            if (!twinAliases.contains(e.dst)) {
              df = df.join(ns(graph.twins, e.dst),
                col(s"${relAlias}__target_id") === col(s"${e.dst}__dt_id"))
              twinAliases += e.dst
            } else {
              df = df.filter(col(s"${relAlias}__target_id") === col(s"${e.dst}__dt_id"))
            }
          }
        }
        // the FROM/lone-node alias is only the default entity if the joins
        // actually bound it; otherwise fall back to the first EDGE-bound
        // alias — a bare `(c), (a)-[r]->(b)` binding joins the scope (next
        // step) but must not hijack unqualified property resolution
        val edgeBound = twinAliases.toSet
        val default = alias.filter(edgeBound.contains)
          .getOrElse(twinAliases.head)
        // bare bindings alongside edge patterns: openCypher cartesian
        // product (each lone node multiplies the scope by the twin set)
        for (n <- q.loneNodes if !twinAliases.contains(n)) {
          df = df.crossJoin(ns(graph.twins, n))
          twinAliases += n
        }
        (df, twinAliases.toSet, relAliases.toSet, default)
      }
  }

  // ---------------- expression compilation ----------------

  private def compile(e: Expr, scope: Scope): Column = e match {
    case And(l, r) => compile(l, scope) && compile(r, scope)
    case Or(l, r) => compile(l, scope) || compile(r, scope)
    case Not(x) => !compile(x, scope)
    case Cmp(op, l, r) => compileCmp(op, l, r, scope)
    case In(l, vals) =>
      val c = typedProp(l, vals.headOption, scope)
      c.isin(vals.map(litValue): _*)
    case f: FnCall => compileFn(f, scope)
    case a: Arith => compileArith(a, scope)
    case c: CaseExpr =>
      val first :: rest = c.branches
      val whenChain = rest.foldLeft(
        when(compile(first._1, scope), compileOperand(first._2, scope))) {
        case (acc, (cond, v)) => acc.when(compile(cond, scope), compileOperand(v, scope))
      }
      c.elseExpr.fold(whenChain)(e => whenChain.otherwise(compileOperand(e, scope)))
    case p: PropRef => propFromRef(p, scope).try_cast("boolean")
    case lc: ListComp => compileListComp(lc, scope)
    case r: ReduceExpr => compileReduce(r, scope)
    case l: Lit => lit(litValue(l))
    case l: ListLit => throw new AdtPlanException(s"list literal $l only valid in UNWIND/IN")
    case _: ExistsPattern => throw new AdtPlanException(
      "EXISTS patterns are only supported in the top-level WHERE (not in WITH stages)")
  }

  /** `[x IN src WHERE pred | out]` → filter/transform higher-order array
    * functions: row-local, codegen'd, zero shuffles — exactly how a list
    * expression should execute over 100 TB (never an explode+regroup). */
  private def compileListComp(lc: ListComp, scope: Scope): Column = {
    val src = compileOperand(lc.src, scope)
    def bound(x: Column) = scope.copy(lambdaVars = scope.lambdaVars + (lc.varName -> x))
    val filtered = lc.where.fold(src)(w => filter(src, x => compile(w, bound(x))))
    lc.out.fold(filtered)(o => transform(filtered, x => compileOperand(o, bound(x))))
  }

  /** `reduce(acc = init, x IN src | expr)` → aggregate() array fold. An
    * integer-literal init stays LongType so integer folds return Cypher
    * integers, not doubles. */
  private def compileReduce(r: ReduceExpr, scope: Scope): Column = {
    val src = compileOperand(r.src, scope)
    val init = r.init match {
      case NumLit(v, true) => lit(v.toLong)
      case other => compileOperand(other, scope)
    }
    aggregate(src, init, (acc, x) => compileOperand(r.out, scope.copy(
      lambdaVars = scope.lambdaVars + (r.accName -> acc) + (r.varName -> x))))
  }

  private def compileCmp(op: String, l: Expr, r: Expr, scope: Scope): Column = {
    def apply(lc: Column, rc: Column): Column = op match {
      case "=" => lc === rc
      case "!=" => !(lc === rc) // reference rewrites != as NOT(=), AdtQueryHelpers.cs:417-426
      case "<" => lc < rc
      case ">" => lc > rc
      case "<=" => lc <= rc
      case ">=" => lc >= rc
    }
    // JSON-extracted props are strings; agtype compares dynamically. With a
    // literal on one side the literal's type drives the cast (typedProp).
    // Prop-vs-prop has no static hint — compare numerically when BOTH
    // sides parse as numbers, else as strings ("1.989e30" must not beat
    // "5.97e24" lexicographically).
    def isJsonRef(e: Expr): Boolean = e match {
      case p: PropRef => !isFlatRef(p, scope)
      case _ => false
    }
    (l, r) match {
      case (p: PropRef, v: Lit) => apply(typedProp(p, Some(v), scope), lit(litValue(v)))
      case (v: Lit, p: PropRef) => apply(lit(litValue(v)), typedProp(p, Some(v), scope))
      case _ if isJsonRef(l) || isJsonRef(r) =>
        val (lc, rc) = (compileOperand(l, scope), compileOperand(r, scope))
        val (ld, rd) = (lc.try_cast("double"), rc.try_cast("double"))
        when(ld.isNotNull && rd.isNotNull, apply(ld, rd)).otherwise(apply(lc, rc))
      case _ =>
        apply(compileOperand(l, scope), compileOperand(r, scope))
    }
  }

  private def compileOperand(e: Expr, scope: Scope): Column = e match {
    case p: PropRef => propFromRef(p, scope)
    case l: Lit => lit(litValue(l))
    // list literal in value position (`size([1,2,3])`, comprehension
    // sources): all-integer lists stay LongType, like UNWIND
    case ListLit(vs) =>
      val allInt = vs.forall { case NumLit(_, i) => i; case _ => false }
      array(vs.map {
        case NumLit(v, _) if allInt => lit(v.toLong)
        case v => lit(litValue(v))
      }: _*)
    case other => compile(other, scope)
  }

  /** Arithmetic promotes JSON-extracted (string) operands to double — the
    * same dynamic promotion agtype applies in the reference. Flat columns
    * (WITH/UNWIND outputs, e.g. a length()) already carry a numeric type
    * and participate as-is; Spark inserts the cast where types differ. */
  private def compileArith(a: Arith, scope: Scope): Column = {
    def operand(e: Expr): Column = e match {
      case p: PropRef if !isFlatRef(p, scope) =>
        propFromRef(p, scope).try_cast("double")
      case other => compileOperand(other, scope)
    }
    val (lc, rc) = (operand(a.l), operand(a.r))
    a.op match {
      case "+" => lc + rc
      case "-" => lc - rc
      case "*" => lc * rc
      case "/" => lc / rc
      case "%" => lc % rc
    }
  }

  private def compileFn(f: FnCall, scope: Scope): Column = {
    def strArg(e: Expr): String = e match {
      case StrLit(s) => s
      case other => throw new AdtPlanException(s"expected string literal, got $other")
    }
    f.name match {
      case "IS_OF_MODEL" =>
        // IS_OF_MODEL([alias,] 'model' [, exact]) — closure membership via
        // the precomputed descendants (SURVEY §2 C1).
        val (entity, modelId, exact) = f.args match {
          case List(StrLit(m)) => (scope.default, m, false)
          case List(StrLit(m), PropRef(None, List(e))) if e.equalsIgnoreCase("exact") =>
            (scope.default, m, true)
          case List(PropRef(None, List(a)), StrLit(m)) => (a, m, false)
          case List(PropRef(None, List(a)), StrLit(m), PropRef(None, List(e)))
              if e.equalsIgnoreCase("exact") => (a, m, true)
          case other => throw new AdtPlanException(s"bad IS_OF_MODEL args: $other")
        }
        val fam = if (exact) Seq(modelId) else graph.modelFamily(modelId)
        col(s"${entity}__model_id").isin(fam: _*)

      case "STARTSWITH" => strProp(f.args.head, scope).startsWith(strArg(f.args(1)))
      case "ENDSWITH" => strProp(f.args.head, scope).endsWith(strArg(f.args(1)))
      case "CONTAINS" => strProp(f.args.head, scope).contains(strArg(f.args(1)))

      case "ARRAY_CONTAINS" =>
        val (ent, path) = refOf(f.args.head, scope)
        val raw = jsonProp(ent, path)
        import org.apache.spark.sql.types._
        f.args(1) match {
          case StrLit(s) => array_contains(from_json(raw, ArrayType(StringType)), s)
          case NumLit(v, _) => array_contains(from_json(raw, ArrayType(DoubleType)), v)
          case BoolLit(b) => array_contains(from_json(raw, ArrayType(BooleanType)), b)
          case other => throw new AdtPlanException(s"bad ARRAY_CONTAINS value: $other")
        }

      // operand may be any expression (`toInteger(t.x) IS NULL`), not
      // just a property reference
      case "IS_NULL" => compileOperand(f.args.head, scope).isNull
      case "IS_DEFINED" => compileOperand(f.args.head, scope).isNotNull

      // keys(x): sorted property names of a node/relationship (or of a
      // nested object property) — openCypher leaves the order unspecified;
      // we pick the deterministic one, like collect().
      case "KEYS" =>
        val doc = f.args.head match {
          case PropRef(None, List(a)) if scope.twins(a) || scope.rels(a) =>
            docCol(a)
          case p: PropRef =>
            val (ent, path) = refOf(p, scope)
            jsonProp(ent, path)
          case other =>
            throw new AdtPlanException(s"keys() needs an entity or property, got $other")
        }
        array_sort(json_object_keys(doc))

      // labels(n): AGE vertices carry one label; here it is the twin's
      // model id (relationships answer with their relationship name). A
      // null-extended OPTIONAL MATCH binding answers null, not [null].
      case "LABELS" =>
        arity(f, 1, 1)
        def labelArray(c: Column): Column = when(c.isNotNull, array(c))
        f.args.head match {
          case PropRef(None, List(a)) if scope.twins(a) =>
            labelArray(col(s"${a}__model_id"))
          case PropRef(None, List(a)) if scope.rels(a) =>
            labelArray(col(s"${a}__relationship_name"))
          case other => throw new AdtPlanException(
            s"labels() needs a node or relationship alias, got $other")
        }

      // properties(x): the full property document of a node/relationship
      // (the JSON doc column, exactly as stored).
      case "PROPERTIES" =>
        f.args.head match {
          case PropRef(None, List(a)) if scope.twins(a) || scope.rels(a) =>
            docCol(a)
          case other => throw new AdtPlanException(
            s"properties() needs a node or relationship alias, got $other")
        }

      // nodes(p) / relationships(p): path accessors. Single-edge paths
      // answer from the endpoint/rel bindings. A bare bounded-VLE path was
      // planned per trail, and a shortestPath whose interior the query
      // observes was planned with its canonical minimal path, so either
      // interior rides the match as node_ids/rel_ids array columns —
      // reversed for reverse-arrow patterns, whose traversal order is the
      // opposite of the written path order.
      case "NODES" | "RELATIONSHIPS" =>
        val pb = f.args.head match {
          case PropRef(None, List(p)) if scope.paths.contains(p) => scope.paths(p)
          case other => throw new AdtPlanException(
            s"${f.name.toLowerCase}() needs a bound path variable, got $other")
        }
        // A VLE path without planned interiors can only be a shortestPath
        // whose nodes()/relationships() reference the AST scan missed —
        // defensive: the MATCH planner enumerates interiors for every
        // path alias pathInteriorRefs() finds.
        if (pb.isVle && !pb.hasInterior) throw new AdtPlanException(
          s"${f.name.toLowerCase}() over this path was not planned with " +
            "interior enumeration (internal: pathInteriorRefs missed the " +
            "reference) — bind the accessor directly in RETURN/WITH/WHERE")
        if (pb.isVle) {
          val c = if (f.name == "NODES") col(s"${pb.rel}__node_ids")
                  else col(s"${pb.rel}__rel_ids")
          if (pb.forward) c else reverse(c)
        }
        else if (f.name == "NODES")
          array(col(s"${pb.src}__dt_id"), col(s"${pb.dst}__dt_id"))
        else array(col(s"${pb.rel}__relationship_id"))

      // Cypher scalar functions (RETURN/WITH expression surface)
      case "TOUPPER" => upper(compileOperand(f.args.head, scope))
      case "TOLOWER" => lower(compileOperand(f.args.head, scope))
      case "TOSTRING" => compileOperand(f.args.head, scope).cast("string")
      case "COALESCE" => coalesce(f.args.map(a => compileOperand(a, scope)): _*)

      // numeric conversions/functions — Cypher truncates toInteger toward
      // zero (double→long cast semantics); ceil/floor return FLOAT in
      // Cypher, so the long results are widened back
      case "TOINTEGER" => arity(f, 1, 1); numArg(f, scope).cast("long")
      case "TOFLOAT" => arity(f, 1, 1); numArg(f, scope)
      case "ABS" => arity(f, 1, 1); abs(numArg(f, scope))
      case "ROUND" =>
        arity(f, 1, 2)
        f.args.drop(1).headOption match {
          case None => round(numArg(f, scope))
          case Some(NumLit(p, _)) => round(numArg(f, scope), p.toInt)
          case Some(other) => throw new AdtPlanException(
            s"round() precision must be a literal integer, got $other")
        }
      case "CEIL" => arity(f, 1, 1); ceil(numArg(f, scope)).cast("double")
      case "FLOOR" => arity(f, 1, 1); floor(numArg(f, scope)).cast("double")

      // list functions. range() is inclusive both ends and, unlike Spark's
      // sequence(), EMPTY when the step can't reach stop from start
      // (sequence() auto-reverses `sequence(1, 0)` into [1, 0] and throws
      // on a wrong-signed explicit step) — the runtime guard keeps Cypher
      // semantics for data-dependent bounds.
      case "RANGE" =>
        arity(f, 2, 3)
        def intArg(e: Expr): Column = compileOperand(e, scope).cast("long")
        val (start, stop) = (intArg(f.args.head), intArg(f.args(1)))
        val step = f.args.drop(2).headOption.map(intArg).getOrElse(lit(1L))
        val reachable = (step > 0 && stop >= start) || (step < 0 && stop <= start)
        // Cypher semantics beyond sequence(): null bound/step → null list;
        // step 0 → error (AGE raises; silently-empty would corrupt folds)
        when(start.isNull || stop.isNull || step.isNull,
            lit(null).cast("array<long>"))
          .when(step === 0L,
            raise_error(lit("range() step must not be zero")).cast("array<long>"))
          .when(reachable, sequence(start, stop, step))
          .otherwise(array().cast("array<long>"))
      // try_element_at: head/last of an empty list answer null (Cypher),
      // not ANSI INVALID_ARRAY_INDEX_IN_ELEMENT_AT
      case "HEAD" =>
        arity(f, 1, 1); try_element_at(compileOperand(f.args.head, scope), lit(1))
      case "LAST" =>
        arity(f, 1, 1); try_element_at(compileOperand(f.args.head, scope), lit(-1))

      // string functions; substring is 0-based in Cypher, 1-based in Spark
      case "SUBSTRING" =>
        arity(f, 2, 3)
        val s = strProp(f.args.head, scope)
        def intLit(e: Expr, what: String): Int = e match {
          case NumLit(v, _) => v.toInt
          case other => throw new AdtPlanException(
            s"substring $what must be a literal integer, got $other")
        }
        val start = intLit(f.args(1), "start")
        f.args.drop(2).headOption match {
          case Some(lenE) => substring(s, start + 1, intLit(lenE, "length"))
          case None => substring(s, start + 1, Int.MaxValue)
        }
      case "REPLACE" =>
        arity(f, 3, 3)
        (f.args(1), f.args(2)) match {
          case (StrLit(find), StrLit(repl)) =>
            regexp_replace(strProp(f.args.head, scope),
              java.util.regex.Pattern.quote(find),
              java.util.regex.Matcher.quoteReplacement(repl))
          case other => throw new AdtPlanException(
            s"replace() needs literal search/replacement strings, got $other")
        }
      case "TRIM" => arity(f, 1, 1); trim(strProp(f.args.head, scope))
      case "REVERSE" => arity(f, 1, 1); reverse(strProp(f.args.head, scope))
      case "SPLIT" =>
        arity(f, 2, 2)
        f.args(1) match {
          case StrLit(delim) => split(strProp(f.args.head, scope),
            java.util.regex.Pattern.quote(delim))
          case other => throw new AdtPlanException(
            s"split() needs a literal delimiter, got $other")
        }
      case "SIZE" =>
        // size() of a list: a flat array column (e.g. a collect() output)
        // is sized directly; a JSON array property is parsed first
        f.args.head match {
          case p: PropRef if isFlatRef(p, scope) => size(propFromRef(p, scope))
          case p: PropRef =>
            val (ent, path) = refOf(p, scope)
            import org.apache.spark.sql.types._
            size(from_json(jsonProp(ent, path), ArrayType(StringType)))
          case other => size(compileOperand(other, scope))
        }

      case "IS_BOOL" =>
        // reference rewrites to (x = true OR x = false), AdtQueryHelpers.cs:387-395
        val (ent, path) = refOf(f.args.head, scope)
        typeIsCol(ent, path, "boolean")
      case "IS_NUMBER" =>
        val (ent, path) = refOf(f.args.head, scope)
        typeIsCol(ent, path, "number")
      case "IS_STRING" =>
        val (ent, path) = refOf(f.args.head, scope)
        typeIsCol(ent, path, "string")
      case "IS_OBJECT" =>
        val (ent, path) = refOf(f.args.head, scope)
        typeIsCol(ent, path, "object")
      case "IS_PRIMITIVE" =>
        val (ent, path) = refOf(f.args.head, scope)
        coalesce(typeOfCol(ent, path).isin("string", "number", "boolean"),
          lit(false))

      case other => throw new AdtPlanException(s"unknown function $other")
    }
  }

  /** Left-outer join condition for an optional edge: the source equi-join
    * plus any scoped WHERE compiled against the pattern's bindings — the
    * single definition of the null-extension semantics, shared by the
    * top-level and pipeline-stage OPTIONAL MATCH planners. */
  private def optionalJoinCond(e: MatchEdge, relAlias: String,
      optScope: Scope): Column = {
    val base = col(s"${e.src}__dt_id") === col(s"${relAlias}__source_id")
    e.optWhere.fold(base)(w => base && compile(w, optScope))
  }

  /** Replace bare output-alias references with their source expressions
    * (for ORDER BY expressions compiled pre-projection). */
  private def substituteAliases(e: Expr, map: Map[String, Expr]): Expr = e match {
    case PropRef(None, List(n)) if map.contains(n) => map(n)
    case And(l, r) => And(substituteAliases(l, map), substituteAliases(r, map))
    case Or(l, r) => Or(substituteAliases(l, map), substituteAliases(r, map))
    case Not(x) => Not(substituteAliases(x, map))
    case Cmp(op, l, r) => Cmp(op, substituteAliases(l, map), substituteAliases(r, map))
    case In(l, vs) => In(substituteAliases(l, map), vs)
    case FnCall(n, args) => FnCall(n, args.map(substituteAliases(_, map)))
    case Arith(op, l, r) => Arith(op, substituteAliases(l, map), substituteAliases(r, map))
    case CaseExpr(bs, els) => CaseExpr(
      bs.map { case (c, v) => (substituteAliases(c, map), substituteAliases(v, map)) },
      els.map(substituteAliases(_, map)))
    // lambda variables shadow outer aliases inside their body
    case ListComp(v, src, w, o) =>
      val inner = map - v
      ListComp(v, substituteAliases(src, map),
        w.map(substituteAliases(_, inner)), o.map(substituteAliases(_, inner)))
    case ReduceExpr(a, init, v, src, o) =>
      ReduceExpr(a, substituteAliases(init, map), v,
        substituteAliases(src, map), substituteAliases(o, map - a - v))
    case other => other
  }

  /** ORDER BY key for a possibly-JSON-extracted property: numeric values
    * sort numerically and before strings (agtype's type-then-value
    * ordering), strings lexically. Flat columns already carry their type
    * and sort as-is. The key never reaches the output, so result VALUES
    * are unaffected — only row order. */
  private def sortKey(ref: PropRef, scope: Scope): Column = {
    val c = propFromRef(ref, scope)
    if (isFlatRef(ref, scope)) c
    else {
      val d = c.try_cast("double")
      struct(when(d.isNotNull, 0).otherwise(1).as("t"),
        coalesce(d, lit(0.0)).as("n"), c.as("s"))
    }
  }

  /** Numeric function operand: ALWAYS promoted to double — JSON props are
    * strings, but so are UNWIND/WITH flat columns of string lists and
    * string literals, and `toFloat("10.5")` sorting lexicographically is
    * silently wrong. The cast is a no-op for already-numeric columns. */
  private def numArg(f: FnCall, scope: Scope): Column =
    compileOperand(f.args.head, scope).try_cast("double")

  /** Clean plan error for wrong argument counts — a raw
    * IndexOutOfBoundsException is an internal crash, not a diagnosis. */
  private def arity(f: FnCall, min: Int, max: Int): Unit =
    if (f.args.size < min || f.args.size > max)
      throw new AdtPlanException(
        s"${f.name.toLowerCase}() expects " +
          (if (min == max) s"$min" else s"$min to $max") +
          s" arguments, got ${f.args.size}")

  // ---------------- property resolution ----------------

  /** Disambiguates `PropRef(Some(x), path)`: `x` may be an entity alias or
    * the first segment of an unqualified path. */
  private def resolvePropRef(ent: Option[String], path: List[String],
      scope: Scope): (Option[String], List[String]) =
    ent match {
      case Some(a) if scope.twins(a) || scope.rels(a) || scope.paths.contains(a) =>
        (Some(a), path)
      case Some(first) => (None, first :: path)
      case None => (None, path)
    }

  private def asRef(e: Expr): PropRef = e match {
    case p: PropRef => p
    case other => throw new AdtPlanException(s"expected property reference, got $other")
  }

  private def refOf(e: Expr, scope: Scope): (String, List[String]) = {
    val p = asRef(e)
    val (entOpt, path) = resolvePropRef(p.entity, p.path, scope)
    (entOpt.getOrElse(scope.default), path)
  }

  private def propFromRef(p: PropRef, scope: Scope): Column = {
    val (entOpt, path) = resolvePropRef(p.entity, p.path, scope)
    propValue(entOpt, path, scope)
  }

  /** Comparison operand with type derived from the literal side (the
    * reference relies on agtype's dynamic typing; we cast the JSON string
    * extraction to the literal's type). */
  private def typedProp(e: Expr, litHint: Option[Lit], scope: Scope): Column = {
    val c = compileOperand(e, scope)
    e match {
      case p: PropRef => litHint match {
        // flat columns (WITH/UNWIND outputs) already carry their real type
        case _ if isFlatRef(p, scope) => c
        // try_cast: a non-numeric value compared to a number is no-match
        // (agtype), not an ANSI CAST_INVALID_INPUT crash
        case Some(NumLit(_, _)) => c.try_cast("double")
        case Some(BoolLit(_)) => c.try_cast("boolean")
        case _ => c
      }
      case _ => c
    }
  }

  private def isFlatRef(p: PropRef, scope: Scope): Boolean =
    resolvePropRef(p.entity, p.path, scope) match {
      case (None, List(name)) =>
        scope.flat(name) || scope.lambdaVars.contains(name)
      case _ => false
    }

  private def strProp(e: Expr, scope: Scope): Column = compileOperand(e, scope)

  /** System keys hit promoted columns; flat columns resolve as-is;
    * everything else is JSON access. */
  private def propValue(ent: Option[String], path: List[String],
      scope: Scope): Column = {
    path match {
      case List(name) if ent.isEmpty && scope.lambdaVars.contains(name) =>
        return scope.lambdaVars(name)
      case List(name) if ent.isEmpty && scope.flat(name) => return col(name)
      // length(p): hop count of a bound path — the VLE pair set's minimal
      // depth, or 1 for a single-hop path
      case List("__length") if ent.exists(scope.paths.contains) =>
        val pb = scope.paths(ent.get)
        return if (pb.isVle) col(s"${pb.rel}__depth").cast("long") else lit(1L)
      case List("__length") =>
        // length() only applies to a bound path — never fall through to a
        // (null-yielding) JSON property lookup
        throw new AdtPlanException(
          s"path ${ent.getOrElse("?")} is not in scope here " +
            "(a WITH horizon keeps a path only while its relationship " +
            "binding is retained)")
      case _ =>
    }
    val a = ent.getOrElse(scope.default)
    val isRel = scope.rels(a)
    path match {
      case List("$dtId") if !isRel => col(s"${a}__dt_id")
      case List("$etag") => col(s"${a}__etag")
      case List("$metadata", "$model") if !isRel => col(s"${a}__model_id")
      case List("$lastUpdateTime") if !isRel => col(s"${a}__last_update_time")
      case List("$relationshipId") if isRel => col(s"${a}__relationship_id")
      case List("$sourceId") if isRel => col(s"${a}__source_id")
      case List("$targetId") if isRel => col(s"${a}__target_id")
      case List("$relationshipName") if isRel => col(s"${a}__relationship_name")
      case List("depth") if isRel => col(s"${a}__depth") // VLE pair-set column
      case p => jsonProp(a, p)
    }
  }

  /** Document property extraction. When the graph carries a pre-parsed
    * `properties_v` variant column (GraphViews dual-writes it onto the
    * persisted frames), property access is an O(1) `variant_get` against
    * cached variant binary — the JSON parse was paid ONCE at cache fill.
    * The JSON-string route re-parses the full document once PER property
    * per operator (filters don't subexpression-eliminate; measured in
    * SCALING.md), which at 100 TB is k full passes over the scan's
    * heaviest column for a k-property predicate. String-rendering parity
    * between the routes is spec-pinned (VariantPropSpec) for scalars and
    * arrays; values that may EMBED AN OBJECT (rendered value contains
    * '{') fall back per row to the verbatim `get_json_object` echo —
    * variant renders object fields name-sorted/re-spaced, and user-visible
    * output must not change with the access route (ADVICE r17). The
    * fallback evaluates lazily inside the when(), so scalar-only scans
    * never pay a re-parse. A graph without the column (both frames must
    * carry it) takes the get_json_object route throughout. */
  private val variantProps: Boolean =
    graph.twins.columns.contains("properties_v") &&
      graph.relationships.columns.contains("properties_v")
  private def jsonProp(entity: String, path: List[String]): Column =
    if (variantProps) {
      val jp = "$" + path.map(p => s"['$p']").mkString
      val v = variant_get(col(s"${entity}__properties_v"), jp, "string")
      when(v.contains("{"), TwinGraph.prop(docCol(entity), path)).otherwise(v)
    } else TwinGraph.prop(docCol(entity), path)

  private def docCol(alias: String): Column = col(s"${alias}__properties")

  /** C8-C12 type introspection: routed through the variant column when
    * present (r18) so a multi-predicate WHERE reads the parsed binary
    * once, consistent with [[jsonProp]]; the JSON-string kernel
    * ([[graft.functions.JsonTypeOf]]) re-parses the document per call.
    * Total-boolean semantics (reference plpgsql helpers RETURN false on
    * missing, GraphInitialization.cs:186-235) live in [[typeIsCol]]. */
  private def typeOfCol(ent: String, path: List[String]): Column =
    if (variantProps)
      JsonFunctions.variantTypeOf(col(s"${ent}__properties_v"), path)
    else JsonFunctions.json_type_of(docCol(ent), path.mkString("."))
  private def typeIsCol(ent: String, path: List[String], t: String): Column =
    coalesce(typeOfCol(ent, path) === t, lit(false))
}

object AdtPlanner {
  def litValue(l: Lit): Any = l match {
    case StrLit(s) => s
    case NumLit(v, _) => v
    case BoolLit(b) => b
  }

  /** Prefix all columns of `df` with `alias__`. */
  def ns(df: DataFrame, alias: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(s"${alias}__$c")): _*)

  /** Selected entity columns, unprefixed when the entity is unambiguous.
    * `properties_v` is the dual-written PARSED form of `properties` — an
    * internal scan-layer column, never part of an entity's document
    * surface (and its VariantType would change result schemas). */
  def entityCols(df: DataFrame, alias: String): Seq[Column] = {
    val prefix = s"${alias}__"
    df.columns.filter(_.startsWith(prefix)).toSeq
      .filterNot(_ == s"${prefix}properties_v")
      .map(c => col(c).as(s"${alias}_${c.stripPrefix(prefix)}"))
  }
}

final class AdtPlanException(msg: String) extends RuntimeException(msg)
