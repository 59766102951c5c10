package graft.graph

import graft.core.Blocks.CompactCheckpointOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.Blocks

/** Incremental maintenance of graph analytics over the store's CDC
  * surface (SURVEY §2.A9 mutation log → §2.F analytics): instead of
  * recomputing degrees / PageRank from the full edge set after every
  * mutation batch, fold the batch's relationship mutations into the
  * previously-computed result. The reference implies exactly this shape —
  * its replication consumer (AgeDigitalTwinsReplication.cs:194-573) feeds
  * a continuously-correct graph from the WAL; here the same log keeps
  * derived ANALYTICS continuously correct.
  *
  * Scale contract: every method's expensive work is proportional to the
  * MUTATION BATCH (and, for PageRank, the K-hop forward cone of the
  * touched nodes), never to the full edge set. The only full-width
  * operations are linear merges of the previous result table (broadcast
  * semi/anti joins + arithmetic — one scan, no shuffle of the big side
  * beyond its existing layout). On a 100 TB graph with a trickle of
  * mutations, a refresh touches the delta cone; the batch recompute it
  * replaces touches everything, every time.
  *
  * The COMMIT obeys the same contract (r19): maintainer state is
  * hash-bucketed and versioned behind per-version manifests
  * ([[StateStore]]), so each micro-batch WRITES only the buckets its
  * dirty cone touched and carries every clean bucket forward by
  * reference — the r18 SLO attributed ~99% of the per-batch floor to the
  * previous full state rewrite, a cost bounded by state size rather than
  * batch size. Reads assemble a table from the manifest (one pruned
  * parquet relation per owning version); retention sweeps versions and
  * bucket dirs nothing references, with a one-commit grace for in-flight
  * lazy readers.
  *
  * Equality contract: all arithmetic matches the batch operators
  * bit-for-bit (integer micro-units, same div/order-independent sums), so
  * `refresh* == full recompute` is exact hash equality, which is how the
  * oracle gates check it.
  */
object IncrementalAnalytics {

  private val RelKey = Seq("source_id", "relationship_id")

  /** Last-writer-wins fold of relationship mutation-log rows
    * (Tables.mutationsSchema: RelationshipCreate/Update/Delete with the
    * stamped rel doc in new_json/old_json) into one row per touched
    * relationship key: (source_id, relationship_id, target_id,
    * relationship_name, alive). Intermediate flip-flops (create→delete
    * within the window) collapse to their final state — one combinable
    * max_by aggregation over the batch, nothing else. */
  def latestRelMutations(mutations: DataFrame): DataFrame = {
    val doc = coalesce(col("new_json"), col("old_json"))
    mutations.filter(col("entity_kind") === "Relationship")
      .select(
        col("seq"),
        get_json_object(doc, "$['$sourceId']").as("source_id"),
        get_json_object(doc, "$['$relationshipId']").as("relationship_id"),
        get_json_object(doc, "$['$targetId']").as("target_id"),
        get_json_object(doc, "$['$relationshipName']").as("relationship_name"),
        (col("event_type") =!= "RelationshipDelete").as("alive"))
      .groupBy(col("source_id"), col("relationship_id"))
      .agg(max_by(
        struct(col("target_id"), col("relationship_name"), col("alive")),
        col("seq")).as("last"))
      .select(col("source_id"), col("relationship_id"),
        col("last.target_id").as("target_id"),
        col("last.relationship_name").as("relationship_name"),
        col("last.alive").as("alive"))
  }

  /** Same fold for twin lifecycle rows: (dt_id, alive). */
  def latestTwinMutations(mutations: DataFrame): DataFrame =
    mutations.filter(col("entity_kind") === "Twin")
      .groupBy(col("entity_id").as("dt_id"))
      .agg(max_by(col("event_type") =!= "TwinDelete", col("seq")).as("alive"))

  /** The maintained relationship table: base rows whose key was not
    * touched, plus the final state of every touched-and-alive key.
    * Normalized to the 4 analytic columns. */
  def applyRelationshipMutations(baseRels: DataFrame,
      mutations: DataFrame): DataFrame = {
    val latest = latestRelMutations(mutations)
    val cols4 = Seq("relationship_id", "source_id", "target_id",
      "relationship_name").map(col)
    baseRels.select(cols4: _*)
      .join(latest.select(RelKey.map(col): _*), RelKey, "left_anti")
      .unionByName(latest.filter(col("alive")).select(cols4: _*))
      .select(cols4: _*) // a using-columns join reorders; restore the shape
  }

  /** Incremental refresh of [[TwinGraph.degrees]]: per-node degree deltas
    * come from the base→final transition of TOUCHED relationship keys
    * only (−1 for each base row, +1 for each surviving final row), merged
    * into the previous degrees table with one linear pass. Twin
    * create/delete mutations grow/shrink the node universe. The base
    * relationship table is only semi-joined on the touched keys — at
    * rest, a partition-prunable point read, never a scan-wide aggregate. */
  def refreshDegrees(baseDegrees: DataFrame, baseRels: DataFrame,
      mutations: DataFrame): DataFrame = {
    val latest = latestRelMutations(mutations)
    val oldRows = baseRels
      .select(col("source_id"), col("relationship_id"), col("target_id"))
      .join(latest.select(RelKey.map(col): _*), RelKey, "left_semi")
    def contrib(rows: DataFrame, sign: Int): DataFrame =
      rows.select(explode(array(
        struct(col("source_id").as("dt_id"),
          lit(sign.toLong).as("d_out"), lit(0L).as("d_in")),
        struct(col("target_id").as("dt_id"),
          lit(0L).as("d_out"), lit(sign.toLong).as("d_in")))).as("c"))
        .select(col("c.dt_id"), col("c.d_out"), col("c.d_in"))
    val delta = contrib(oldRows, -1)
      .unionByName(contrib(latest.filter(col("alive")), +1))
      .groupBy(col("dt_id"))
      .agg(sum(col("d_out")).as("d_out"), sum(col("d_in")).as("d_in"))

    val twinDelta = latestTwinMutations(mutations)
    val universe = baseDegrees.select(col("dt_id"))
      .join(twinDelta.filter(!col("alive")).select(col("dt_id")),
        Seq("dt_id"), "left_anti")
      .unionByName(twinDelta.filter(col("alive")).select(col("dt_id"))
        .join(baseDegrees.select(col("dt_id")), Seq("dt_id"), "left_anti"))

    universe
      .join(baseDegrees, Seq("dt_id"), "left_outer")
      .join(delta, Seq("dt_id"), "left_outer")
      .select(col("dt_id"),
        (coalesce(col("out_degree"), lit(0L)) + coalesce(col("d_out"), lit(0L)))
          .as("out_degree"),
        (coalesce(col("in_degree"), lit(0L)) + coalesce(col("d_in"), lit(0L)))
          .as("in_degree"))
      .withColumn("degree", col("out_degree") + col("in_degree"))
  }

  private def pairs(rels: DataFrame): DataFrame =
    rels.select(col("source_id"), col("target_id")).distinct()

  /** Seed closure over a directed (u, v) edge frame — the region-reach
    * primitive every splice maintainer uses. `e` must be materialized
    * (checkpointed) with string columns `u`, `v`; `seeds` carries one
    * string column `node`. Returns the visited set (incl. edge-free
    * seeds) as a checkpointed (node) frame the CALLER frees; never frees
    * its inputs.
    *
    * Sub-cutoff inputs ([[LocalGraph.maxEdges]]) resolve in one serial
    * BFS — the mutation cone a maintainer chases is batch-sized by
    * contract, so at any corpus scale this is the common case, and the
    * per-hop Spark-job tax (the r19 profile measured ~40 ms/job × 3
    * jobs × diameter) vanishes. Above the cutoff: frontier BFS, one
    * checkpoint + one count per hop, visited kept as a lazy union of the
    * per-hop checkpoints (no third per-hop materialization). */
  private[graft] def reachClosure(e: DataFrame, seeds: DataFrame,
      maxRounds: Int, what: String): DataFrame = {
    val spark = e.sparkSession
    val cutoff = LocalGraph.maxEdges(spark)
    // The cutoff gates the SEED frame too (r19 advice): the edge probe
    // alone would let a huge seed set over a tiny edge frame collect
    // unbounded rows to the driver. Seeds are collected through a
    // limit(cutoff+1) probe — over-cutoff falls back to the distributed
    // branch instead of relying on spark.driver.maxResultSize.
    val localSolve = LocalGraph.collectEdges(e, cutoff).flatMap { es =>
      val lim = if (cutoff >= Int.MaxValue - 1) Int.MaxValue
        else cutoff.toInt + 1
      val seedRows = seeds.select(col("node")).distinct()
        .limit(lim).collect()
      if (seedRows.length > cutoff) None
      else Some((es, seedRows.map(_.getString(0))))
    }
    localSolve match {
      case Some((es, seedArr)) =>
        import spark.implicits._
        LocalGraph.reachNodes(es, seedArr).toSeq.toDF("node")
          .compactCheckpoint()
      case None =>
        var parts = List(seeds.select(col("node")).distinct()
          .compactCheckpoint())
        var frontier = parts.head
        var alive = frontier.count()
        var round = 0
        while (alive > 0) {
          round += 1
          if (round > maxRounds)
            throw new IllegalStateException(
              s"$what reachability still expanding after $maxRounds " +
                "rounds — raise the round cap")
          val visited = parts.reduce(_ unionByName _)
          val nxt = e.join(frontier.withColumnRenamed("node", "u"),
              Seq("u"), "left_semi")
            .select(col("v").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti")
            .compactCheckpoint()
          alive = nxt.count()
          parts ::= nxt
          frontier = nxt
        }
        val out = parts.reduce(_ unionByName _).compactCheckpoint()
        parts.foreach(Blocks.free)
        out
    }
  }

  private def endpoints(p: DataFrame): DataFrame =
    p.select(col("source_id").as("node"))
      .unionByName(p.select(col("target_id").as("node"))).distinct()

  /** Affected-cone refresh of fixed-K integer PageRank
    * ([[PageRank.ranks]]): given the NEW relationship table, the set of
    * CHANGED pairs (added or dropped (source,target) edges — derivable
    * from a mutation batch via [[latestRelMutations]], so its size is
    * bounded by the batch, not the graph), and the per-iteration rank
    * history of the previous run ([[PageRank.ranksHistory]]), recompute
    * only the nodes whose rank can differ and splice everything else from
    * history.
    *
    * Affected-set propagation (exact over-approximation): a mutation at
    * pair (s→t) perturbs t's in-edge set and s's out-degree — so round 1
    * recomputes every endpoint of a changed pair plus every current
    * out-neighbor of a changed source; each later round adds the
    * out-neighbors of the previous affected set (a changed rank only
    * propagates along out-edges). Recomputing an unaffected node is
    * harmless (same formula, same inputs ⇒ same value), so
    * over-approximation never breaks the bit-equality contract.
    *
    * Per-round cost: contributions are computed ONLY for in-edges of
    * affected targets (edge table semi-joined on the affected set before
    * the rank join); the splice of untouched ranks is a linear
    * semi+anti+union pass over the previous round's table with the small
    * affected set broadcast. K rounds of cone-growth, never a full-graph
    * join-aggregate. */
  def refreshRanks(newRels: DataFrame, changedPairs: DataFrame,
      history: IndexedSeq[DataFrame]): DataFrame = {
    // needDirty=false: the dirty key sets would be discarded, so skip
    // their per-iteration materialization jobs outright (r19)
    val (hist, _) = refreshRanksHistoryParts(newRels, changedPairs,
      history, needDirty = false)
    hist.dropRight(1).foreach(Blocks.free)
    hist.last
  }

  /** [[refreshRanks]] returning EVERY refreshed iteration (the new
    * per-iteration history a continuously-maintained PageRank carries
    * forward so the NEXT batch can splice against it) plus, per
    * iteration, the key set whose rows can differ from the previous
    * history — iteration i's affected cone plus the nodes the batch
    * removed from the edge universe. A delta commit rewrites only the
    * state buckets those keys hash into. Caller owns BOTH returned
    * checkpoint sequences. */
  private[graft] def refreshRanksHistoryParts(newRels: DataFrame,
      changedPairs: DataFrame, history: IndexedSeq[DataFrame],
      needDirty: Boolean = true)
      : (IndexedSeq[DataFrame], IndexedSeq[DataFrame]) = {
    require(history.nonEmpty, "need the previous run's per-iteration ranks")
    val newPairs = pairs(newRels)
    val nodes = endpoints(newPairs).compactCheckpoint()
    val outdeg = newPairs.groupBy(col("source_id"))
      .agg(count(lit(1)).as("outdeg"))
    val e = newPairs.join(outdeg, Seq("source_id")).compactCheckpoint()

    def outNeighbors(a: DataFrame): DataFrame =
      e.join(a.select(col("node").as("source_id")), Seq("source_id"), "left_semi")
        .select(col("target_id").as("node")).distinct()

    val changed = changedPairs.select(col("source_id"), col("target_id"))
      .distinct().compactCheckpoint()
    // round-1 affected set: endpoints of changed pairs (covers added /
    // dropped edges and brand-new nodes) + out-neighbors of changed
    // sources (their out-degree shifted every surviving contribution);
    // intersected with the live universe so dropped nodes vanish
    val affected1 = changed.select(col("source_id").as("node"))
      .unionByName(changed.select(col("target_id").as("node")))
      .distinct()
      .join(nodes, Seq("node"), "left_semi")
      .unionByName(outNeighbors(
        changed.select(col("source_id").as("node")).distinct()))
      .distinct()
      .compactCheckpoint()
    // r⁰ is the constant init — exact for every node, including new ones
    val init = nodes.withColumn("rank_m", lit(1000000L))
      .compactCheckpoint()
    val out = spliceRounds(history, nodes, changed, affected1, init,
      needDirty)((affected, blend) => {
        val contribs = e
          .join(affected.select(col("node").as("target_id")),
            Seq("target_id"), "left_semi")
          .join(blend.select(col("node").as("source_id"), col("rank_m")),
            Seq("source_id"))
          .select(col("target_id").as("node"),
            expr("rank_m div outdeg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
        affected.join(contribs, Seq("node"), "left_outer")
          .select(col("node"),
            (lit(150000L) + expr("(85 * coalesce(contrib, 0L)) div 100"))
              .as("rank_m"))
      }, outNeighbors)
    Blocks.free(e); Blocks.free(nodes)
    out
  }

  /** The per-round splice both history refreshes share: round i
    * recomputes only the `affected` rows over the previous blended round
    * (`recompute(affected, blend)`, from the r⁰ `init`), splices every
    * other live (`nodes`) row from `history(i - 1)`, and grows `affected`
    * by one `nbrs` hop. With `needDirty`, round i's dirty keys are its
    * affected set plus the nodes the batch dropped from the edge universe
    * (their history rows vanish via the semi-join, so their buckets are
    * dirty too). Frees `changed`, `affected` and `init`; the caller owns
    * `nodes` and both returned checkpoint sequences. */
  private def spliceRounds(history: IndexedSeq[DataFrame], nodes: DataFrame,
      changed: DataFrame, affected1: DataFrame, init: DataFrame,
      needDirty: Boolean)(recompute: (DataFrame, DataFrame) => DataFrame,
      nbrs: DataFrame => DataFrame)
      : (IndexedSeq[DataFrame], IndexedSeq[DataFrame]) = {
    val removed =
      if (!needDirty) null
      else changed
        .select(explode(array(col("source_id"), col("target_id"))).as("node"))
        .distinct()
        .join(nodes, Seq("node"), "left_anti")
        .compactCheckpoint()
    var affected = affected1
    var blend = init
    val outHist = IndexedSeq.newBuilder[DataFrame]
    val outDirty = IndexedSeq.newBuilder[DataFrame]
    for (i <- 1 to history.size) {
      val spliced = history(i - 1)
        .join(nodes, Seq("node"), "left_semi")   // drop removed nodes
        .join(affected, Seq("node"), "left_anti") // affected: recomputed
        .unionByName(recompute(affected, blend))
        .compactCheckpoint()
      if (i == 1) Blocks.free(blend) // the r⁰ init; later blends ARE history
      blend = spliced
      outHist += spliced
      if (needDirty)
        outDirty += affected.unionByName(removed).distinct()
          .compactCheckpoint()
      if (i < history.size) {
        val grown = affected.unionByName(nbrs(affected)).distinct()
          .compactCheckpoint()
        Blocks.free(affected)
        affected = grown
      }
    }
    Blocks.free(affected); Blocks.free(changed)
    if (removed != null) Blocks.free(removed)
    (outHist.result(), outDirty.result())
  }

  /** Affected-component refresh of [[TwinGraph.components]] (weakly
    * connected components, label = lexicographic-min member): recompute
    * ONLY the components a mutation batch can change, splice every other
    * label through verbatim.
    *
    * Affected set (exact over-approximation, closed in one step): the
    * base components of every node touched by the batch — endpoints of
    * created/deleted/updated relationships and created/deleted twins. An
    * added edge can only merge the components of its own endpoints (both
    * touched ⇒ both comps affected); a dropped edge can only split its
    * own component; so the subgraph induced on affected-component members
    * (plus created twins) contains every node whose label can move, and
    * an untouched edge never crosses out of it (its endpoints share a
    * base component). Labels are canonical (min member), so recomputing
    * the subgraph with the same star-contraction operator reproduces
    * exactly what a full batch recompute would assign — bit-equal splice.
    *
    * Cost: ∝ the touched components' sizes + one linear anti-join pass
    * over the base label table, never a full-graph contraction.
    *
    * Log-consistency contract: a deleted twin's relationships must carry
    * their own delete rows in the batch (the store's DETACH discipline —
    * reference JobService delete jobs sweep relationships first); a
    * dangling edge would otherwise keep the dead id as a component
    * member on the batch side too. */
  def refreshComponents(baseComponents: DataFrame, baseRels: DataFrame,
      mutations: DataFrame): DataFrame = {
    val p = componentsParts(baseComponents, baseRels, mutations)
    baseComponents
      .join(p.affected, Seq("component"), "left_anti")
      .select(col("dt_id"), col("component"))
      .unionByName(p.recomputed)
  }

  /** The two splice ingredients of [[refreshComponents]] — the affected
    * COMPONENT ids and the recomputed labels for their members — exposed
    * so a delta commit can rewrite only the state buckets those members
    * hash into instead of the full label table. */
  private[graft] case class ComponentsParts(affected: DataFrame,
      recomputed: DataFrame)

  private[graft] def componentsParts(baseComponents: DataFrame,
      baseRels: DataFrame, mutations: DataFrame): ComponentsParts = {
    val latest = latestRelMutations(mutations).compactCheckpoint()
    val twinDelta = latestTwinMutations(mutations).compactCheckpoint()
    val oldTouched = baseRels
      .select(col("source_id"), col("relationship_id"), col("target_id"))
      .join(latest.select(RelKey.map(col): _*), RelKey, "left_semi")
      .select(col("source_id"), col("target_id"))
    val newTouched = latest.filter(col("alive"))
      .select(col("source_id"), col("target_id"))
    val touchedNodes = oldTouched.unionByName(newTouched)
      .select(explode(array(col("source_id"), col("target_id"))).as("dt_id"))
      .unionByName(twinDelta.select(col("dt_id")))
      .distinct()
    val affected = baseComponents
      .join(touchedNodes, Seq("dt_id"), "left_semi")
      .select(col("component")).distinct()
      .compactCheckpoint()
    val deadTwins = twinDelta.filter(!col("alive")).select(col("dt_id"))
    val subNodes = baseComponents
      .join(affected, Seq("component"), "left_semi").select(col("dt_id"))
      .unionByName(twinDelta.filter(col("alive")).select(col("dt_id")))
      .unionByName(newTouched.select(
        explode(array(col("source_id"), col("target_id"))).as("dt_id")))
      .distinct()
      .join(deadTwins, Seq("dt_id"), "left_anti")
      .compactCheckpoint()
    // maintained edges with source inside the subgraph — for untouched
    // edges "source in" implies "both in" (same base component), for
    // touched edges both endpoints were added explicitly
    val subPairs = applyRelationshipMutations(baseRels, mutations)
      .join(subNodes.withColumnRenamed("dt_id", "source_id"),
        Seq("source_id"), "left_semi")
      .select(col("source_id").as("doc_a"), col("target_id").as("doc_b"))
    val recomputed = subNodes
      .join(graft.pipeline.Dedup.components(subPairs)
        .withColumnRenamed("doc", "dt_id"), Seq("dt_id"), "left_outer")
      .select(col("dt_id"),
        coalesce(col("component"), col("dt_id")).as("component"))
    Blocks.free(latest); Blocks.free(twinDelta)
    ComponentsParts(affected, recomputed)
  }

  // ---------------- streaming maintenance (§2.A9 composition) ----------------

  private val RelsCols =
    Seq("relationship_id", "source_id", "target_id", "relationship_name")

  /** Initialize `op`'s maintenance state: version 0 holds the base
    * relationship table (4 analytic columns) and `state`, one frame per
    * `op.tables` entry, every table landing fully at v0, hash-bucketed by
    * its first key column ([[StateStore]]), with the manifest, schema +
    * key sidecars, bucket count, and the v0 pointer.
    * @param buckets state hash-bucket count, fixed for the state's life.
    *   The default keeps fixture overheads tiny; size it on a real
    *   deployment so ONE bucket's rewrite is a comfortable task fan-out. */
  private[graft] def initState(stateDir: String, op: Maintainer,
      baseRels: DataFrame, state: Seq[DataFrame],
      buckets: Int = StateStore.DefaultBuckets): Unit = {
    require(state.size == op.tables.size,
      s"need one frame per state table ${op.tables.map(_._1)}")
    val tables = ("rels", baseRels.select(RelsCols.map(col): _*),
      Seq("source_id", "relationship_id")) +:
      op.tables.zip(state).map { case ((t, keys), df) => (t, df, keys) }
    StateStore.writeBucketCount(stateDir, buckets)
    StateStore.clearVersion(stateDir, 0L)
    val man = tables.map { case (t, df, keys) =>
      t -> StateStore.writeFull(df, col(keys.head), buckets, stateDir, 0L, t)
    }.toMap
    StateStore.writeManifest(stateDir, 0L, man)
    StateStore.writeSchemas(stateDir,
      tables.map { case (t, df, _) => t -> df.schema.toDDL }.toMap)
    StateStore.writeKeys(stateDir,
      tables.map { case (t, _, keys) => t -> keys }.toMap)
    StateStore.writePointer(stateDir, 0L)
  }

  /** A maintained table as of the last committed batch. */
  def current(spark: SparkSession, stateDir: String, table: String)
      : DataFrame =
    StateStore.readTable(spark, stateDir, StateStore.readPointer(stateDir),
      table)

  /** One state table's delta for a batch: (table, upserts, tombstone keys). */
  private[graft] type Delta = (String, DataFrame, DataFrame)

  /** One maintainer micro-batch commit over the delta-encoded state
    * ([[StateStore]]): read tables (chain-folded) as of the committed
    * version, append per-table merge-on-read deltas (upserts +
    * tombstones, O(dirty rows) — never a function of state size) or
    * carry-forwards at `target`, then commit = manifest + small-file
    * compaction + atomic pointer move + manifest-aware retention. When a
    * table's chain reaches [[StateCommit.MaxChain]], the commit folds it
    * back into the hash-bucketed base, rewriting only the buckets the
    * chain's keys touch. Construction clears any torn `v{target}` a
    * crashed prior attempt left (the pointer never moved, so it is
    * garbage and the recompute is deterministic). */
  private[graft] final class StateCommit(val spark: SparkSession,
      val stateDir: String, target: Long) {
    val v: Long = StateStore.readPointer(stateDir)
    val k: Int = StateStore.bucketCount(stateDir)
    // free the PREVIOUS batch's folded blocks now, not at its commit: a
    // short-circuiting action (isEmpty under AQE) can leave a detached
    // broadcast sub-job still materializing when the batch's work is
    // done, and an unpersist racing that thread logs a scary (harmless —
    // nothing awaits the zombie) CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND abort.
    // By the next StateCommit on this state dir every execution of the
    // previous batch is long gone. One batch's blocks linger per stream;
    // the session close reaps the last.
    StateCommit.pendingFree.synchronized {
      StateCommit.pendingFree.remove(stateDir)
    }.foreach(_.foreach(Blocks.free))
    private val prev = StateStore.readManifest(stateDir, v)
    private val next =
      scala.collection.mutable.Map[String, StateStore.TableState]()
    StateStore.clearVersion(stateDir, target)
    // Memoized EAGER materialization of chain-folded reads: the splice
    // recompute touches each state table in many downstream actions, and
    // a lazy fold (delta union + max_by + anti-join) would re-run per
    // action — the first sf1 SLO of the merge-on-read design measured
    // that re-fold tax at several seconds per batch. One localCheckpoint
    // per table per batch pays the fold once; commit() parks the blocks
    // for the NEXT batch's StateCommit to free (constructor note).
    private val folded = scala.collection.mutable.Map[String, DataFrame]()
    private val owned = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def table(name: String): DataFrame =
      folded.getOrElseUpdate(name,
        StateStore.readTable(spark, stateDir, v, name)
          .compactCheckpoint())
    def tableBuckets(name: String, buckets: Seq[Int]): DataFrame =
      StateStore.readTableBuckets(spark, stateDir, v, name, buckets)
    def dirty(keys: DataFrame, keyCol: String): Seq[Int] =
      StateStore.dirtyBuckets(keys, col(keyCol), k)
    /** Hand a batch checkpoint to [[release]]; returns it. */
    def own(df: DataFrame): DataFrame = { owned += df; df }
    /** `name`'s splice delta: upsert `up`, tombstone every `dirty` key (a
      * frame of the table's key columns) that `up` has no row for. */
    def splice(name: String, up: DataFrame, dirty: DataFrame): Delta = {
      val keys = StateStore.tableKeys(stateDir, name)
      (name, up, dirty.join(up.select(keys.map(col): _*), keys, "left_anti"))
    }
    /** Append `upserts` + `tombstoneKeys` as this table's delta (zero
      * delta rows → pure carry, decided from the written footers, not
      * from two extra isEmpty jobs); fold the chain into buckets when it
      * reaches [[StateCommit.MaxChain]] OR when this delta alone is at
      * least [[StateCommit.CompactFrac]] of the base: a state-sized cone
      * (the WCC hub shape) gains nothing from chaining — it would pay the
      * old full-rewrite cost AND make every read fold chain rows
      * comparable to the state. Point cones stay pure-delta. */
    def chainDelta(name: String, upserts: DataFrame,
        tombstoneKeys: DataFrame): Unit = {
      val keys = StateStore.tableKeys(stateDir, name)
      StateStore.writeChainDelta(spark, stateDir, target,
        name, upserts, tombstoneKeys, keys, prev(name)) match {
        case None => carry(name)
        case Some((appended, deltaRows)) =>
          next(name) =
            if (appended.chain.size >= StateCommit.MaxChain ||
                deltaRows >= StateCommit.CompactFrac * math.max(
                  StateStore.baseRowCount(spark, stateDir, v, name), 1L))
              StateStore.compactIntoBuckets(spark, stateDir, v, target,
                name, k, appended)
            else appended
      }
    }
    def carry(name: String): Unit = next(name) = prev(name)
    def commit(): Unit = {
      require(next.keySet == prev.keySet,
        s"state commit must delta or carry every table: " +
          s"got ${next.keySet}, state has ${prev.keySet}")
      StateStore.writeManifest(stateDir, target, next.toMap)
      compactVersion(spark, s"$stateDir/v$target")
      StateStore.writePointer(stateDir, target)
      StateStore.prune(stateDir, target)
      StateCommit.pendingFree.synchronized {
        StateCommit.pendingFree(stateDir) = folded.values.toSeq
      }
      folded.clear()
    }
    /** Free the owned frames, and — when the batch never committed — its
      * folded reads too (a committed batch parked them above). */
    def release(): Unit = {
      (owned ++ folded.values).foreach(Blocks.free)
      owned.clear(); folded.clear()
    }
  }

  private[graft] object StateCommit {
    /** Chain length at which a table's deltas fold back into its buckets.
      * The chain fold on reads is cheap (deltas are cone-sized) while
      * every compaction pays a rewrite of all chain-touched buckets, so a
      * longer chain amortizes the spike better. Measured at sf1
      * (SCALING.md r19): 4 put an all-bucket rewrite in every 4th batch
      * of a 200-scattered-key feed; 8 halves that share. */
    val MaxChain = 8
    /** Delta-to-base row ratio at which a delta compacts at once. */
    val CompactFrac = 0.3
    /** Folded-table blocks parked at commit, freed by the NEXT commit on
      * the same state dir (see the constructor note on zombie AQE
      * sub-jobs). Keyed by state dir: concurrent maintainers on different
      * states must not reap each other's in-flight blocks. */
    private val pendingFree =
      scala.collection.mutable.Map[String, Seq[DataFrame]]()
  }

  /** Fold the batch into the carried relationship table: upserts = the
    * touched keys' surviving rows, tombstones = the deleted keys —
    * exactly the mutation cone, no state-sized work at all. */
  private def relsDelta(c: StateCommit, latest: DataFrame): Unit =
    c.chainDelta("rels",
      latest.filter(col("alive")).select(RelsCols.map(col): _*),
      latest.filter(!col("alive"))
        .select(col("source_id"), col("relationship_id")))

  /** Small-file hygiene for a freshly-written state version (every
    * maintainer commit calls this before the pointer move): each
    * parquet leaf under the version dir — incl. partitioned history
    * subdirs like `hist/i=N` — gets coalesced to ceil(bytes/target)
    * files when it fragmented past `maxSmallFiles`. At 100 TB cadence
    * the FILE COUNT, not the byte count, is what kills a long-running
    * maintainer (every downstream open lists the directory; metadata
    * stores charge per object), and a refresh output's partition count
    * reflects its join topology, not its size — a 2 KB degrees table can
    * land as 32 half-empty files. Crash-safe: the pointer has not moved
    * yet, so a crash anywhere in the rewrite/swap is repaired by the
    * idempotent batch replay (recompute + overwrite of the whole
    * uncommitted version). */
  private[graft] def compactVersion(spark: SparkSession, versionDir: String,
      targetBytes: Long = 128L << 20, maxSmallFiles: Int = 4): Unit = {
    def leafTables(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      if (kids.exists(k => k.isFile && k.getName.startsWith("part-"))) Seq(f)
      else kids.filter(_.isDirectory).flatMap(leafTables)
    }
    leafTables(new java.io.File(versionDir)).foreach { t =>
      val parts = t.listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      if (parts.length > maxSmallFiles) {
        val want = math.max(1,
          math.ceil(parts.map(_.length).sum.toDouble / targetBytes).toInt)
        if (want < parts.length) {
          val tmp = new java.io.File(t.getParentFile, t.getName + ".compact")
          spark.read.parquet(t.getPath).coalesce(want)
            .write.mode("overwrite").parquet(tmp.getPath)
          val walk = java.nio.file.Files.walk(t.toPath)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          finally walk.close()
          if (!tmp.renameTo(t))
            throw new IllegalStateException(s"compaction swap failed for $t")
        }
      }
    }
  }

  /** An incremental maintainer: what one analytic adds to the shared
    * stream driver ([[maintainStream]]).
    *  - `tables`: its state tables besides the carried `rels`, as (name,
    *    key columns); the first key column picks the hash bucket.
    *  - `fold`: one batch `(c, m, latest)` → per-table deltas, where `m`
    *    is the checkpointed batch and `latest` its checkpointed
    *    [[latestRelMutations]]. It reads state through `c` exactly as it
    *    needs — `c.table` for an eager fold, `c.tableBuckets` for a
    *    pruned probe — and a table missing from the result is carried
    *    forward by reference (an empty result carries them all).
    *  - the frames it wants freed: every checkpoint it makes is handed to
    *    `c.own` as it is made, so the driver frees it even if the fold
    *    throws.
    *  - `local`: the optional driver-side fold of a batch under the size
    *    class ([[LocalCommit]]), with the same deltas as `fold`; None
    *    from it declines, and `fold` runs instead. */
  private[graft] final class Maintainer(val tables: Seq[(String, Seq[String])],
      val local: Option[LocalFold] = None)(
      val fold: (StateCommit, DataFrame, DataFrame) => Seq[Delta])

  /** The one stream driver every maintainer runs on: `foreachBatch` over
    * the mutation-log STREAM (A9) folds each micro-batch of CDC rows into
    * the at-rest state ([[foldBatch]]), written as version v(batch+1) and
    * committed by an atomic pointer move ([[StateCommit]]). */
  private[graft] def maintainStream(spark: SparkSession, mutationsDir: String,
      stateDir: String, checkpointDir: String, op: Maintainer,
      readOptions: Map[String, String] = Map.empty): StreamingQuery =
    spark.readStream.schema(graft.core.Tables.mutationsSchema)
      .options(readOptions)
      .parquet(mutationsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(stateDir, op, batch, batchId)
      }
      .start()

  /** One micro-batch of [[maintainStream]]: `op`'s deltas for its tables
    * and [[relsDelta]] for the carried relationship table, committed as
    * version `batchId + 1`.
    *
    * Size class: when `op` has a local fold and the batch is at most
    * [[LocalGraph.maxEdges]] rows, the batch is collected once
    * ([[LocalBatch]]) and folded on the driver; every state read of the
    * local fold is a bounded collect under the same cutoff, and over it
    * the fold declines before writing anything. A declined or over-cutoff
    * batch, and a maintainer without a local fold, take the distributed
    * fold over the checkpointed batch. Both paths write the same delta
    * rows through the same [[StateCommit]].
    *
    * Crash contract (both paths): a batch replayed after a crash either
    * finds the pointer still at its predecessor (recompute: the same
    * deterministic output overwrites the torn `v{target}` the failed
    * attempt left) or already advanced (skip — the fold is NOT applied
    * twice). Restart resumes from the streaming checkpoint; state
    * versions are keyed by batch id, so resume and replay compose. The
    * distributed path's checkpoints — `m`, `latest`, the fold's owned
    * frames and, when the batch never commits, its folded state reads —
    * are freed in a `finally`, so a fold that throws leaks nothing; the
    * local path makes none. */
  private[graft] def foldBatch(stateDir: String, op: Maintainer,
      batch: DataFrame, batchId: Long): Unit = {
    val target = batchId + 1
    if (StateStore.readPointer(stateDir) < target) {
      val c = new StateCommit(batch.sparkSession, stateDir, target)
      try {
        val lc = new LocalCommit(c)
        val local = for {
          f <- op.local
          b <- LocalBatch.collect(batch, lc.cutoff)
          deltas <- f(lc, b)
        } yield deltas :+ b.relsDelta
        local match {
          case Some(deltas) =>
            deltas.foreach(lc.write)
            op.tables.map(_._1).diff(deltas.map(_.table)).foreach(c.carry)
          case None =>
            val m = c.own(batch.compactCheckpoint())
            val latest = c.own(latestRelMutations(m).compactCheckpoint())
            val deltas = op.fold(c, m, latest)
            deltas.foreach { case (t, up, tomb) => c.chainDelta(t, up, tomb) }
            op.tables.map(_._1).diff(deltas.map(_._1)).foreach(c.carry)
            relsDelta(c, latest)
        }
        c.commit()
      } finally c.release()
    }
  }

  // ---------------- the driver-local batch path ----------------

  /** A relationship row: a relationship state row (`alive`), or the final
    * state of a key a batch touched ([[LocalBatch]]). */
  private[graft] final case class Rel(source: String, id: String,
      target: String, name: String, alive: Boolean) {
    def key: (String, String) = (source, id)
    def pair: (String, String) = (source, target)
  }

  private def ends(pairs: Iterable[(String, String)]): Set[String] =
    pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet

  private val RelsSchema = StructType(RelsCols.map(StructField(_, StringType)))

  /** A micro-batch on the driver: [[latestRelMutations]] keyed by
    * (source_id, relationship_id) and [[latestTwinMutations]] keyed by
    * dt_id, the same last-writer-wins folds. */
  private[graft] final case class LocalBatch(rels: Map[(String, String), Rel],
      twins: Map[String, Boolean]) {
    def alive: Iterable[Rel] = rels.values.filter(_.alive)
    /** Is `r`'s key one the batch touched (so its state row is stale)? */
    def touches(r: Rel): Boolean = rels.contains(r.key)
    def sources: Set[String] = rels.keySet.map(_._1)
    def born: Set[String] = twins.collect { case (t, true) => t }.toSet
    def dead: Set[String] = twins.collect { case (t, false) => t }.toSet
    /** [[relsDelta]] of the batch. */
    def relsDelta: LocalDelta = LocalDelta("rels", RelsSchema,
      alive.map(r => Row(r.id, r.source, r.target, r.name)).toSeq,
      rels.values.filterNot(_.alive).map(r => Row(r.source, r.id)).toSeq)
  }

  private[graft] object LocalBatch {
    /** Collect `batch` (one bounded collect, the JSON fields extracted by
      * the same `get_json_object` paths as [[latestRelMutations]]) and
      * fold it. None over the cutoff, and for a row with a null key,
      * endpoint, sequence or event type: those keep the distributed
      * path's null semantics. */
    def collect(batch: DataFrame, cutoff: Long): Option[LocalBatch] = {
      val doc = coalesce(col("new_json"), col("old_json"))
      def field(f: String) = get_json_object(doc, s"$$['$$$f']")
      LocalGraph.collectBounded(batch
        .filter(col("entity_kind").isin("Relationship", "Twin"))
        .select(col("seq"), col("entity_kind"), col("entity_id"),
          col("event_type"), field("sourceId"), field("relationshipId"),
          field("targetId"), field("relationshipName"))
        .coalesce(1), cutoff).flatMap { rows =>
        val (rs, ts) = rows.partition(_.getString(1) == "Relationship")
        if (rs.exists(r => (Seq(0, 3) ++ (4 to 7)).exists(r.isNullAt)) ||
            ts.exists(r => Seq(0, 2, 3).exists(r.isNullAt))) None
        else Some(LocalBatch(
          rs.groupBy(r => (r.getString(4), r.getString(5))).map {
            case (k, g) =>
              val r = g.maxBy(_.getLong(0))
              k -> Rel(r.getString(4), r.getString(5), r.getString(6),
                r.getString(7), r.getString(3) != "RelationshipDelete")
          },
          ts.groupBy(_.getString(2)).map { case (t, g) =>
            t -> (g.maxBy(_.getLong(0)).getString(3) != "TwinDelete")
          }))
      }
    }
  }

  /** One state table's delta from a local fold: upsert rows in `schema`'s
    * field order and tombstone rows of the table's key columns. */
  private[graft] final case class LocalDelta(table: String,
      schema: StructType, upserts: Seq[Row], tombstones: Seq[Row])

  private[graft] type LocalFold =
    (LocalCommit, LocalBatch) => Option[Seq[LocalDelta]]

  /** The driver-side view of a [[StateCommit]] a local fold works
    * through: bounded, chain-folded reads of state rows and the delta
    * write. Reads bucket-prune on the key column with the driver-side
    * [[StateStore.bucketOfKey]]; a table's delta chain rides along with
    * its first read and is folded here (newest version per key wins). */
  private[graft] final class LocalCommit(state: StateCommit) {
    val cutoff: Long = LocalGraph.maxEdges(state.spark)
    private val chains =
      scala.collection.mutable.Map[String, Map[Seq[Any], Option[Row]]]()

    /** `table`'s rows whose value in any of `cols` (string columns) is in
      * `values`, projected to `schema`'s fields. None — decline — over the
      * cutoff, or when a row holds a null. */
    def rows(table: String, schema: StructType, cols: Seq[String],
        values: Set[String]): Option[Seq[Row]] = {
      val stored = StateStore.tableSchema(state.stateDir, table)
      val keys = StateStore.tableKeys(state.stateDir, table)
      val fresh = !chains.contains(table)
      if (values.isEmpty) Some(Nil)
      else StateStore.collectRows(state.spark, state.stateDir, state.v,
        table,
        if (cols != keys.take(1)) 0 until state.k
        else values.toSeq.map(StateStore.bucketOfKey(_, state.k)),
        cols.map(c => col(c).isin(values.toSeq: _*)).reduce(_ || _),
        fresh, cutoff).flatMap { raw =>
        val tomb = stored.size
        def key(r: Row) = keys.map(k => r.get(stored.fieldIndex(k)))
        val (base, chainRows) = raw.partition(_.getLong(tomb + 1) < 0)
        if (fresh) chains(table) = chainRows.groupBy(key).map { case (k, g) =>
          val last = g.maxBy(_.getLong(tomb + 1))
          k -> (if (last.getBoolean(tomb)) None else Some(last))
        }
        val chain = chains(table)
        val hit = cols.map(stored.fieldIndex)
        val out = (base.iterator.filterNot(r => chain.contains(key(r))) ++
            chain.valuesIterator.flatten.filter(r =>
              hit.exists(i => values.contains(r.getString(i)))))
          .map(r => Row.fromSeq(schema.fieldNames.toSeq
            .map(f => r.get(stored.fieldIndex(f)))))
          .toSeq
        if (out.exists(r => (0 until r.length).exists(r.isNullAt))) None
        else Some(out)
      }
    }

    def rels(cols: Seq[String], values: Set[String]): Option[Seq[Rel]] =
      rows("rels", RelsSchema, cols, values).map(_.map(r =>
        Rel(r.getString(1), r.getString(0), r.getString(2), r.getString(3),
          alive = true)))

    /** Write `d` through [[StateCommit.chainDelta]]; no rows is a carry. */
    def write(d: LocalDelta): Unit =
      if (d.upserts.isEmpty && d.tombstones.isEmpty) state.carry(d.table)
      else {
        val keys = StateStore.tableKeys(state.stateDir, d.table)
        def frame(rows: Seq[Row], schema: StructType) =
          state.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        state.chainDelta(d.table, frame(d.upserts, d.schema),
          frame(d.tombstones, StructType(keys.map(d.schema(_)))))
      }
  }

  /** The bucket-pruned `rels` probe of a batch: every touched key's rows
    * live in its source bucket, so this is the complete old-row set. */
  private def touchedRels(c: StateCommit, latest: DataFrame): DataFrame =
    c.tableBuckets("rels",
      c.dirty(latest.select(col("source_id")), "source_id"))

  def initDegreesState(stateDir: String, baseDegrees: DataFrame,
      baseRels: DataFrame, buckets: Int = StateStore.DefaultBuckets): Unit =
    initState(stateDir, Maintainer.degrees, baseRels, Seq(baseDegrees), buckets)
  def maintainDegreesStream(spark: SparkSession, mutationsDir: String,
      stateDir: String, checkpointDir: String): StreamingQuery =
    maintainStream(spark, mutationsDir, stateDir, checkpointDir,
      Maintainer.degrees)
  def currentDegrees(spark: SparkSession, stateDir: String): DataFrame =
    current(spark, stateDir, "degrees")

  def initComponentsState(stateDir: String, baseComponents: DataFrame,
      baseRels: DataFrame, buckets: Int = StateStore.DefaultBuckets): Unit =
    initState(stateDir, Maintainer.components, baseRels,
      Seq(baseComponents), buckets)
  def maintainComponentsStream(spark: SparkSession, mutationsDir: String,
      stateDir: String, checkpointDir: String,
      readOptions: Map[String, String] = Map.empty): StreamingQuery =
    maintainStream(spark, mutationsDir, stateDir, checkpointDir,
      Maintainer.components, readOptions)
  def currentComponents(spark: SparkSession, stateDir: String): DataFrame =
    current(spark, stateDir, "components")

  /** `history` is the per-iteration ranks of the last full run
    * ([[PageRank.ranksHistory]]). */
  def initRanksState(stateDir: String, history: IndexedSeq[DataFrame],
      baseRels: DataFrame, buckets: Int = StateStore.DefaultBuckets): Unit =
    initState(stateDir, Maintainer.ranks(history.size), baseRels, history,
      buckets)
  def maintainRanksStream(spark: SparkSession, mutationsDir: String,
      stateDir: String, checkpointDir: String, iterations: Int,
      readOptions: Map[String, String] = Map.empty): StreamingQuery =
    maintainStream(spark, mutationsDir, stateDir, checkpointDir,
      Maintainer.ranks(iterations), readOptions)

  def initKcoreState(stateDir: String, baseCore: DataFrame,
      baseRels: DataFrame, buckets: Int = StateStore.DefaultBuckets): Unit =
    // k does not shape the state, only the fold
    initState(stateDir, Maintainer.kcore(k = 0), baseRels, Seq(baseCore),
      buckets)
  def maintainKcoreStream(spark: SparkSession, mutationsDir: String,
      stateDir: String, checkpointDir: String, k: Int): StreamingQuery =
    maintainStream(spark, mutationsDir, stateDir, checkpointDir,
      Maintainer.kcore(k))
  def currentKcore(spark: SparkSession, stateDir: String): DataFrame =
    current(spark, stateDir, "kcore")

  /** Affected-cone refresh of [[Triangles.perNode]]: a mutation batch can
    * change the triangle count ONLY of (a) endpoints of changed pairs and
    * (b) their base-or-final neighbors — every created or destroyed
    * triangle contains a changed pair, and each of its corners is either
    * an endpoint of that pair or adjacent to both endpoints. That closes
    * the affected set in one step. Counts for affected nodes are
    * recomputed exactly by running the batch operator on the 2-hop cone
    * (all triangles of an affected node live inside its closed
    * neighborhood, so cone edges suffice); every other node's count
    * splices through verbatim. Cost ∝ the changed pairs' neighborhood
    * volume, never the graph.
    *
    * Same DETACH log-consistency contract as [[refreshComponents]]: a
    * deleted twin's relationships carry their own delete rows, so the
    * dead node leaves the endpoint universe on both the incremental and
    * batch sides. */
  def refreshTriangles(baseTriangles: DataFrame, baseRels: DataFrame,
      mutations: DataFrame): DataFrame = {
    val p = trianglesParts(baseRels, mutations)
    baseTriangles
      .join(p.affected, Seq("node"), "left_anti")
      .select(col("node"), col("triangles"))
      .unionByName(p.recomputed)
  }

  /** A node-keyed splice: `affected` keys drop out of the base table and
    * `recomputed` rows (keys ⊆ affected) replace them. Shared shape of the
    * triangle / k-core maintainers' delta commits. */
  private[graft] case class NodeSpliceParts(affected: DataFrame,
      recomputed: DataFrame)

  private[graft] def trianglesParts(baseRels: DataFrame,
      mutations: DataFrame): NodeSpliceParts = {
    def sym(rels: DataFrame): DataFrame =
      rels.select(col("source_id").as("u"), col("target_id").as("v"))
        .unionByName(rels.select(col("target_id").as("u"),
          col("source_id").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    val newRels = applyRelationshipMutations(baseRels, mutations)
      .compactCheckpoint()
    val changed = changedPairs(baseRels, mutations)
      .compactCheckpoint()
    val basePairs = sym(baseRels)
    val newPairs = sym(newRels).compactCheckpoint()
    val ends = changed
      .select(explode(array(col("source_id"), col("target_id"))).as("node"))
      .distinct()
    def neighborsOf(pairs: DataFrame, of: DataFrame): DataFrame =
      pairs.join(of.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .select(col("v").as("node"))
    val affected = ends
      .unionByName(neighborsOf(basePairs, ends))
      .unionByName(neighborsOf(newPairs, ends))
      .distinct().compactCheckpoint()
    val cone = affected
      .unionByName(neighborsOf(newPairs, affected))
      .distinct().compactCheckpoint()
    val coneEdges = newPairs
      .join(cone.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
      .join(cone.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
      .select(col("u"), col("v"))
    val recomputed = Triangles.perNode(coneEdges, "u", "v")
      .join(affected, Seq("node"), "left_semi")
    Blocks.free(changed); Blocks.free(newRels)
    NodeSpliceParts(affected, recomputed)
  }

  /** Affected-cone refresh of [[LabelPropagation.communities]]: round-1
    * perturbation reaches only changed-pair endpoints (the r⁰ labels are
    * pure node-id functions, exact for every node including new ones);
    * each later round grows the affected set one undirected hop, exactly
    * the [[refreshRanks]] cone discipline. Affected nodes re-vote over
    * the blended previous round (history splice + recomputed), so the
    * result is bit-identical to a full batch rerun of the same
    * deterministic argmax. */
  def refreshCommunities(newRels: DataFrame, changedPairs: DataFrame,
      history: IndexedSeq[DataFrame]): DataFrame = {
    // needDirty=false: the dirty key sets would be freed unread — skip
    // their per-round materialization jobs (r19)
    val (hist, _) = refreshCommunitiesHistoryParts(newRels, changedPairs,
      history, needDirty = false)
    val out = hist.last.select(col("node"), col("lab").as("community"))
      .compactCheckpoint()
    hist.foreach(Blocks.free)
    out
  }

  /** [[refreshCommunities]] returning EVERY refreshed round's (node, lab)
    * table — the new history a continuously-maintained LPA carries
    * forward — plus per-round dirty key sets, the
    * [[refreshRanksHistoryParts]] contract at label granularity. Caller
    * owns both returned checkpoint sequences. */
  private[graft] def refreshCommunitiesHistoryParts(newRels: DataFrame,
      changedPairs: DataFrame, history: IndexedSeq[DataFrame],
      needDirty: Boolean = true)
      : (IndexedSeq[DataFrame], IndexedSeq[DataFrame]) = {
    require(history.nonEmpty, "need the previous run's per-round labels")
    val fwd = newRels.select(col("source_id").as("node"),
      col("target_id").as("nbr"))
    val edges = fwd
      .unionByName(fwd.select(col("nbr").as("node"), col("node").as("nbr")))
      .distinct().compactCheckpoint()
    val nodes = edges.select(col("node")).distinct()
      .compactCheckpoint()
    def nbrsOf(a: DataFrame): DataFrame =
      edges.join(a.select(col("node").as("nbr")), Seq("nbr"), "left_semi")
        .select(col("node")).distinct()
    val changed = changedPairs.select(col("source_id"), col("target_id"))
      .distinct().compactCheckpoint()
    val affected1 = changed
      .select(explode(array(col("source_id"), col("target_id"))).as("node"))
      .distinct()
      .join(nodes, Seq("node"), "left_semi")
      .compactCheckpoint()
    val init = nodes
      .select(col("node"),
        graft.pipeline.TextAnalysis.stableId(col("node")).as("lab"))
      .compactCheckpoint()
    val out = spliceRounds(history, nodes, changed, affected1, init,
      needDirty)((affected, blend) => edges
        .join(affected, Seq("node"), "left_semi")
        .join(blend.select(col("node").as("nbr"), col("lab")), Seq("nbr"))
        .groupBy(col("node"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lab"))).as("m"))
        .select(col("node"), col("m.lab").as("lab")), nbrsOf)
    Blocks.free(edges); Blocks.free(nodes)
    out
  }

  /** The changed (source,target) pair set a mutation batch induces,
    * computed against the BASE relationship table but touching only the
    * touched keys / touched pairs — a pair is "changed" when its
    * existence flips between base and final state. Over-approximation
    * (e.g. a pair both dropped and re-added via different rel ids) is
    * harmless for [[refreshRanks]]. */
  def changedPairs(baseRels: DataFrame, mutations: DataFrame): DataFrame =
    changedPairsSigned(baseRels, mutations)
      .select(col("source_id"), col("target_id"))

  /** [[changedPairs]] with the flip direction kept: `added` is true for
    * pairs absent in the base edge set and present after the batch, false
    * for the reverse. Directed-graph maintenance ([[refreshScc]]) needs
    * the sign — an added edge can only MERGE strongly connected
    * components, a removed one can only SPLIT its own. */
  def changedPairsSigned(baseRels: DataFrame,
      mutations: DataFrame): DataFrame = {
    val latest = latestRelMutations(mutations)
    val base4 = baseRels.select(col("source_id"), col("relationship_id"),
      col("target_id"))
    // pairs whose supporting rel rows were touched, before and after
    val oldTouched = base4
      .join(latest.select(RelKey.map(col): _*), RelKey, "left_semi")
      .select(col("source_id"), col("target_id"))
    val newTouched = latest.filter(col("alive"))
      .select(col("source_id"), col("target_id"))
    val candidates = oldTouched.unionByName(newTouched).distinct()
    // presence before: any base rel with the pair; after: any surviving
    // rel with the pair = (base rels not touched) ∪ latest-alive —
    // restricted to candidate pairs, so both probes are key lookups
    val pairCols = Seq("source_id", "target_id")
    val before = pairs(base4.join(candidates, pairCols, "left_semi"))
    val untouchedBase = base4
      .join(latest.select(RelKey.map(col): _*), RelKey, "left_anti")
    val after = pairs(untouchedBase.join(candidates, pairCols, "left_semi")
      .select(col("source_id"), col("target_id"))
      .unionByName(newTouched))
    before.join(after, pairCols, "left_anti")
      .withColumn("added", lit(false))
      .unionByName(after.join(before, pairCols, "left_anti")
        .withColumn("added", lit(true)))
  }

  // ---------------- incremental SCC (the last fixpoint operator) --------

  /** Affected-region refresh of [[Scc.components]] — the one maintainer
    * whose affected set is NOT local to the mutation cone: an added edge
    * u→v can merge SCCs arbitrarily far apart in the condensation (every
    * SCC on any v ⇝ u path joins the new cycle). The exact region is
    * still computable without touching the whole graph:
    *
    *  1. Contract every base SCC to a supernode (its label), EXCEPT
    *     "dirty" SCCs — those that lost an internal edge, the only ones
    *     that can split — whose members stay individual nodes. Sound
    *     because a clean SCC lost no internal edge, so it is still
    *     strongly connected in the new graph.
    *  2. Region = fwdReach(T ∪ D) ∩ bwdReach(S ∪ D) over the NEW edge
    *     set at supernode granularity, where T/S are the groups of added
    *     edges' targets/sources and D the dirty members. Any cycle that
    *     merges two groups either uses an added edge (so every group on
    *     it is reachable from T and reaches S) or witnesses mutual
    *     reachability inside a dirty SCC (so every group on it is
    *     reachable from and reaches a dirty member) — the region is
    *     cycle-closed, and groups outside it provably keep their label.
    *  3. Re-run the batch FW-BW-Trim on the region-induced quotient and
    *     splice every other node's label through verbatim. Labels stay
    *     bit-identical to full recompute: a clean supernode's id IS its
    *     SCC's min member id, so a min over merged group ids equals the
    *     min over all merged members.
    *
    * Cost: the pair delta and dirty probe are batch-keyed lookups; the
    * two reachability BFS runs touch only the frontier's members and
    * their edges per round (the [[Sssp]] shape); the quotient recompute
    * is region-sized. The only full-width operations are the one-pass
    * group-table build and the final splice — linear merges, the same
    * class every other maintainer pays.
    *
    * @param maxRounds loud cap on each reachability BFS (condensation
    *                  diameter); a frontier still alive past it throws —
    *                  a truncated region could splice stale labels. */
  def refreshScc(baseScc: DataFrame, baseRels: DataFrame,
      mutations: DataFrame, maxRounds: Int = 200): DataFrame =
    sccSplice(baseScc, sccParts(baseScc, baseRels, mutations, maxRounds))

  /** The new labeling from [[sccParts]]: base labels for clean
    * out-of-region nodes still in the edge universe; recomputed labels
    * for region nodes; fresh singletons for first-edge nodes the region
    * didn't touch. */
  private def sccSplice(baseScc: DataFrame, p: SccParts): DataFrame =
    baseScc
      .join(p.universe, Seq("node"), "left_semi")
      .join(p.regionNodes.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("scc"))
      .unionByName(p.regionNodes
        .join(p.universe, Seq("node"), "left_semi")
        .join(p.regionLabels, Seq("grp"))
        .select(col("node"), col("scc")))
      .unionByName(p.universe
        .join(baseScc, Seq("node"), "left_anti")
        .join(p.regionNodes.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("scc")))

  /** [[refreshScc]]'s splice ingredients. Every node whose row can differ
    * from the base labeling is in `regionNodes` ∪ `deltaEnds`: region
    * members get recomputed labels, and universe entries/exits (first-edge
    * singletons, fully-disconnected drops) are always endpoints of a
    * changed pair. */
  private[graft] case class SccParts(universe: DataFrame,
      regionNodes: DataFrame, regionLabels: DataFrame, deltaEnds: DataFrame)

  private[graft] def sccParts(baseScc: DataFrame, baseRels: DataFrame,
      mutations: DataFrame, maxRounds: Int = 200): SccParts = {
    val newRels = applyRelationshipMutations(baseRels, mutations)
      .compactCheckpoint()
    val delta = changedPairsSigned(baseRels, mutations)
      .filter(col("source_id") =!= col("target_id")) // self-loops are inert
      .compactCheckpoint()
    val added = delta.filter(col("added"))
    val removed = delta.filter(!col("added"))
    // dirty SCCs: lost an internal (same-label) edge — the only splits
    val dirty = removed
      .join(baseScc.select(col("node").as("source_id"), col("scc").as("ls")),
        Seq("source_id"))
      .join(baseScc.select(col("node").as("target_id"), col("scc").as("lt")),
        Seq("target_id"))
      .filter(col("ls") === col("lt"))
      .select(col("ls").as("scc")).distinct()
      .compactCheckpoint()
    // group(n): base label for clean members, the node itself for dirty
    // members and for nodes the base labeling never saw (created now)
    val universe = endpoints(pairs(newRels)
      .filter(col("source_id") =!= col("target_id")))
      .compactCheckpoint()
    val grpAll = baseScc
      .join(dirty.withColumn("__dirty", lit(true)), Seq("scc"), "left_outer")
      .select(col("node"),
        when(col("__dirty"), col("node")).otherwise(col("scc")).as("grp"))
      .unionByName(universe.join(baseScc, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("grp")))
      .compactCheckpoint()
    val dirtyMembers = baseScc.join(dirty, Seq("scc"), "left_semi")
      .select(col("node"))
    def seedGroups(nodes: DataFrame): DataFrame =
      nodes.unionByName(dirtyMembers)
        .join(grpAll, Seq("node")).select(col("grp")).distinct()
        .compactCheckpoint()
    val fwdSeeds = seedGroups(added.select(col("target_id").as("node")))
    val bwdSeeds = seedGroups(added.select(col("source_id").as("node")))
    // group-granularity reachability: project the new edges to group
    // pairs ONCE (g1 → g2 iff any member edge crosses — the same closure
    // the old per-round member expansion walked, without re-joining
    // grpAll every hop), then run the shared seed-closure primitive on
    // the projected graph in each direction.
    val ge = newRels
      .join(grpAll.select(col("node").as("source_id"), col("grp").as("gs")),
        Seq("source_id"))
      .join(grpAll.select(col("node").as("target_id"), col("grp").as("gt")),
        Seq("target_id"))
      .filter(col("gs") =!= col("gt"))
      .select(col("gs").as("u"), col("gt").as("v")).distinct()
      .compactCheckpoint()
    def reach(seeds: DataFrame, reversed: Boolean): DataFrame = {
      val e = if (reversed) ge.select(col("v").as("u"), col("u").as("v"))
        else ge
      reachClosure(e, seeds.withColumnRenamed("grp", "node"), maxRounds,
        "SCC region").withColumnRenamed("node", "grp")
    }
    val fwd = reach(fwdSeeds, reversed = false)
    val bwd = reach(bwdSeeds, reversed = true)
    val region = fwd.join(bwd, Seq("grp"), "left_semi")
      .compactCheckpoint()
    Blocks.free(ge)
    val regionNodes = grpAll.join(region, Seq("grp"), "left_semi")
      .compactCheckpoint() // (node, grp)
    // quotient recompute: new edges with both endpoint groups in-region
    val q = newRels
      .join(regionNodes.select(col("node").as("source_id"),
        col("grp").as("gs")), Seq("source_id"))
      .join(regionNodes.select(col("node").as("target_id"),
        col("grp").as("gt")), Seq("target_id"))
      .filter(col("gs") =!= col("gt"))
      .select(col("gs").as("src"), col("gt").as("dst"))
    val resolved = Scc.components(q)
    val regionLabels = region
      .join(resolved.withColumnRenamed("node", "grp"), Seq("grp"),
        "left_outer")
      .select(col("grp"), coalesce(col("scc"), col("grp")).as("scc"))
    val deltaEnds = delta
      .select(explode(array(col("source_id"), col("target_id"))).as("node"))
      .distinct().compactCheckpoint()
    // the parts reference only checkpointed frames (universe, regionNodes,
    // region, deltaEnds, Scc's internal resolved parts) — everything else
    // is freeable now
    Blocks.free(delta); Blocks.free(dirty)
    Blocks.free(fwdSeeds); Blocks.free(bwdSeeds)
    Blocks.free(fwd); Blocks.free(bwd)
    Blocks.free(grpAll); Blocks.free(newRels)
    SccParts(universe, regionNodes, regionLabels, deltaEnds)
  }

  // ---------------- incremental k-core ----------------

  /** Affected-component refresh of the exact k-core survivor set
    * ([[KCore.kcore]]): peeling never crosses connected components, so
    * the k-core of the new graph is the union of per-component k-cores —
    * recompute ONLY the components a mutation touched and splice every
    * other node's survivor status verbatim.
    *
    * The affected region is the undirected reach of the changed pairs'
    * endpoints over the UNION of old and new edges: a node is affected
    * iff its old-or-new component contains a touched node (the union
    * closure covers both splits and merges), and everything outside the
    * region sits in a component whose edge set is bit-identical before
    * and after — its peeling replays unchanged. Region reach is a
    * frontier BFS (per round: the frontier's edges only, the [[Sssp]]
    * shape); the recompute runs the batch operator on the region-induced
    * new edges; the splice is one anti-join. Cost ∝ the touched
    * components, never the graph.
    *
    * An endpoint-preserving relationship Update yields no changed pair
    * and passes the base set through untouched. */
  def refreshKcore(baseCore: DataFrame, baseRels: DataFrame,
      mutations: DataFrame, k: Int, maxRounds: Int = 200): DataFrame = {
    val p = kcoreParts(baseRels, mutations, k, maxRounds) match {
      case Some(parts) => parts
      case None => return baseCore // no changed pair: base passes through
    }
    baseCore.join(p.affected, Seq("node"), "left_anti")
      .unionByName(p.recomputed)
  }

  /** [[refreshKcore]]'s splice ingredients (None when the batch changes no
    * pair): affected = the component-closed region, recomputed = the batch
    * k-core of the region-induced new edges. */
  private[graft] def kcoreParts(baseRels: DataFrame, mutations: DataFrame,
      k: Int, maxRounds: Int = 200): Option[NodeSpliceParts] =
    regionParts(baseRels, mutations, maxRounds, "k-core region")(
      KCore.kcore(_, "source_id", "target_id", k))

  /** The region splice both peeling maintainers share (None when the
    * batch changes no pair): the region is the undirected reach of the
    * changed pairs' endpoints over old ∪ new edges, and `recompute` runs
    * the batch operator on the region-induced NEW (source_id, target_id)
    * rels. `recompute` must materialize eagerly (the peels checkpoint
    * internally): its input's checkpoint is freed once it returns. */
  private def regionParts(baseRels: DataFrame, mutations: DataFrame,
      maxRounds: Int, what: String)(recompute: DataFrame => DataFrame)
      : Option[NodeSpliceParts] = {
    val newRels = applyRelationshipMutations(baseRels, mutations)
      .compactCheckpoint()
    val touched = changedPairs(baseRels, mutations)
      .select(explode(array(col("source_id"), col("target_id"))).as("node"))
      .distinct().compactCheckpoint()
    if (touched.count() == 0) {
      Blocks.free(newRels); Blocks.free(touched)
      return None
    }
    // undirected union edge set: old ∪ new pairs, both directions
    val unionPairs = pairs(baseRels).unionByName(pairs(newRels)).distinct()
    val e = unionPairs
      .select(col("source_id").as("u"), col("target_id").as("v"))
      .unionByName(unionPairs.select(col("target_id").as("u"),
        col("source_id").as("v")))
      .filter(col("u") =!= col("v"))
      .compactCheckpoint()
    val region = reachClosure(e, touched, maxRounds, what)
    Blocks.free(touched)
    // region is component-closed in the new graph, so restricting the
    // source endpoint restricts both — keep both semi-joins for shape
    val regionEdges = newRels
      .join(region.withColumnRenamed("node", "source_id"),
        Seq("source_id"), "left_semi")
      .join(region.withColumnRenamed("node", "target_id"),
        Seq("target_id"), "left_semi")
    val recomputed = recompute(regionEdges)
    Blocks.free(newRels); Blocks.free(e)
    Some(NodeSpliceParts(region, recomputed))
  }

  // ---------------- incremental k-truss ----------------

  /** Affected-component refresh of the k-truss edge set ([[KTruss.peel]])
    * — the maintainer family's eighth operator. Truss peeling, like
    * k-core peeling, never crosses connected components: an edge's
    * triangle support counts common neighbors, all of which live in its
    * own component, and removing an edge can only lower supports inside
    * that component. So the k-truss of the new graph is the union of
    * per-component k-trusses, and the [[refreshKcore]] recipe applies
    * verbatim at edge granularity: affected region = undirected reach of
    * the changed pairs' endpoints over old ∪ new edges (component-closed
    * in BOTH graphs, covering splits and merges); recompute the batch
    * peel on the region-induced NEW edges only; splice every base truss
    * edge whose component the mutations never touched (an edge is inside
    * the region iff its canonical `a` endpoint is — closure makes the
    * two endpoint tests equivalent). Cost ∝ the touched components'
    * wedge counts, never the graph's.
    *
    * `rounds` must cover the longest peel cascade, exactly as in the
    * batch operator (a converged round is a no-op, so overshooting is
    * safe, undershooting is wrong — same contract both sides of the
    * splice). */
  def refreshKtruss(baseTruss: DataFrame, baseRels: DataFrame,
      mutations: DataFrame, k: Int, rounds: Int,
      maxReachRounds: Int = 200): DataFrame = {
    val p = ktrussParts(baseRels, mutations, k, rounds,
      maxReachRounds) match {
      case Some(parts) => parts
      case None => return baseTruss // no changed pair: base passes through
    }
    // base truss edges are canonical (a < b) and the region is
    // component-closed, so a ∈ region ⟺ b ∈ region — one anti-join
    baseTruss
      .join(p.affected.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
      .unionByName(p.recomputed)
  }

  /** [[refreshKtruss]]'s splice ingredients (None when the batch changes
    * no pair): affected = the region's NODES (the anti-join key is the
    * canonical `a` endpoint), recomputed = the batch peel of the
    * region-induced new edges. */
  private[graft] def ktrussParts(baseRels: DataFrame, mutations: DataFrame,
      k: Int, rounds: Int,
      maxReachRounds: Int = 200): Option[NodeSpliceParts] =
    regionParts(baseRels, mutations, maxReachRounds, "k-truss region")(re =>
      KTruss.peel(re.select(col("source_id").as("src"),
        col("target_id").as("dst")), k, rounds))

  // ---------------- local folds (degrees, components, k-core) ----------

  private val DegreesSchema = StructType(StructField("dt_id", StringType) +:
    Seq("out_degree", "in_degree", "degree").map(StructField(_, LongType)))
  private val ComponentsSchema = StructType(
    Seq("dt_id", "component").map(StructField(_, StringType)))
  private val KcoreSchema = StructType(Seq(StructField("node", StringType)))

  /** [[Maintainer.degrees]] on the driver: the touched keys' old rows from
    * their source buckets, the dirty nodes' degree rows from theirs, and
    * [[refreshDegrees]]' arithmetic over them. */
  private val localDegrees: LocalFold = (lc, b) => for {
    probe <- lc.rels(Seq("source_id"), b.sources)
    oldRows = probe.filter(b.touches)
    dirty = ends(oldRows.map(_.pair)) ++ ends(b.alive.map(_.pair)) ++
      b.twins.keySet
    base <- lc.rows("degrees", DegreesSchema, Seq("dt_id"), dirty)
  } yield {
    val delta = scala.collection.mutable.Map[String, (Long, Long)]()
      .withDefaultValue((0L, 0L))
    def add(rs: Iterable[Rel], sign: Long): Unit = rs.foreach { r =>
      val (o, i) = delta(r.source); delta(r.source) = (o + sign, i)
      val (o2, i2) = delta(r.target); delta(r.target) = (o2, i2 + sign)
    }
    add(oldRows, -1L); add(b.alive, 1L)
    val was = base.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val universe = (was.keySet -- b.dead) ++ (b.born -- was.keySet)
    val up = universe.toSeq.map { n =>
      val (o, i) = was.getOrElse(n, (0L, 0L))
      val (dOut, dIn) = delta(n)
      Row(n, o + dOut, i + dIn, o + dOut + i + dIn)
    }
    Seq(LocalDelta("degrees", DegreesSchema, up,
      (dirty -- universe).toSeq.map(Row(_))))
  }

  /** [[Maintainer.components]] on the driver ([[componentsParts]]): the
    * touched nodes' labels from their buckets, the affected components'
    * members from one filtered scan, their new edges from the members'
    * source buckets, and [[LocalGraph.componentLabelsAny]] — the solve
    * [[graft.pipeline.Dedup.components]] bottoms out in — over them. */
  private val localComponents: LocalFold = (lc, b) => for {
    probe <- lc.rels(Seq("source_id"), b.sources)
    touched = ends(probe.filter(b.touches).map(_.pair)) ++
      ends(b.alive.map(_.pair)) ++ b.twins.keySet
    labelled <- lc.rows("components", ComponentsSchema, Seq("dt_id"), touched)
    members <- lc.rows("components", ComponentsSchema, Seq("component"),
      labelled.map(_.getString(1)).toSet)
    memberIds = members.map(_.getString(0)).toSet
    sub = memberIds ++ b.born ++ ends(b.alive.map(_.pair)) -- b.dead
    subRels <- lc.rels(Seq("source_id"), sub)
  } yield {
    val pairs = (subRels.filterNot(b.touches) ++
        b.alive.filter(r => sub(r.source)))
      .map(r => (r.source: AnyRef, r.target: AnyRef)).toArray
    val label = LocalGraph.componentLabelsAny(pairs, (x, y) =>
      LocalGraph.utf8Lt(x.asInstanceOf[String], y.asInstanceOf[String])).toMap
    Seq(LocalDelta("components", ComponentsSchema,
      sub.toSeq.map(n => Row(n, label.getOrElse(n, n))),
      (memberIds -- sub).toSeq.map(Row(_))))
  }

  /** [[Maintainer.kcore]] on the driver ([[kcoreParts]]): the changed
    * pairs from the touched sources' buckets; the region — the undirected
    * reach of their endpoints over old ∪ new edges — by a driver-side
    * frontier with one pruned `rels` read per hop, so only the region's
    * incident edges are held; then [[LocalGraph.kcoreSurvivors]], the peel
    * [[KCore.kcore]] bottoms out in, over the region's new edges. Declines
    * past `maxRounds` hops, where the distributed reach throws. */
  private def localKcore(k: Int, maxRounds: Int = 200): LocalFold =
    (lc, b) => lc.rels(Seq("source_id"), b.sources).flatMap { probe =>
      val newPairs = b.alive.map(_.pair).toSet
      val candidates =
        probe.filter(b.touches).map(_.pair).toSet ++ newPairs
      val before = probe.map(_.pair).filter(candidates).toSet
      val after = probe.filterNot(b.touches)
        .map(_.pair).filter(candidates).toSet ++ newPairs
      val touched = ends((before -- after) ++ (after -- before))
      if (touched.isEmpty) Some(Nil)
      else reach(lc, b, touched, touched, Map.empty, maxRounds).map {
        case (region, held) =>
          val sym = (held.valuesIterator.filterNot(b.touches) ++
              b.alive.iterator)
            .filter(r => r.source != r.target && region(r.source) &&
              region(r.target))
            .flatMap(r => Iterator((r.source, r.target), (r.target, r.source)))
            .toSet[(AnyRef, AnyRef)].toArray
          val core = LocalGraph.kcoreSurvivors(sym, k, 1000)
            .map(_.asInstanceOf[String]).toSet
          Seq(LocalDelta("kcore", KcoreSchema, core.toSeq.map(Row(_)),
            (region -- core).toSeq.map(Row(_))))
      }
    }

  /** The undirected reach of a k-core region over old ∪ new edges: each
    * hop reads the old rows incident to `frontier` and adds the batch's
    * live rows. Returns the region and every old row incident to it;
    * None over the cutoff or past `hopsLeft` non-empty frontiers. */
  @scala.annotation.tailrec
  private def reach(lc: LocalCommit, b: LocalBatch, region: Set[String],
      frontier: Set[String], held: Map[(String, String), Rel], hopsLeft: Int)
      : Option[(Set[String], Map[(String, String), Rel])] =
    if (frontier.isEmpty) Some((region, held))
    else if (hopsLeft == 0) None
    else lc.rels(Seq("source_id", "target_id"), frontier) match {
      case None => None
      case Some(hop) =>
        val heldNow = held ++ hop.map(r => r.key -> r)
        if (heldNow.size > lc.cutoff) None
        else {
          val next = (hop.iterator ++ b.alive.iterator)
            .filter(r => r.source != r.target)
            .flatMap(r =>
              (if (frontier(r.source)) Some(r.target) else None) ++
                (if (frontier(r.target)) Some(r.source) else None))
            .filterNot(region).toSet
          reach(lc, b, region ++ next, next, heldNow, hopsLeft - 1)
        }
    }

  // ---------------- the eight maintainers ----------------

  private[graft] object Maintainer {

    /** Degrees, by per-node locality: [[refreshDegrees]] over the base
      * RESTRICTED to the dirty keys yields exactly their new rows (the
      * upserts); dirty keys it drops (dead twins) are the tombstones.
      * `rels` is only probed, never folded. */
    val degrees = new Maintainer(Seq("degrees" -> Seq("dt_id")),
      Some(localDegrees))((c, m, latest) => {
        val relsProbe = touchedRels(c, latest)
        val oldRows = relsProbe
          .select(col("source_id"), col("relationship_id"), col("target_id"))
          .join(latest.select(RelKey.map(col): _*), RelKey, "left_semi")
        def ends(df: DataFrame): DataFrame = df.select(
          explode(array(col("source_id"), col("target_id"))).as("dt_id"))
        val dirtyNodes = c.own(ends(oldRows)
          .unionByName(ends(latest.filter(col("alive"))))
          .unionByName(latestTwinMutations(m).select(col("dt_id")))
          .distinct().compactCheckpoint())
        val up = c.own(refreshDegrees(
          c.table("degrees").join(dirtyNodes, Seq("dt_id"), "left_semi"),
          relsProbe, m).compactCheckpoint())
        Seq(c.splice("degrees", up, dirtyNodes))
      })

    /** WCC labels ([[refreshComponents]]): upserts = the recomputed labels
      * (every surviving member of an affected component plus every new
      * node); tombstones = affected-component members with no recomputed
      * row — the batch's dead twins. */
    val components = new Maintainer(Seq("components" -> Seq("dt_id")),
      Some(localComponents))((c, m, _) => {
        val baseRels = c.table("rels")
        val baseComp = c.table("components")
        val p = componentsParts(baseComp, baseRels, m)
        Seq(c.splice("components", c.own(p.recomputed.compactCheckpoint()),
          baseComp.join(p.affected, Seq("component"), "left_semi")
            .select(col("dt_id"))))
      })

    /** Fixed-K PageRank ([[refreshRanksHistoryParts]]), carrying the full
      * per-iteration history forward as `hist/i=N`. */
    def ranks(iterations: Int): Maintainer =
      history("hist", iterations)(refreshRanksHistoryParts(_, _, _))

    /** LPA communities ([[refreshCommunitiesHistoryParts]]), carrying the
      * per-round labels forward as `lpa/i=N`. */
    def communities(rounds: Int): Maintainer =
      history("lpa", rounds)(refreshCommunitiesHistoryParts(_, _, _))

    /** A per-round history maintainer: each batch splices every round's
      * table against its predecessor exactly the way the batch operator
      * would recompute. A refreshed round is checkpointed in memory, so
      * its key-restricted upsert scan reads the cache and only the
      * parquet WRITE is cone-sized. */
    private def history(prefix: String, rounds: Int)(
        refresh: (DataFrame, DataFrame, IndexedSeq[DataFrame])
          => (IndexedSeq[DataFrame], IndexedSeq[DataFrame])): Maintainer = {
      val names = (0 until rounds).map(i => s"$prefix/i=$i")
      new Maintainer(names.map(_ -> Seq("node")))((c, m, latest) => {
        val baseRels = c.table("rels")
        val hist = names.map(c.table)
        val newRels = c.own(applyRelationshipMutations(baseRels, m)
          .compactCheckpoint())
        val (newHist, dirtyKeys) = refresh(newRels,
          changedPairs(touchedRels(c, latest), m), hist)
        (newHist ++ dirtyKeys).foreach(c.own)
        names.indices.map(i => c.splice(names(i),
          newHist(i).join(dirtyKeys(i), Seq("node"), "left_semi"),
          dirtyKeys(i)))
      })
    }

    /** Per-node triangle counts ([[refreshTriangles]]): upserts = the
      * recomputed counts (every affected node still in the edge universe);
      * tombstones = affected nodes that left it. */
    val triangles = new Maintainer(Seq("triangles" -> Seq("node")))(
      (c, m, _) => {
        val p = trianglesParts(c.table("rels"), m)
        Seq(c.splice("triangles", c.own(p.recomputed.compactCheckpoint()),
          p.affected))
      })

    /** The k-core survivor set ([[refreshKcore]]): upserts = the region's
      * recomputed survivors; tombstones = region nodes peeled out. */
    def kcore(k: Int): Maintainer =
      new Maintainer(Seq("kcore" -> Seq("node")),
        Some(localKcore(k)))((c, m, _) =>
        kcoreParts(c.table("rels"), m, k).toSeq.map(p => c.splice("kcore",
          c.own(p.recomputed.compactCheckpoint()), p.affected)))

    /** The k-truss edge set ([[refreshKtruss]]); truss edges are canonical
      * (a < b) and a's bucket is the edge's home. Upserts = the region's
      * recomputed truss edges; tombstones = base truss edges inside the
      * region that did not survive the re-peel. Region nodes bucket
      * exactly like the `a` endpoints, so the probe is bucket-pruned. */
    def ktruss(k: Int, rounds: Int): Maintainer =
      new Maintainer(Seq("ktruss" -> Seq("a", "b")))((c, m, _) =>
        ktrussParts(c.table("rels"), m, k, rounds).toSeq.map { p =>
          val rec = c.own(p.recomputed.compactCheckpoint())
          c.splice("ktruss", rec,
            c.tableBuckets("ktruss", c.dirty(p.affected, "node"))
              .join(p.affected.withColumnRenamed("node", "a"), Seq("a"),
                "left_semi")
              .select(col("a"), col("b")))
        })

    /** SCC labels ([[refreshScc]]): every row that can change is a region
      * member (recomputed label) or a changed pair's endpoint (universe
      * entries/exits). Upserts = the splice restricted to those keys
      * (unchanged delta-end rows ride along harmlessly); tombstones =
      * those keys the splice dropped. */
    val scc = new Maintainer(Seq("scc" -> Seq("node")))((c, m, _) => {
      val baseRels = c.table("rels")
      val baseScc = c.table("scc")
      val p = sccParts(baseScc, baseRels, m)
      val dirtyNodes = c.own(p.regionNodes.select(col("node"))
        .unionByName(p.deltaEnds).distinct().compactCheckpoint())
      val up = c.own(sccSplice(baseScc, p)
        .join(dirtyNodes, Seq("node"), "left_semi").compactCheckpoint())
      Seq(c.splice("scc", up, dirtyNodes))
    })
  }
}
