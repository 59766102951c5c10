package graft.pipeline

import graft.core.Blocks.CompactCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication operators for training-data pipelines, designed for the
  * shuffle patterns that survive 100 TB:
  *
  *  - exact:       one hash-shuffle on md5(text).
  *  - shingle-Jaccard: candidate pairs via an inverted-index self-join on
  *    shingles (with a document-frequency cap to kill hub-shingle skew),
  *    then exact verification on the candidate set only. No n² stage.
  *  - MinHash+LSH: signatures via md5-derived 60-bit shingle ids (no global
  *    dictionary, fully data-parallel) + banded join; candidates verified
  *    with exact Jaccard.
  *  - SimHash:     32-bit signatures; candidates via 4-chunk pigeonhole
  *    banding (hamming ≤ 3 ⇒ at least one identical byte), so no n² join.
  *
  * Every stage is Column-expression-only (codegen'd); hash constants are
  * modular-arithmetic-safe for 64-bit engines (a,b < P=2^31-1 ⇒ products
  * < 2^62), so DuckDB/Postgres replicas produce bit-identical results.
  * Bit shifts are expressed as floor-divisions by powers of two because
  * shift amounts are data-dependent (Spark's shiftright takes only literal
  * amounts) — exact for the < 2^31 values used here.
  */
object Dedup {

  /** Current on-disk footprint (MB) of the JVM's block-manager dirs
    * (`blockmgr-*` under spark.local.dir) — shuffle + spill residue. Used
    * to gate the inter-wave GC nudge on MEASURED pressure instead of
    * firing unconditionally. Walk cost is O(live shuffle files), paid only
    * between LSH waves. */
  private[pipeline] def blockMgrDiskMb(spark: org.apache.spark.sql.SparkSession): Long = {
    val dirs = spark.conf.getOption("spark.local.dir")
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
      .split(",").map(_.trim).filter(_.nonEmpty)
    var bytes = 0L
    dirs.foreach { d =>
      val root = new java.io.File(d)
      val kids = root.listFiles()
      if (kids != null) kids.filter(_.getName.startsWith("blockmgr-"))
        .foreach { bm =>
          def walk(f: java.io.File): Unit = {
            if (f.isFile) bytes += f.length()
            else { val c = f.listFiles(); if (c != null) c.foreach(walk) }
          }
          walk(bm)
        }
    }
    bytes / (1024L * 1024L)
  }

  val P: Long = 2147483647L // 2^31 - 1, Mersenne prime

  /** Estimated input size from which a wide aggregation hash-partitions
    * by doc first (see [[partitionForWideAgg]]). */
  private[pipeline] val WideAggRepartBytes: BigInt = BigInt(8L << 20)

  /** blockmgr disk footprint from which a multi-wave LSH run nudges a GC
    * between waves so shuffle files of finished waves are reclaimed. */
  private val LshGcMinMb = 1024L

  /** Deterministic LCG-style hash parameters, identical in oracle SQL. */
  def hashParams(numHashes: Int): Seq[(Int, Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (2654435761L * (2 * i + 1)) % P
      val b = (40503L * (i + 7) + 2038074743L * i) % P
      (i, if (a == 0) 1L else a, b)
    }

  /** Exact duplicate groups: survivor = min id per md5(text). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  // Materialization discipline shared by the pair builders below: the
  // shingle-id table AND results are `localCheckpoint(eager)`ed —
  // evaluated ONCE, lineage truncated, blocks freed explicitly at pass
  // end ([[graft.core.Blocks]]) so downstream consumers that read a
  // frame several times (verifyJaccard scans `ids` three ways;
  // [[components]] builds edges ∪ edges.swap) never re-run the generator
  // pipeline. A lazy `persist` here was measurably worse (r20): the
  // first jobs that touch the cache are verifyJaccard's CONCURRENT
  // broadcast-build futures, which race to compute the same partitions
  // (duplicate shingle/md5 work + block-lock waits), and a cached plan
  // keeps its raw shuffle partitioning (no AQE coalescing inside
  // InMemoryRelation by default), so every scan paid core-count tasks
  // regardless of data size — the checkpoint's partitioning is
  // AQE-final, i.e. data-proportional.

  /** Per-(doc, shingle_id) exploded distinct shingle ids.
    *
    * Shingles come from the native [[graft.functions.WordNGrams]] codegen
    * kernel — built row-locally at scan speed, no shuffle. The previous
    * posexplode + window-lead form repartitioned and sorted the whole token
    * stream just to pair adjacent tokens; the `transform(sequence, slice)`
    * Column form is interpreter-evaluated. Only full n-grams are produced
    * (docs shorter than n tokens yield none), matching the
    * SQL-positional-join formulation; the only shuffle in this operator is
    * the distinct the algorithm requires. */
  def shingleIds(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(graft.functions.WordNGrams.ngrams(
          TextAnalysis.tokens(col(textCol)), n)).as("shingle"))
      .select(col("doc"), (TextAnalysis.stableId(col("shingle")) % P).as("sid"))
      .distinct()

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * the full shingle-id sets; returns pairs with jaccard_4 ≥ threshold
    * (fixed-point ×10000). */
  private[pipeline] def verifyJaccard(candidates: DataFrame, ids: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = ids.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    // Candidates are usually tiny vs the shingle table, but NOT bounded —
    // a k-duplicated boilerplate doc yields O(k²) pairs, so a mandatory
    // broadcast hint would hard-fail exactly the workload dedup targets.
    // AQE converts these joins to broadcast at runtime when the candidate
    // side measures small, which keeps `ids` un-shuffled in the common
    // case without the failure mode.
    // Two-key equi-join (doc_b, sid): each (pair, sid_a) row probes one
    // hash bucket — joining on doc_b alone would expand to |pair|·|set|².
    val inter = candidates
      .join(ids.select(col("doc").as("doc_a"), col("sid")), Seq("doc_a"))
      .join(ids.select(col("doc").as("doc_b"), col("sid")), Seq("doc_b", "sid"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("jaccard_4",
        floor(col("inter") * 10000.0 / (col("sz_a") + col("sz_b") - col("inter")) + 0.5)
          .cast(LongType))
      .filter(col("jaccard_4") >= math.round(threshold * 10000))
      .select(col("doc_a"), col("doc_b"), col("jaccard_4"))
  }

  /** n-gram Jaccard near-dup pairs via a document-frequency-capped
    * inverted index: one self-join on shingle id produces, in a single
    * aggregation, both the candidate pairs and their intersection counts
    * over the capped sets (hub shingles with df > maxDf are excluded from
    * the index AND the intersection — the standard skew-proof formulation;
    * set sizes in the union stay exact). No n² stage, no candidate×set
    * re-join. */
  def shingleJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxDf: Int = 1000): DataFrame = {
    val ids = shingleIds(df, idCol, textCol, n)
      .compactCheckpoint()
    try shingleJaccardPairsFrom(ids, threshold, maxDf)
    finally graft.core.Blocks.free(ids)
  }

  /** [[shingleJaccardPairs]] over pre-built shingle ids — the entry point
    * for callers that feed several dedup passes from ONE `shingleIds` run
    * (e.g. the `q_dedup_recall` gate pairing this with
    * [[minhashLshPairsFrom]]). `ids` should be materialized (persisted or
    * checkpointed) by the caller; its lifecycle stays with the caller.
    * The result is eagerly checkpointed, so it remains readable after the
    * caller releases `ids`. */
  def shingleJaccardPairsFrom(ids: DataFrame, threshold: Double = 0.5,
      maxDf: Int = 1000): DataFrame = {
    val rare = ids.groupBy(col("sid")).agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt") <= maxDf).select(col("sid"))
    // Exact (pre-cap) set size per doc, annotated ONTO the index rows
    // before the self-join: the sizes then ride the pair aggregation as
    // extra grouping keys, so the (much larger) pair set is never
    // re-shuffled through two doc-keyed size joins afterwards — those
    // post-join shuffles were this operator's largest constant at sf0.1.
    val sizes = ids.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    // materialized once: the capped+annotated index feeds BOTH sides of
    // the self-join below — left lazy, the df-count and size aggregations
    // would run twice
    val idsF = ids.join(rare, Seq("sid"), "left_semi")
      .join(sizes, Seq("doc"))
      .compactCheckpoint()
    val out =
      idsF.select(col("doc").as("doc_a"), col("sz").as("sz_a"), col("sid"))
        .join(idsF.select(col("doc").as("doc_b"), col("sz").as("sz_b"),
          col("sid")), Seq("sid"))
        .filter(col("doc_a") < col("doc_b"))
        // sz_a/sz_b are functions of the doc keys — as extra grouping keys
        // they keep the aggregate a pure map-side-combinable count
        .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard_4",
          floor(col("inter") * 10000.0 / (col("sz_a") + col("sz_b") - col("inter")) + 0.5)
            .cast(LongType))
        .filter(col("jaccard_4") >= math.round(threshold * 10000))
        .select(col("doc_a"), col("doc_b"), col("jaccard_4"))
        .compactCheckpoint()
    graft.core.Blocks.free(idsF)
    out
  }

  /** MinHash signatures, wide form (doc, mh0..mh{numHashes-1}): the i-th
    * column is min over shingles of (a_i·sid + b_i) mod P.
    *
    * One `groupBy(doc)` with numHashes aggregate expressions — NOT a
    * crossJoin with the hash-param table. The crossJoin form multiplies the
    * (doc, shingle) rows ×numHashes through a shuffle (64× the bytes at 64
    * perms); the wide form shuffles the base rows once and computes all
    * minima map-side (partial aggregation), fully inside whole-stage
    * codegen — the same trick [[simhash]] uses for its 32 bit-sums. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64): DataFrame =
    minhashSignaturesFrom(shingleIds(df, idCol, textCol, n), numHashes)

  private def minhashSignaturesFrom(ids: DataFrame, numHashes: Int): DataFrame = {
    val aggs = hashParams(numHashes).map { case (i, a, b) =>
      min((lit(a) * col("sid") + lit(b)) % P).as(s"mh$i")
    }
    partitionForWideAgg(ids).groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
  }

  /** Hash-partition by doc BEFORE a WIDE aggregation — adaptively.
    *
    * Left to its own devices Spark plans partial→shuffle→final, and the
    * partial output is the shuffle payload: with ~2 shingles of a doc per
    * input partition, each (doc, partition) emits one wide partial row
    * (~520 B at 64 minima) where the raw rows it summarizes are ~30 B —
    * map-side combine inflates this particular shuffle up to ~18× (it sank
    * the sf100 run: >80 GB of partial rows vs ~6 GB raw; SCALING.md §r15).
    * Repartitioning first makes the shuffle carry the raw 16-byte
    * (doc, sid) rows and the partial+final aggregates fuse into the
    * post-shuffle stage, so the wide rows never hit disk.
    *
    * But the pre-shuffle is pure cost at small inputs: the extra stage
    * barrier (~0.3–1 s of scheduling + materialization) outweighs shuffle
    * bytes that fit the page cache either way — r15 paid +50% on
    * `q_dedup_components` at sf0.1 for a fix that only matters from
    * roughly sf10 up. Decide from plan statistics (no job): repartition
    * when the estimated input size reaches [[WideAggRepartBytes]]. The
    * estimate Catalyst propagates
    * through the shingle projection is ~0.3× the compressed parquet bytes
    * (measured: 170 KB at sf0.1, 2.0 MB at sf1, 21 MB at sf10), so the
    * threshold of 8 MB lands between the sf1 and sf10 trees — i.e. skip
    * where the r15 bench paid, keep from the tier where inflation is
    * multi-GB. Eagerly-checkpointed inputs (incl. streaming micro-batch
    * state) report their ACTUAL materialized size, so small batches skip
    * too; a genuinely unknown plan reports the `defaultSizeInBytes`
    * sentinel and chooses repartition — the safe side at scale. */
  private def partitionForWideAgg(ids: DataFrame): DataFrame =
    if (ids.queryExecution.optimizedPlan.stats.sizeInBytes >= WideAggRepartBytes)
      ids.repartition(col("doc"))
    else ids

  /** LSH band-signature rows (doc, band, sig) from exploded shingle ids:
    * sig = "-"-joined minima of the band's hashes, concatenated in
    * hash-index order — bit-identical to the generated oracle SQL. One
    * wide aggregation, then a narrow explode of precomputed structs (no
    * second aggregation, no ×numHashes shuffle). Shared by the batch LSH
    * pass and the streaming incremental index
    * ([[StreamingNearDedup]]), so both produce byte-identical buckets. */
  private[pipeline] def bandSignaturesFrom(ids: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide evenly into bands ($bands); " +
        "a remainder would silently drop hash functions from the banding")
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws("-", (0 until rowsPerBand).map(r =>
          col(s"mh${bnd * rowsPerBand + r}").cast("string")): _*).as("sig"))
    }
    minhashSignaturesFrom(ids, numHashes)
      .select(col("doc"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** MinHash+LSH near-dup pairs: band the signature (bands × rowsPerBand =
    * numHashes), bucket-join on (band, banded signature), verify candidates
    * with exact Jaccard. Band signatures concatenate minima in hash-index
    * order, so they are bit-identical to the former long-form (sort by h)
    * implementation and to the generated oracle SQL.
    *
    * @param waves process the bands in `waves` sequential groups instead of
    *              one monolithic bucket join. The result is identical (the
    *              union of per-band collisions does not depend on which wave
    *              a band ran in; cross-wave duplicates are distinct-ed away)
    *              but the LIVE shuffle footprint divides by `waves`: each
    *              wave shuffles docs × bands/waves bucket rows, checkpoints
    *              its (small) candidate set, and releases the join's
    *              lineage before the next wave starts. The price is `waves`
    *              narrow re-scans of the once-aggregated wide signature
    *              table — numHashes longs per doc, trivial next to the
    *              bucket shuffle. waves=1 recovers the single-pass plan; at
    *              the 100 TB tier pick waves so one wave's bucket rows fit
    *              the cluster's shuffle tier (this is what let the sf100
    *              point run on a single host whose disk the 16-band
    *              monolith exceeded). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, waves: Int = 1): DataFrame = {
    val ids = shingleIds(df, idCol, textCol, n)
      .compactCheckpoint()
    try minhashLshPairsFrom(ids, numHashes, bands, threshold, waves)
    finally graft.core.Blocks.free(ids)
  }

  /** [[minhashLshPairs]] over pre-built shingle ids — see
    * [[shingleJaccardPairsFrom]] for the contract (caller materializes and
    * owns `ids`; the eagerly-checkpointed result outlives it). */
  def minhashLshPairsFrom(ids: DataFrame, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5, waves: Int = 1): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide evenly into bands ($bands); " +
        "a remainder would silently drop hash functions from the banding")
    require(waves >= 1 && waves <= bands,
      s"waves ($waves) must be in [1, bands=$bands]")
    val rowsPerBand = numHashes / bands
    // ONE signature aggregation feeds every wave: the wide (doc,
    // mh0..mh{n-1}) frame is numHashes longs per doc — re-aggregating the
    // shingle table per wave would multiply the operator's only required
    // shuffle by `waves`
    val wide = minhashSignaturesFrom(ids, numHashes)
      .compactCheckpoint()
    def bandRows(bnds: Seq[Int]): DataFrame = {
      val structs = bnds.map { bnd =>
        struct(lit(bnd).as("band"),
          concat_ws("-", (0 until rowsPerBand).map(r =>
            col(s"mh${bnd * rowsPerBand + r}").cast("string")): _*).as("sig"))
      }
      wide.select(col("doc"), explode(array(structs: _*)).as("bs"))
        .select(col("doc"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    }
    val waveGroups = (0 until bands)
      .grouped(math.ceil(bands.toDouble / waves).toInt).toSeq
    val waveCands = waveGroups.map { bnds =>
      val sigs = bandRows(bnds) // narrow explode over checkpointed blocks
      val l = sigs.select(col("doc").as("doc_a"), col("band"), col("sig"))
      val r = sigs.select(col("doc").as("doc_b"), col("band"), col("sig"))
      val c = l.join(r, Seq("band", "sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
        .compactCheckpoint()
      // checkpointing c cuts the lineage to this wave's bucket-join
      // shuffle, but ContextCleaner only reclaims the shuffle files after
      // a GC collects the dropped ShuffleDependency (or the ~30-min
      // periodic GC fires) — without a collection, a multi-wave run
      // accumulates ALL waves' shuffle files, defeating the disk bound
      // waving exists to provide. The nudge is CONDITIONAL (r18): it fires
      // only when the measured blockmgr disk footprint actually crosses
      // [[LshGcMinMb]], so runs whose shuffle residue is small never pay a
      // stop-the-world pause on co-tenant JVMs; lowering
      // spark.cleaner.periodicGC.interval session-wide remains the
      // Spark-native alternative. blockMgrDiskMb only sees THIS JVM's
      // blockmgr dirs; on a non-local master shuffle/spill residue lives
      // on executor nodes, the measurement reads ~0, and the nudge (whose
      // whole purpose is bounding shuffle disk) would never fire — so a
      // non-local master nudges every wave (r18 advice).
      if (waveGroups.size > 1 && (!l.sparkSession.sparkContext.isLocal ||
          Dedup.blockMgrDiskMb(l.sparkSession) >= LshGcMinMb)) System.gc()
      c
    }
    val candidates =
      if (waveCands.size == 1) waveCands.head
      else waveCands.reduce(_ unionByName _).distinct() // cross-wave dups
        .compactCheckpoint()
    val out = verifyJaccard(candidates, ids, threshold)
      .compactCheckpoint()
    waveCands.foreach(graft.core.Blocks.free)
    // single-wave: candidates IS waveCands.head, already freed above
    if (!waveCands.headOption.exists(_ eq candidates))
      graft.core.Blocks.free(candidates)
    graft.core.Blocks.free(wide)
    out
  }

  /** Connected components over near-dup pairs: (doc, component = min doc id
    * reachable), for every doc that appears in `pairs`. Delegates to
    * [[componentsStars]] — the r7-r9 A/B between star contraction and
    * min-label propagation never separated beyond host noise on wall time,
    * and the star shape runs fewer Spark jobs per round (no convergence
    * probe join), so it wins on scheduling overhead at scale. The min-label
    * loop is retained as [[componentsMinLabel]] and parity-tested in
    * PipelineSpec. */
  def components(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame =
    componentsStars(pairs, aCol, bCol)

  /** Quality-aware survivor selection: ONE doc per duplicate cluster — the
    * member with the highest `scoreCol` (ties broken toward the lowest
    * id), instead of the arbitrary min-id rule. This is the "keep the best
    * copy" policy modern curation pipelines apply after fuzzy dedup
    * (FineWeb, RefinedWeb): boilerplate-heavy mirrors lose to the cleanest
    * copy rather than the numerically-first one. Docs absent from `pairs`
    * are their own cluster and always survive.
    *
    * Scale shape: clusters come from [[components]] (pointer-doubling
    * stars, no n² stage); the winner pick is one row_number window
    * PARTITIONED by cluster — distributed by cluster key, never a global
    * sort; the label join is an equi-join on the doc id. */
  def keepBest(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = components(pairs).withColumnRenamed("doc", idCol)
    val labeled = docs.join(comp, Seq(idCol), "left_outer")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val w = Window.partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labeled.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Iterative min-label propagation (each doc repeatedly takes the min
    * label in its neighborhood) — the scalable union-find, with pointer
    * doubling for O(log diameter) convergence. Kept as the A/B alternative
    * to [[componentsStars]] (spec-parity-tested, not gated). Per-round
    * `localCheckpoint` truncates the iterative-join lineage, same
    * discipline as [[graft.graph.Vle]]. */
  def componentsMinLabel(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    // Materialize the incoming pair plan ONCE before fanning it out into
    // sym = edges ∪ edges.swap — without this, an expensive unpersisted
    // generator subplan (e.g. the full LSH+verify pipeline) is evaluated
    // twice inside sym's first materialization. Skipped when the input is
    // already a checkpoint (or a cheap projection over one): generators
    // like [[minhashLshPairs]] checkpoint their own output, and a second
    // copy of the same rows would just double the pinned blocks.
    val proj = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val ownsEdges = !isRematerializable(proj)
    val edges = if (ownsEdges) proj.compactCheckpoint() else proj
    // sym is CHECKPOINTED (not merely persisted): every loop iteration
    // joins against it, and its lineage would otherwise reach back through
    // the freed one-shot edge copy — a lost partition would then be
    // unrecomputable. Severing the lineage makes freeing edges safe.
    // No distinct(): min-label propagation is duplicate-insensitive (a
    // repeated edge changes no min), so deduplication would buy nothing
    // for a full extra shuffle. Checkpointed HASH-PARTITIONED ON `b` —
    // the key every round's neighbor join probes — so the per-round join
    // reuses this partitioning and only the (much smaller) labels side
    // shuffles each iteration.
    val sym = edges
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("b"))
      .compactCheckpoint()
    if (ownsEdges) graft.core.Blocks.free(edges)
    var labels = sym.select(col("a").as("doc")).distinct()
      .withColumn("label", col("doc"))
      .compactCheckpoint()
    var changed = true
    while (changed) {
      val neighborMin = sym
        .join(labels.select(col("doc").as("b"), col("label").as("bl")), Seq("b"))
        .groupBy(col("a")).agg(min(col("bl")).as("nmin"))
        .select(col("a").as("doc"), col("nmin"))
      val stepped = labels.join(neighborMin, Seq("doc"), "left_outer")
        .select(col("doc"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("mid_label"))
      // pointer doubling: also adopt the label of my current label — turns
      // O(diameter) convergence into O(log diameter), which matters for
      // chain-shaped near-dup clusters (doc, doc', doc'' ...)
      val asMap = stepped.select(col("doc").as("m_doc"), col("mid_label").as("m_label"))
      // ONE eager checkpoint per round; the convergence probe and next
      // round's labels both read the checkpointed frame (cheap projections)
      val merged = stepped
        .join(asMap, col("mid_label") === col("m_doc"), "left_outer")
        .select(col("doc"), col("label"),
          least(col("mid_label"), coalesce(col("m_label"), col("mid_label")))
            .as("next_label"))
        .compactCheckpoint()
      // the new checkpoint subsumes the previous round's — free it now
      // rather than waiting for a driver GC + ContextCleaner pass
      graft.core.Blocks.free(labels)
      changed = !merged.filter(col("next_label") =!= col("label")).isEmpty
      labels = merged.select(col("doc"), col("next_label").as("label"))
    }
    graft.core.Blocks.free(sym) // labels are checkpoints; sym is dead now
    labels.select(col("doc"), col("label").as("component"))
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the implementation behind [[components]]; the min-label +
    * pointer-doubling loop survives as [[componentsMinLabel]]. Each round:
    *
    *  - large-star: every node u links its LARGER neighbors to
    *    m = min(N(u) ∪ u): emit (v, m) for v ∈ N(u), v > u.
    *  - small-star: on the now-downward edge list (a > b), every node
    *    links its smaller neighbors + itself to its minimum: emit (v, m)
    *    for v ∈ N(u) ∪ {u} \ {m}.
    *
    * Both steps are one groupBy-min + one equi-join each — no per-node
    * adjacency list is ever collected, so hub nodes cannot overflow a
    * task. Converges when the edge multiset stops changing (checked with
    * a count + hash-sum aggregate, not a full except). Output matches
    * [[components]]: (doc, component = min reachable id). */
  def componentsStars(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val proj = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val ownsEdges = !isRematerializable(proj)
    val edges0 = if (ownsEdges) proj.compactCheckpoint() else proj
    // Sub-cutoff bottom-out (r19, graft.graph.LocalGraph doc): a pair
    // list at or under `spark.graft.graph.localSolveMaxEdges` resolves in
    // one serial union-find instead of O(log diameter) contraction
    // rounds × 3 Spark jobs each. Same labels bit-for-bit: min member
    // under the exact order Spark's `min` uses for the id type (skipped
    // for types whose order this module doesn't reproduce).
    localComponents(edges0).foreach { out =>
      if (ownsEdges) graft.core.Blocks.free(edges0)
      return out
    }
    // all nodes, for labeling isolated-in-pairs docs at the end
    val nodes = edges0.select(col("a")).unionByName(edges0.select(col("b").as("a")))
      .distinct().select(col("a").as("doc")).compactCheckpoint()
    // canonical downward orientation (a > b)
    var e = edges0
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .compactCheckpoint()
    if (ownsEdges) graft.core.Blocks.free(edges0)
    var eSig = edgeSig(e)
    var converged = false
    while (!converged) {
      val (smallPlan, large) = starsRound(e)
      val small = smallPlan.compactCheckpoint()
      graft.core.Blocks.free(large)
      // convergence: same distinct-edge set as last round, compared via
      // (count, order-insensitive hash-sum) — one agg job per round; the
      // previous round's signature is carried, not recomputed
      val sig = edgeSig(small)
      converged = sig == eSig
      eSig = sig
      graft.core.Blocks.free(e)
      e = small
    }
    // stars: every non-root points directly at its component min
    val out = nodes.join(e.select(col("a").as("doc"), col("b").as("component")),
        Seq("doc"), "left_outer")
      .select(col("doc"), coalesce(col("component"), col("doc")).as("component"))
      .compactCheckpoint()
    graft.core.Blocks.free(e)
    graft.core.Blocks.free(nodes)
    out
  }

  /** Driver-side union-find over a sub-cutoff pair frame (columns `a`,
    * `b`, same orderable type), or None to stay distributed. The frame
    * must already be materialized (count + collect read cached blocks). */
  private def localComponents(edges0: DataFrame)
      : Option[org.apache.spark.sql.DataFrame] = {
    import graft.graph.LocalGraph
    val spark = edges0.sparkSession
    val cutoff = LocalGraph.maxEdges(spark)
    val dt = edges0.schema.fields(0).dataType
    if (cutoff <= 0 || edges0.schema.fields(1).dataType != dt) return None
    val lt = LocalGraph.sparkLt(dt).getOrElse(return None)
    if (LocalGraph.overCutoff(edges0, cutoff)) return None
    val rows = edges0.collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val labs = LocalGraph.componentLabelsAny(
      rows.map(r => (r.get(0).asInstanceOf[AnyRef], r.get(1).asInstanceOf[AnyRef])), lt)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc", dt),
      org.apache.spark.sql.types.StructField("component", dt)))
    // coalesce(1): LocalRelations otherwise scan as one-row tasks
    // (see graft.graph.Scc.localDf)
    Some(spark.createDataFrame(
      java.util.Arrays.asList(labs.map(p =>
        org.apache.spark.sql.Row(p._1, p._2)): _*), schema).coalesce(1))
  }

  /** One large-star + small-star contraction round ([[componentsStars]]'
    * loop body). Returns the next downward edge list as an UNMATERIALIZED
    * plan plus the intermediate large-star checkpoint the caller frees
    * once the plan is materialized (checkpointed or written to disk). */
  private def starsRound(e: DataFrame): (DataFrame, DataFrame) = {
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val lmins = sym.groupBy(col("a"))
      .agg(min(col("b")).as("mb"))
      .select(col("a"), least(col("a"), col("mb")).as("m"))
    val large = sym.join(lmins, Seq("a"))
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .compactCheckpoint()
    val smins = large.groupBy(col("a")).agg(min(col("b")).as("m"))
    val small = large.join(smins, Seq("a"))
      .filter(col("b") =!= col("m"))
      .select(col("b").as("a"), col("m").as("b"))
      .unionByName(smins.select(col("a"), col("m").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
    (small, large)
  }

  /** Order-insensitive (count, hash-sum) signature of a downward edge
    * list — the one-agg convergence probe. Hash folded into [0, 1e9)
    * before summing: ANSI mode would throw on a raw sum(xxhash64)
    * overflow. */
  private def edgeSig(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(col("a"), col("b")), lit(1000000007L))),
        lit(0L)).as("h")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Restart-resumable [[componentsStars]]: every contraction round
    * commits its edge list at rest under `stateDir/edges/round=N` (the
    * parquet `_SUCCESS` is the commit marker, the same discipline as
    * [[StreamingNearDedup.processBatch]]), and the final labels commit
    * under `stateDir/labels`. A components job over 100 TB of near-dup
    * pairs runs for hours; when the driver dies at round 37, this resumes
    * at round 37 — a half-written round directory is overwritten, a
    * completed run short-circuits to the stored labels. Each round costs
    * one extra parquet write vs the in-memory loop; lineage per round is
    * flat by construction (every round reads a file, not a join tree).
    * State stays on disk for inspection; delete `stateDir` to reset. */
  def componentsResumable(pairs: DataFrame, stateDir: String,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val spark = pairs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dir(i: Int) = s"$stateDir/edges/round=$i"
    def committed(p: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$p/_SUCCESS"))
    if (committed(s"$stateDir/labels"))
      return spark.read.parquet(s"$stateDir/labels")
    if (!committed(dir(0)))
      pairs.select(col(aCol).as("a"), col(bCol).as("b"))
        .select(greatest(col("a"), col("b")).as("a"),
          least(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .write.mode("overwrite").parquet(dir(0))
    var i = Iterator.from(1).takeWhile(j => committed(dir(j))).toSeq
      .lastOption.getOrElse(0)
    var e = spark.read.parquet(dir(i))
    var eSig = edgeSig(e)
    var converged = false
    // resume always runs at least one round; if the crash happened after
    // convergence the first round is a no-op whose signature matches
    while (!converged) {
      val (smallPlan, large) = starsRound(e)
      smallPlan.write.mode("overwrite").parquet(dir(i + 1))
      graft.core.Blocks.free(large)
      val next = spark.read.parquet(dir(i + 1))
      val sig = edgeSig(next)
      converged = sig == eSig
      eSig = sig
      e = next
      i += 1
    }
    val nodes = spark.read.parquet(dir(0))
    val allNodes = nodes.select(col("a"))
      .unionByName(nodes.select(col("b").as("a")))
      .distinct().select(col("a").as("doc"))
    allNodes.join(e.select(col("a").as("doc"), col("b").as("component")),
        Seq("doc"), "left_outer")
      .select(col("doc"),
        coalesce(col("component"), col("doc")).as("component"))
      .write.mode("overwrite").parquet(s"$stateDir/labels")
    spark.read.parquet(s"$stateDir/labels")
  }

  /** True when re-evaluating `df` costs no more than re-reading stored
    * rows: every node in the optimized plan is a narrow projection/filter
    * over checkpoint blocks or a local relation. Such inputs don't need a
    * defensive checkpoint before being read twice. */
  private def isRematerializable(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project}
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.optimizedPlan.collectFirst {
      case p if !p.isInstanceOf[Project] && !p.isInstanceOf[Filter] &&
        !p.isInstanceOf[LogicalRDD] && !p.isInstanceOf[LocalRelation] => p
    }.isEmpty
  }

  /** Survivor election per component: keep the min doc id; returns
    * (component, survivor_id, n_members). The standard post-pairing dedup
    * step — everything else in the component is dropped from the corpus. */
  def survivors(comps: DataFrame): DataFrame =
    comps.groupBy(col("component"))
      .agg(min(col("doc")).as("survivor_id"), count(lit(1)).as("n_members"))

  /** The deduplicated corpus: drops every clustered doc except its
    * component's survivor. One anti-join against the (small) set of
    * non-survivors — docs in no component pass through untouched. */
  def dedupedCorpus(df: DataFrame, idCol: String, comps: DataFrame): DataFrame = {
    val losers = comps.filter(col("doc") =!= col("component"))
      .select(col("doc").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Floor-division "shift right by k bits" for non-negative values
    * (exact while v < 2^52; our values are < 2^31). */
  private def shr(v: Column, kBits: Column): Column =
    floor(v / pow(lit(2.0), kBits)).cast(LongType)

  /** 32-bit SimHash per document over shingle ids: bit k is the sign of
    * Σ_shingles (2·bit_k(hash(sid)) − 1). */
  def simhash(df: DataFrame, idCol: String, textCol: String, n: Int = 3)
      : DataFrame = {
    val (_, a0, b0) = hashParams(1).head
    val ids = shingleIds(df, idCol, textCol, n)
      .withColumn("hv", (lit(a0) * col("sid") + lit(b0)) % P)
    // single-pass: 32 conditional sums per doc (one shuffle, no ×32
    // explode). Bit k of hv via literal-shift (codegen'd shiftright).
    // repartition-by-doc first (adaptively — see [[partitionForWideAgg]]):
    // with ~2 shingles per doc per partition, shuffling 32-long partial
    // rows costs ~8× the raw (doc, hv) rows at scale.
    val sums = (0 until 32).map(k =>
      sum(when(shiftright(col("hv"), k).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"s$k"))
    val agged = partitionForWideAgg(ids)
      .groupBy(col("doc")).agg(sums.head, sums.tail: _*)
    val sim = (0 until 32).map(k =>
      when(col(s"s$k") > 0, lit(1L) * (1L << k)).otherwise(0L))
      .reduce(_ + _)
    agged.select(col("doc"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3):
    * pigeonhole banding over 4 byte-chunks makes the candidate join linear
    * in collisions rather than n². */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3): DataFrame = {
    val sh = simhash(df, idCol, textCol, n)
    // materialized once: chunked feeds BOTH sides of the pigeonhole
    // self-join — left lazy, the 32-sum signature aggregation (and the
    // whole shingle pipeline below it) would run twice
    val chunked = sh.select(col("doc"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("chunk"))
      .withColumn("cv", shr(col("simhash"), col("chunk") * 8) % 256)
      .compactCheckpoint()
    val l = chunked.select(col("doc").as("doc_a"), col("simhash").as("sh_a"),
      col("chunk"), col("cv"))
    val r = chunked.select(col("doc").as("doc_b"), col("simhash").as("sh_b"),
      col("chunk"), col("cv"))
    val out = l.join(r, Seq("chunk", "cv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .compactCheckpoint()
    graft.core.Blocks.free(chunked)
    out
  }
}
