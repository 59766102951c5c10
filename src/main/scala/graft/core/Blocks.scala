package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Checkpoint lifecycle.
  *
  * `Dataset.localCheckpoint(eager = true)` materializes the plan into
  * BlockManager blocks owned by an internal RDD; those blocks are freed only
  * when the ContextCleaner notices the RDD became unreachable — i.e. after a
  * driver GC. Iterative algorithms (connected components, BFS, k-means) that
  * checkpoint per round therefore pin every superseded round's blocks for
  * the rest of the session, evicting useful cache and forcing spills in a
  * long multi-query run. A fixpoint runs in a [[Scope]] ([[scoped]]),
  * which frees them eagerly.
  *
  * Safety contract (the scope's): a frame is freed only when it was made
  * by the scope ([[Scope.compact]], [[Scope.local]], [[Scope.persist]]) or
  * handed up by a scope nested inside it, AND nothing the caller declared
  * live still reads it — judged from the `LogicalRDD` leaves of the live
  * frames' analyzed plans (a local checkpoint has no lineage, so a freed
  * block cannot be recomputed) and, for a persisted frame, from a subplan
  * with the same result. [[Scope.keep]] declares the live set once per
  * round; on exit, normal or thrown, everything the returned value does not
  * read is freed, and what it does read passes to the enclosing scope on
  * this thread (or, at the top, to the caller, who may release it with
  * [[free]]). Inputs the scope did not make are never freed.
  */
object Blocks {

  /** Unpersist the checkpoint blocks reachable from `df`'s analyzed plan.
    * No-op for frames that contain no `LogicalRDD` leaf. For callers that
    * release a result handed to them; a fixpoint uses a [[Scope]]. */
  def free(df: DataFrame): Unit = checkpointRdds(df).foreach(unpersist)

  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  private def unpersist(rdd: RDD[_]): Unit =
    if (rdd.getStorageLevel.isValid) rdd.unpersist(blocking = false)

  private val current = new ThreadLocal[Scope]

  /** Run `body` in a fresh [[Scope]] nested in this thread's current one;
    * see the safety contract above. */
  def scoped[T](body: Scope => T): T = {
    val parent = Option(current.get())
    val s = new Scope
    current.set(s)
    var out: Option[T] = None
    try { out = Some(body(s)); out.get }
    finally {
      parent.fold(current.remove())(current.set)
      s.close(out, parent)
    }
  }

  /** The frames one fixpoint owns: checkpoint RDDs and persisted frames. */
  final class Scope private[Blocks] {
    private val rdds = scala.collection.mutable.LinkedHashMap[Int, RDD[_]]()
    private val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()

    /** [[Blocks.compactCheckpoint]], owned by this scope. */
    def compact(df: DataFrame): DataFrame = own(compactCheckpoint(df))

    /** `localCheckpoint(eager = true)`, owned by this scope. */
    def local(df: DataFrame): DataFrame = own(df.localCheckpoint(eager = true))

    /** `persist(MEMORY_AND_DISK)`, owned by this scope. */
    def persist(df: DataFrame): DataFrame = {
      cached += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

    private def own(ck: DataFrame): DataFrame = {
      checkpointRdds(ck).foreach(r => rdds(r.id) = r)
      ck
    }

    /** Free every owned frame none of `live` reads (frames, or tuples,
      * collections and case classes of them). Called once per round with
      * the loop's whole state, its invariants included. */
    def keep(live: Any*): Unit = {
      val (readRdds, readCached) = reads(live)
      rdds.keySet.toSeq.filterNot(readRdds)
        .foreach(id => unpersist(rdds.remove(id).get))
      val dead = cached.filterNot(readCached)
      dead.foreach(_.unpersist(blocking = false))
      cached --= dead
    }

    /** Stop owning `df` without freeing it: the caller takes it over. */
    private[graft] def disown(df: DataFrame): DataFrame = {
      checkpointRdds(df).foreach(r => rdds.remove(r.id))
      cached --= cached.filter(_ eq df)
      df
    }

    /** The checkpoint RDD ids `live` reads, and a test for persisted frames. */
    private def reads(live: Seq[Any]): (Set[Int], DataFrame => Boolean) = {
      val plans = live.flatMap(frames).map(_.queryExecution.analyzed)
      (plans.flatMap(_.collect { case lr: LogicalRDD => lr.rdd.id }).toSet,
        c => plans.exists(_.exists(_.sameResult(c.queryExecution.analyzed))))
    }

    private[Blocks] def close(result: Option[Any], parent: Option[Scope]): Unit = {
      keep(result)
      parent.foreach { p => p.rdds ++= rdds; p.cached ++= cached }
      rdds.clear(); cached.clear()
    }
  }

  private def frames(x: Any): Iterator[DataFrame] = x match {
    case d: Dataset[_] => Iterator(d.toDF())
    case a: Array[_] => a.iterator.flatMap(frames)
    case i: Iterable[_] => i.iterator.flatMap(frames)
    case p: Product => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }

  /** True when re-evaluating `df` costs no more than re-reading stored
    * rows: every node in the optimized plan is a narrow projection/filter
    * over checkpoint blocks or a local relation. Such inputs don't need a
    * defensive checkpoint before being read twice. */
  private[graft] def isRematerializable(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project}
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.optimizedPlan.collectFirst {
      case p if !p.isInstanceOf[Project] && !p.isInstanceOf[Filter] &&
        !p.isInstanceOf[LogicalRDD] && !p.isInstanceOf[LocalRelation] => p
    }.isEmpty
  }

  /** `localCheckpoint(eager = true)` with DATA-PROPORTIONAL partitioning
    * (guide §2.2; the r19 verdict's #1 item): a checkpoint whose plan has
    * no final shuffle keeps its input partition count — file-split
    * packing or a union of per-round checkpoints — so loop-carried and
    * shared frames of a few hundred rows pin core-count (or
    * sum-of-unions) near-empty blocks, and every downstream job pays one
    * task per block regardless of data. AQE only coalesces SHUFFLE
    * output; this applies the same rows-per-byte discipline to
    * checkpoint materialization: coalesce to ceil(estimatedBytes /
    * targetBytes) partitions (never increases a partition count —
    * `coalesce` is narrow and capped by the current count).
    *
    * The estimate is Catalyst's `optimizedPlan.stats.sizeInBytes` — free
    * (no job). Frames whose size the planner cannot bound report the
    * `defaultSizeInBytes` sentinel and keep their partitioning, the safe
    * side at scale. [[CkptTargetBytes]] (64 MB) mirrors AQE's advisory
    * partition size, so the target is a size class, not a core count.
    *
    * Semantics: partitioning only — every caller is a join/aggregation
    * consumer, so results are bit-identical on any layout. */
  /** Extension syntax: `df.compactCheckpoint()` ≡
    * `Blocks.compactCheckpoint(df)`. */
  implicit class CompactCheckpointOps(private val df: DataFrame)
      extends AnyVal {
    def compactCheckpoint(): DataFrame = Blocks.compactCheckpoint(df)
  }

  private val CkptTargetBytes: Long = 64L << 20

  def compactCheckpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val stats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val sentinel = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    import org.apache.spark.sql.graftbridge.CheckpointStats
    // Replacing the leaf's INHERITED estimate with the checkpoint's true
    // materialized size (withMaterializedStats) matters twice over:
    // Spark 4 bakes the origin plan's estimate into the LogicalRDD, and
    // across checkpoint generations (fixpoint loops) the estimates
    // snowball multiplicatively until stats arithmetic itself dominates
    // the driver (measured on the distributed SCC path: a round plan's
    // sizeInBytes reached 126 million BITS and cost 44 s to fold; see
    // CheckpointStats). True sizes also make this function's own
    // coalesce decision exact for every downstream checkpoint.
    // First pass: coalesce by the ESTIMATE when the planner has one (a
    // no-op when the estimate is large), then materialize. Estimates from
    // expression-heavy plans (JSON extraction over a store view) can be
    // orders of magnitude above reality, so a second look with the now
    // EXACT size re-checkpoints tiny-but-wide results down to their
    // data-proportional partition count; only a ≥2× reduction pays for
    // the extra (block-read-sized) materialization job. Big frames keep
    // their layout and just get accurate leaf stats.
    val ck = CheckpointStats.withMaterializedStats(
      if (stats >= sentinel) df.localCheckpoint(eager = true)
      else {
        val parts = ((stats + CkptTargetBytes - 1) / CkptTargetBytes)
          .max(BigInt(1)).min(BigInt(1 << 20)).toInt
        df.coalesce(parts).localCheckpoint(eager = true)
      })
    CheckpointStats.materializedInfo(ck) match {
      case Some((bytes, cur)) =>
        val parts =
          math.max(1L, (bytes + CkptTargetBytes - 1) / CkptTargetBytes).toInt
        if (parts.toLong * 2 <= cur) {
          val ck2 = CheckpointStats.withMaterializedStats(
            ck.coalesce(parts).localCheckpoint(eager = true))
          free(ck)
          ck2
        } else ck
      case None => ck
    }
  }
}
