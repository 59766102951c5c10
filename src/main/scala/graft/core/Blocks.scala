package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Explicit release of `localCheckpoint` storage.
  *
  * `Dataset.localCheckpoint(eager = true)` materializes the plan into
  * BlockManager blocks owned by an internal RDD; those blocks are freed only
  * when the ContextCleaner notices the RDD became unreachable — i.e. after a
  * driver GC. Iterative algorithms (connected components, BFS, k-means) that
  * checkpoint per round therefore pin every superseded round's blocks for
  * the rest of the session, evicting useful cache and forcing spills in a
  * long multi-query run. This helper drops them eagerly.
  *
  * Safety contract: only call on frames that are themselves checkpoints (or
  * cheap projections over one) AND will never be read again — a local
  * checkpoint has no lineage, so a freed block cannot be recomputed.
  */
object Blocks {

  /** Unpersist the checkpoint blocks reachable from `df`'s analyzed plan.
    * No-op for frames that contain no `LogicalRDD` leaf. */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }.foreach { rdd =>
      if (rdd.getStorageLevel.isValid) rdd.unpersist(blocking = false)
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
    * side at scale. Tune with `spark.graft.ckpt.targetBytes` (or env
    * `SPARK_GRAFT_CKPT_TARGET_BYTES`); `0` disables compaction. The
    * default 64 MB mirrors AQE's advisory partition size, so the knob is
    * a size class, not a core count.
    *
    * Semantics: partitioning only — every caller is a join/aggregation
    * consumer, so results are bit-identical on any layout. */
  /** Extension syntax: `df.compactCheckpoint()` ≡
    * `Blocks.compactCheckpoint(df)`. */
  implicit class CompactCheckpointOps(private val df: DataFrame)
      extends AnyVal {
    def compactCheckpoint(): DataFrame = Blocks.compactCheckpoint(df)
  }

  def compactCheckpoint(df: DataFrame, targetBytes: Long = 64L << 20)
      : DataFrame = {
    val spark = df.sparkSession
    val target: Long =
      spark.conf.getOption("spark.graft.ckpt.targetBytes")
        .orElse(sys.env.get("SPARK_GRAFT_CKPT_TARGET_BYTES"))
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(targetBytes)
    if (target <= 0) return df.localCheckpoint(eager = true)
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
        val parts = ((stats + target - 1) / target)
          .max(BigInt(1)).min(BigInt(1 << 20)).toInt
        df.coalesce(parts).localCheckpoint(eager = true)
      })
    CheckpointStats.materializedInfo(ck) match {
      case Some((bytes, cur)) =>
        val parts = math.max(1L, (bytes + target - 1) / target).toInt
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
