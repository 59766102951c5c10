package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Spark 4 `Dataset.localCheckpoint` bakes the ORIGIN plan's estimated
  * statistics into the checkpoint's `LogicalRDD` leaf. For iterative
  * frames (fixpoint loops that checkpoint every round) this snowballs:
  * round N's plan multiplies the inherited estimates of round N-1's
  * checkpoints at every join, the new checkpoint inherits the product,
  * and the estimate's BIT LENGTH grows exponentially with the round
  * number — after a few dozen rounds the driver spends seconds per plan
  * in BigInteger multiplications inside `SizeInBytesOnlyStatsPlanVisitor`
  * (measured: a 25-node round plan whose sizeInBytes had 126 MILLION bits
  * cost 44 s of stats arithmetic; the q_incr_scc distributed path went
  * from minutes to un-runnable). This bridge rebuilds the leaf with the
  * checkpoint's TRUE materialized size — the blocks exist, so the exact
  * number is known — which both kills the snowball and gives the planner
  * accurate sizes for broadcast decisions. It lives under
  * `org.apache.spark.sql` purely for access to `Dataset.ofRows` and
  * `LogicalRDD`, the same pattern as [[ColumnBridge]]; [[executed]]
  * builds the same kind of leaf over a plan's executed RDD.
  */
object CheckpointStats {

  /** The true materialized size (memory + disk bytes) and partition
    * count of a checkpoint frame; None when `df` is not a bare
    * checkpoint or its blocks cannot be found. */
  def materializedInfo(df: DataFrame): Option[(Long, Int)] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => (math.max(i.memSize + i.diskSize, 1L),
            lr.rdd.getNumPartitions))
      case _ => None
    }

  /** If `df` is a checkpoint (its analyzed plan is exactly a
    * `LogicalRDD` leaf), rebuild the leaf with statistics taken from the
    * materialized blocks (memory + disk bytes, minimum 1). Frames whose
    * blocks cannot be found (not yet materialized, already freed) drop
    * the inherited statistics instead — the planner then uses its
    * unknown-size default, which is bounded. Non-checkpoint frames pass
    * through untouched. */
  def withMaterializedStats(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val spark = df.sparkSession.asInstanceOf[ClassicSession]
        val bytes = spark.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize)
        val stats = bytes.filter(_ >= 0)
          .map(b => Statistics(sizeInBytes = BigInt(b.max(1L))))
        val clean = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          spark, stats, None)
        Dataset.ofRows(spark, clean)
      case _ => df
    }

  /** `df` executed once up to its final stage, as a frame over the
    * resulting RDD with `df`'s output, partitioning and estimated
    * statistics (the leaf `localCheckpoint` builds, minus the blocks).
    * Under adaptive execution `toRdd` runs the scan, shuffle-map and
    * broadcast stages here, so every later query over the frame re-reads
    * their output instead of re-running them; nothing is persisted. */
  def executed(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[_]]
    Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
