package graft.ops

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global row-numbering without a global window. `Window.orderBy()` with no
  * partition spec moves the whole input to ONE task (Spark warns
  * "No Partition Defined") — tolerable for a 100-row top-k, hostile for a
  * 10⁶-row vocabulary, and the warning noise masks real regressions in gate
  * logs. This is the standard two-phase rank instead:
  *
  *  1. range-repartition on the sort order — partition i's rows all sort
  *     before partition i+1's (ascending physical partition ids), ties never
  *     split across a boundary (the range partitioner routes by binary
  *     search on boundary keys, so equal keys share a partition); the
  *     partition count is pinned explicitly so a cache-eviction recompute
  *     reproduces the identical pid space (AQE never re-coalesces a
  *     user-counted repartition);
  *  2. a PARTITIONED window numbers rows within each partition id (this is
  *     the second — and last — data exchange: the window's
  *     ClusteredDistribution(pid) requirement re-hashes the range output,
  *     which Catalyst cannot know is already pid-clustered);
  *  3. the ranked frame is scanned ONCE for per-partition counts (≤ the
  *     pinned partition count — bounded by configuration, never by data),
  *     whose exclusive prefix offsets fold on the DRIVER and broadcast
  *     back as a tiny lookup; `rank = offset + local`.
  *
  * The two-exchange chain is materialized EXACTLY ONCE, through an eager
  * [[graft.util.Materialize]] handle (a local checkpoint), and both the
  * counts pass and the returned frame read the checkpointed blocks. This
  * is load-bearing for correctness, not just cost: each consuming action
  * builds a fresh QueryExecution whose RDDs get fresh ids, and
  * `repartitionByRange`'s reservoir-sample seed derives from the RDD id — Spark documents the boundaries as "not
  * guaranteed consistent" across such re-executions. The r5 version
  * persisted, collected counts, and unpersisted BEFORE the consumer ran,
  * so offsets from execution #1 were applied to execution #2's partition
  * ids — wrong/duplicated ranks whenever partial sampling draws different
  * boundaries (advisor-caught; gate data passed only because small
  * partitions are fully sampled). A localCheckpoint makes the split
  * immutable: a lost block fails the job instead of silently recomputing
  * under new boundaries. The checkpointed blocks for the slim ranked
  * projection stay live for the session (the price of handing back a
  * lazily-consumable frame whose bits must not move); the first cut
  * computed offsets via a DataFrame self-join, which referenced the
  * ranked subtree three times with NO exchange reuse — six shuffles of
  * the input (review-caught; OpsSpec asserts the checkpointed
  * single-materialization shape).
  */
object Ranks {

  /** Adds `rankName`: the 1-based global row number of each row under
    * `order` (a TOTAL order for deterministic results, same contract as
    * `row_number` itself). Long-typed.
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column], rankName: String): DataFrame = {
    require(order.nonEmpty, "globalRowNumber needs at least one sort column")
    val Seq(pid, lr, off) = Seq("__rk_pid", "__rk_lr", "__rk_off")
    Sampling.requireAbsent(df, pid, lr, off, rankName)
    val spark = df.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    // eager checkpoint: the range split + local numbering run ONCE, and
    // both the counts pass and the returned plan read the same immutable
    // blocks — see the class doc for why a persist/unpersist here is a
    // correctness bug, not a cost choice
    val local = Materialize.eager(df.repartitionByRange(nParts, order: _*)
      .withColumn(pid, spark_partition_id())
      .withColumn(lr,
        row_number().over(Window.partitionBy(pid).orderBy(order: _*)))).df
    val counts = local.groupBy(pid).agg(count(lit(1)).as("__rk_c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = counts.map { case (p, c) => val o = (p, acc); acc += c; o }.toSeq
    import spark.implicits._
    val offsets = offs.toDF(pid, off)
    local.join(broadcast(offsets), Seq(pid))
      .withColumn(rankName, (col(off) + col(lr)).cast("long"))
      .drop(pid, lr, off)
  }
}
