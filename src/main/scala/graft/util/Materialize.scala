package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one way an operator materializes an intermediate frame. Every form
  * is a local checkpoint, so its blocks are RDD-keyed: invisible to any
  * other plan. A `persist` would instead register the PLAN in the
  * session's CacheManager, where an identical plan built by a later call
  * (a bench rep, a sibling query) silently resolves to this call's data —
  * cross-invocation result reuse (seen: bpe_apply hitting bpe_learn's
  * cache).
  *
  * Each form returns a [[Materialize.Handle]]: the frame to read plus the
  * release of the blocks that frame reads. Local-checkpoint blocks cannot
  * be recomputed once dropped, so release a handle only after the last
  * action that reads it — and, when a lazily materialized successor reads
  * it, only after the action that materializes that successor.
  */
object Materialize {

  /** A materialized frame. `release()` frees the blocks `df` reads, which
    * after a [[barrier]] are not `df`'s own: the re-wrapped frame owns no
    * blocks, its checkpoint does.
    */
  final class Handle private[Materialize] (val df: DataFrame,
      private[Materialize] val blocks: RDD[_]) {
    def release(): Unit = blocks.unpersist(blocking = false)
  }

  /** Lazy: the first action over `df`, or over a plan built on it, stores
    * the blocks. Use it where the next action should double as the
    * materialization.
    */
  def lazily(df: DataFrame): Handle = own(df.localCheckpoint(eager = false))

  /** Eager: one job stores the blocks now. */
  def eager(df: DataFrame): Handle = own(df.localCheckpoint(eager = true))

  /** Eager, and the returned frame drops the source plan's statistics.
    *
    * A local checkpoint truncates the lineage but copies the origin plan's
    * `Statistics` into the new `LogicalRDD` (`originStats`). In an
    * iterative loop whose step joins the checkpointed frame with itself,
    * Catalyst's size-only join estimate MULTIPLIES the two children's
    * `sizeInBytes` (BigInt), so the carried estimate squares every round:
    * its bit-length doubles, and by round ~17 the driver main thread sits
    * in million-bit `BigInteger.multiplyToomCook3` for minutes per round
    * (jstack-verified on the 51.5k-doc stress graph; per-round wall time
    * grew a clean ×2.5/round from 0.14s to 88s while row counts stayed
    * constant). Rebuilding the frame from the checkpointed RDD through the
    * public `createDataFrame` path yields a LogicalRDD with NO origin
    * stats — each round's estimates then derive from constant leaf
    * defaults and stay a few machine words wide. The Row round-trip costs
    * one extra (de)serialization per consumer over slim rows — linear and
    * negligible next to the shuffles it sits between.
    */
  def barrier(df: DataFrame): Handle = {
    val cp = eager(df)
    new Handle(df.sparkSession.createDataFrame(cp.df.rdd, cp.df.schema), cp.blocks)
  }

  // a checkpoint's blocks belong to its LogicalRDD's RDD, which the
  // CacheManager does not track: `Dataset.unpersist` would free nothing
  private def own(cp: DataFrame): Handle = cp.queryExecution.analyzed match {
    case l: LogicalRDD => new Handle(cp, l.rdd)
  }
}
