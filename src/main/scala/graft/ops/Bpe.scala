package graft.ops

import graft.util.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import scala.annotation.tailrec

/** Distributed BPE tokenizer training — the corpus-scale merge-learning
  * loop (Sennrich et al., ACL'16 §3.2) over the engine's token tables:
  * each round counts every adjacent token pair across the corpus, picks
  * the most frequent under the (count DESC, lhs ASC, rhs ASC) total
  * order, and rewrites the corpus with the native [[graft.functions.BpeMerge]]
  * kernel. This is the operator a training pipeline runs BEFORE any of
  * the token tables exist (reference scope note: cryo has no tokenizer —
  * builder-mandate surface, like the dedup family).
  *
  * Scale shape, per round:
  *   - pair extraction is row-local (posexplode of a slice + element_at —
  *     all codegen'd; the array never crosses an exchange),
  *   - the only shuffle is the slim (lhs, rhs) count aggregation with
  *     map-side combine — pair cardinality, not corpus size,
  *   - the argmax plans as TakeOrderedAndProject (no global sort),
  *   - the merge rewrite is one codegen'd pass per row.
  * Each round's merged corpus is MATERIALIZED (a lazy
  * [[graft.util.Materialize]] handle, so the round's single action — the
  * argmax collect — doubles as the materialization), and round r reads
  * the previous round's stored arrays plus ONE merge kernel — the r5
  * version recomputed the corpus from the source scan through r stacked
  * kernels every round (token GENERATION plus Θ(k²) kernel passes over
  * the run; measured as the dominant cost of both bpe gate queries). The
  * superseded round's blocks are freed once the next round's argmax has
  * materialized its successor. Every CheckpointEvery rounds the corpus
  * materializes through `Materialize.barrier` instead (the CC-loop
  * pattern — an eager checkpoint re-wrap that also stops Spark 4's
  * originStats carry-through), which bounds both the logical-plan depth
  * and the eviction-recompute depth. Result-invisible (same rows),
  * spec-pinned by the merged ≡ applyMerges equality in BpeSpec past the
  * boundary.
  */
object Bpe {

  /** First fresh symbol id: 2^31, one above the int32 token domain, so
    * learned ids can never collide with input tokens.
    */
  val NewIdBase: Long = 1L << 31

  /** Materialize the merged corpus every this-many learned merges (see
    * the object scaladoc). Bounded kernel-stack depth between barriers;
    * the gate's 6-round run never crosses it, so gate plans are
    * barrier-free.
    */
  val CheckpointEvery: Int = 8

  /** One learned merge: replace adjacent (lhs, rhs) with new_id. Field
    * names are the gate query's output columns ("left"/"right" are SQL
    * keywords — lhs/rhs keeps the oracle quoting-free).
    */
  final case class Merge(merge_rank: Long, lhs: Long, rhs: Long,
      pair_count: Long, new_id: Long)

  /** Adjacent-pair frequency table of a (doc_id, tokens array<bigint>)
    * corpus: `(lhs, rhs, pair_count)`. Row-local expansion; the single
    * shuffle is the pair-count aggregation.
    */
  def pairCounts(corpus: DataFrame): DataFrame =
    corpus
      .filter(size(col("tokens")) >= 2)
      .select(
        posexplode(slice(col("tokens"), lit(1), size(col("tokens")) - 1))
          .as(Seq("j", "lhs")),
        col("tokens"))
      .select(col("lhs"),
        element_at(col("tokens"), col("j") + 2).as("rhs"))
      .groupBy("lhs", "rhs")
      .agg(count(lit(1)).as("pair_count"))

  /** Learn up to `nMerges` merges over `tokens` (needs `doc_id` and a
    * non-nullable-element `tokens` array column; int32 arrays are widened
    * to bigint once up front). Returns the merge table in learned order
    * and the fully merged corpus (doc_id, tokens array<bigint>). Stops
    * early if the corpus runs out of adjacent pairs. Deterministic: the
    * argmax order is total, so reruns learn the identical table.
    */
  def learnMerges(tokens: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1 && nMerges <= 4096,
      s"nMerges must be in [1, 4096]: $nMerges")
    graft.functions.GraftFunctions.register(tokens.sparkSession)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    // `corpus` is materialized; merge `m` is the round's argmax
    @tailrec def round(corpus: Materialize.Handle, m: Merge): DataFrame = {
      merges += m
      val merged = applyMerge(corpus.df, m)
      // the FINAL corpus is returned as a one-kernel plan over the last
      // round's live blocks, so a single downstream consumption pays no
      // extra materialization (the last blocks strand for the session —
      // the price of a lazily-consumable result whose hot path must not
      // re-run k kernels plus the generator; MEMORY_AND_DISK spills under
      // pressure rather than dropping blocks)
      if (merges.size == nMerges) merged
      else {
        // bound the logical-plan and eviction-recompute depth; on barrier
        // rounds the barrier IS the materialization (a lazy checkpoint
        // first would write a second corpus-sized block set only to free
        // it unread)
        val next =
          if (merges.size % CheckpointEvery == 0) Materialize.barrier(merged)
          else Materialize.lazily(merged)
        val top = nextMerge(pairCounts(next.df), merges.size)
        // that argmax materialized `next`, which read `corpus`: it is done
        corpus.release()
        top match {
          case Some(m2) => round(next, m2)
          case None => next.df
        }
      }
    }
    // The round-0 corpus (scan + token generation + widening cast) is
    // materialized too: round 0's argmax does it, and no later round ever
    // re-runs the generator.
    val corpus = Materialize.lazily(longTokens(tokens))
    val merged = nextMerge(pairCounts(corpus.df), 0) match {
      case Some(m) => round(corpus, m)
      case None => corpus.df
    }
    (merges.toSeq, merged)
  }

  /** `(doc_id, tokens array<bigint>)`: the trainer's corpus, its int32
    * tokens widened once up front.
    */
  private def longTokens(tokens: DataFrame): DataFrame =
    tokens.select(col("doc_id"),
      col("tokens").cast(ArrayType(LongType, containsNull = false)).as("tokens"))

  /** The round-`rank` merge: the argmax of `counts` under the (count DESC,
    * lhs ASC, rhs ASC) total order, or None once no pair is left.
    */
  private def nextMerge(counts: DataFrame, rank: Int): Option[Merge] =
    counts.orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
      .limit(1).collect().headOption
      .map(t => Merge(rank.toLong, t.getLong(0), t.getLong(1), t.getLong(2), NewIdBase + rank))

  /** Rewrite the corpus under one merge (the native greedy kernel). */
  def applyMerge(corpus: DataFrame, m: Merge): DataFrame =
    corpus.withColumn("tokens",
      call_function("bpe_merge", col("tokens"),
        lit(m.lhs), lit(m.rhs), lit(m.new_id)))

  /** Apply an already-learned merge table in learned order — the
    * "tokenize with a trained BPE" path. One projection; Catalyst folds
    * the k kernels into a single codegen stage.
    */
  def applyMerges(tokens: DataFrame, merges: Seq[Merge]): DataFrame = {
    graft.functions.GraftFunctions.register(tokens.sparkSession)
    merges.sortBy(_.merge_rank).foldLeft(longTokens(tokens))(applyMerge)
  }
}
