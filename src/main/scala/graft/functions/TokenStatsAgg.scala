package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Per-group token-column statistics aggregate (SURVEY.md §2.8: the
  * reference's chunk-stats fold, crates/freeze/src/types/chunk_ops.rs:56-103,
  * generalized to the codec selector's inputs): token counts, value range,
  * run counts, a log2 run-length histogram, and sortedness — merged
  * associatively across rows and partitions (Spark's partial/final
  * two-phase aggregation applies automatically).
  *
  * Used for partition-level codec recommendation and lineage: the per-row
  * auto-selector stays authoritative for encoding (bit-identity is
  * per-row), while this aggregate summarizes *why* a partition's rows chose
  * what they chose.
  */
object TokenStatsAgg {

  /** Mutable-by-copy aggregation buffer; histo(i) counts runs with length
    * in [2^i, 2^(i+1)).
    */
  final case class Buf(
      nRows: Long, nTokens: Long,
      min: Long, max: Long,
      nRuns: Long, histo: Array[Long],
      sortedRows: Long)

  final case class Stats(
      n_rows: Long, n_tokens: Long,
      min: Long, max: Long,
      n_runs: Long, run_len_histo: Seq[Long],
      sorted_rows: Long, avg_run_len: Double)

  val HistoBuckets = 16

  val agg: Aggregator[Seq[Int], Buf, Stats] = new Aggregator[Seq[Int], Buf, Stats] {
    def zero: Buf = Buf(0L, 0L, Long.MaxValue, Long.MinValue, 0L,
      new Array[Long](HistoBuckets), 0L)

    def reduce(b: Buf, tokens: Seq[Int]): Buf = {
      val xs = tokens
      if (xs.isEmpty) return b.copy(nRows = b.nRows + 1, sortedRows = b.sortedRows + 1)
      var mn = b.min
      var mx = b.max
      var nRuns = 0L
      var sorted = true
      val histo = b.histo.clone()
      var runLen = 1
      var i = 0
      var prev = 0
      xs.foreach { v =>
        if (v < mn) mn = v
        if (v > mx) mx = v
        if (i > 0) {
          if (v < prev) sorted = false
          if (v == prev) runLen += 1
          else {
            nRuns += 1
            histo(bucket(runLen)) += 1
            runLen = 1
          }
        }
        prev = v
        i += 1
      }
      nRuns += 1
      histo(bucket(runLen)) += 1
      Buf(b.nRows + 1, b.nTokens + xs.length, mn, mx, b.nRuns + nRuns, histo,
        b.sortedRows + (if (sorted) 1 else 0))
    }

    def merge(a: Buf, b: Buf): Buf = {
      val histo = a.histo.clone()
      var i = 0
      while (i < HistoBuckets) { histo(i) += b.histo(i); i += 1 }
      Buf(a.nRows + b.nRows, a.nTokens + b.nTokens,
        math.min(a.min, b.min), math.max(a.max, b.max),
        a.nRuns + b.nRuns, histo, a.sortedRows + b.sortedRows)
    }

    def finish(b: Buf): Stats = Stats(
      b.nRows, b.nTokens,
      if (b.nTokens == 0) 0L else b.min,
      if (b.nTokens == 0) 0L else b.max,
      b.nRuns, b.histo.toSeq, b.sortedRows,
      if (b.nRuns == 0) 0.0 else b.nTokens.toDouble / b.nRuns)

    def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    def outputEncoder: Encoder[Stats] = Encoders.product[Stats]
  }

  private def bucket(runLen: Int): Int =
    math.min(HistoBuckets - 1, 63 - java.lang.Long.numberOfLeadingZeros(runLen.toLong).toInt)

  /** DataFrame-facing column: token_stats_agg(tokens). */
  def column(tokens: Column): Column =
    org.apache.spark.sql.functions.udaf(agg).apply(tokens)
}
