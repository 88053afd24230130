package graftbench

import org.apache.spark.sql.{DataFrame, Row}

/** The ops_session operators and their output fingerprint. They read the
  * `documents`, `events` and `embeddings` tables in `perfbench/data`, a
  * copy of the project's sf0.01 test tables (500 documents, 10,000 events,
  * 500 embeddings), kept in the benchmark so that it reads nothing outside
  * its checkout.
  */
object Ops {

  val DataDir = "perfbench/data"

  val Operators: Seq[String] = Seq(
    "bpe_learn", "bpe_apply", "dedup_clusters", "dedup_verified",
    "ngram_jaccard", "corpus_sample", "events_funnel", "events_retention",
    "vocab_coverage", "ann_ivf_topk")

  /** Order-insensitive fingerprint of a result: (rows, sum of row hashes). */
  final case class Fingerprint(rows: Long, hash: Long) {
    override def toString: String = s"$rows:$hash"
  }

  /** Runs the operator's own physical plan to exhaustion, hashing every
    * column of every row on the way, so the check costs no second run.
    */
  def exhaust(df: DataFrame): Fingerprint = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("rows")
    val hash = sc.longAccumulator("hash")
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      rows.add(n)
      hash.add(h)
    }
    Fingerprint(rows.value, hash.value)
  }

  private def valueHash(v: Any): Int = v match {
    case null => 0x5bd1e995
    case b: Array[Byte] => java.util.Arrays.hashCode(b)
    case r: Row => rowHash(r).toInt
    case s: scala.collection.Seq[_] =>
      scala.util.hashing.MurmurHash3.orderedHash(s.map(valueHash))
    case m: scala.collection.Map[_, _] =>
      scala.util.hashing.MurmurHash3.unorderedHash(m.map { case (k, x) => (valueHash(k), valueHash(x)) })
    case x => x.##
  }

  private def rowHash(r: Row): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < r.length) { h = 31 * h + valueHash(r.get(i)); i += 1 }
    h * 0x9E3779B97F4A7C15L
  }
}
