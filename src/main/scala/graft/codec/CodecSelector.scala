package graft.codec

/** Per-array column statistics, computed in one pass. Generalizes the
  * reference's per-file parquet statistics + compression choice
  * (cryo: crates/freeze/src/types/dataframes/export.rs:27-42,
  * crates/cli/src/parse/file_output.rs:102-136) to per-column, data-driven
  * codec auto-selection (BASELINE.json north_star: "cardinality, run-length
  * histogram, value range, sortedness").
  */
final case class ColumnStats(
    n: Int,
    min: Long,
    max: Long,
    nRuns: Int,
    nDistinct: Int,        // exact up to DistinctCap, then capped
    distinctCapped: Boolean,
    sorted: Boolean,       // non-decreasing
    minDelta: Long,
    maxDelta: Long,
    rleBytes: Long,        // exact RLE payload size
    dictValueBytes: Long   // exact zigzag bytes of the dictionary values
)

object ColumnStats {
  val DistinctCap = 4096

  val empty: ColumnStats =
    ColumnStats(0, 0L, 0L, 0, 0, distinctCapped = false, sorted = true, 0L, 0L, 1L, 0L)

  def of(xs: Array[Int]): ColumnStats = {
    if (xs.isEmpty) return empty
    var mn = xs(0).toLong
    var mx = mn
    var nRuns = 1
    var sorted = true
    var minD = Long.MaxValue
    var maxD = Long.MinValue
    var rleBytes = 0L
    var dictBytes = Bytes.zigZagLen(xs(0).toLong)
    val seen = new IntHashSet(math.min(xs.length, DistinctCap))
    seen.add(xs(0))
    var capped = false
    var runStart = 0
    var i = 1
    while (i < xs.length) {
      val v = xs(i).toLong
      val prev = xs(i - 1).toLong
      if (v < mn) mn = v
      if (v > mx) mx = v
      val d = v - prev
      if (d < minD) minD = d
      if (d > maxD) maxD = d
      if (d < 0) sorted = false
      if (v != prev) {
        rleBytes += Bytes.zigZagLen(prev) + Bytes.varLen((i - runStart).toLong)
        runStart = i
        nRuns += 1
      }
      if (!capped) {
        if (seen.add(xs(i))) dictBytes += Bytes.zigZagLen(v)
        if (seen.size >= DistinctCap) capped = true
      }
      i += 1
    }
    rleBytes += Bytes.zigZagLen(xs(xs.length - 1).toLong) +
      Bytes.varLen((xs.length - runStart).toLong)
    if (xs.length == 1) { minD = 0L; maxD = 0L }
    ColumnStats(xs.length, mn, mx, nRuns, seen.size, capped, sorted,
      minD, maxD, rleBytes, dictBytes)
  }
}

/** Cost-based codec auto-selector: exact payload-size formulas for
  * plain/RLE/FOR-bitpack/delta/dict from [[ColumnStats]], plus a bounded
  * FSST probe when the cheap codecs leave headroom. Pure function of the
  * array → choice is deterministic across parallelism levels (SURVEY.md §7
  * "Hard parts" #4). When FSST wins, the blob is written with the table
  * its probe trained.
  */
object CodecSelector extends Serializable {

  /** The integer codecs in selection order: on equal sizes the earlier
    * one wins, and FSST (probed last) must be strictly smaller.
    */
  private val IntegerCodecs: Array[Codec] =
    Array(PlainCodec, RleCodec, BitPackCodec, ForDeltaCodec, DictCodec)

  /** Exact blob size (incl. the 1-byte tag) of an integer codec, or -1
    * when it is not a candidate for this array.
    */
  private def exactSize(c: Codec, xs: Array[Int], st: ColumnStats): Long = {
    val n = st.n
    val nLen = Bytes.varLen(n.toLong).toLong
    if (c eq PlainCodec) 1L + nLen + 4L * n
    else if (n == 0) -1L
    else if (c eq RleCodec) 1L + nLen + st.rleBytes
    else if (c eq BitPackCodec)
      1L + nLen + Bytes.zigZagLen(st.min) + 1L + (n.toLong * Bytes.bitsFor(st.max - st.min) + 7) / 8
    else if (c eq ForDeltaCodec)
      1L + nLen + Bytes.zigZagLen(xs(0).toLong) +
        (if (n == 1) 0L
         else Bytes.zigZagLen(st.minDelta) + 1L +
           ((n - 1).toLong * Bytes.bitsFor(st.maxDelta - st.minDelta) + 7) / 8)
    else if (st.distinctCapped || st.nDistinct >= n) -1L
    else
      1L + nLen + Bytes.varLen(st.nDistinct.toLong) + st.dictValueBytes + 1L +
        (n.toLong * Bytes.bitsFor((st.nDistinct - 1).toLong) + 7) / 8
  }

  // FSST only pays off when the best integer codec still needs ≳2.5 B/token
  // (decimal strings must compress below that) and the array is long
  // enough to amortize a serialized symbol table; probe a bounded sample.
  private def probesFsst(n: Int, bestInteger: Long): Boolean =
    n >= 256 && bestInteger > n.toLong * 5 / 2

  /** Estimated total blob size (incl. 1-byte tag) per candidate codec. */
  def estimates(xs: Array[Int], st: ColumnStats): Seq[(Codec, Long)] = {
    val ints = IntegerCodecs.toSeq.map(c => c -> exactSize(c, xs, st)).filter(_._2 >= 0)
    if (probesFsst(st.n, ints.map(_._2).min)) ints :+ (FsstCodec -> FsstCodec.probe(xs).size)
    else ints
  }

  /** The cheapest codec, and its FSST probe when FSST won (else null). */
  private final class Choice(val codec: Codec, val fsst: FsstCodec.Probe)

  private def select(xs: Array[Int], st: ColumnStats): Choice = {
    var best: Codec = PlainCodec
    var bestSize = Long.MaxValue
    var i = 0
    while (i < IntegerCodecs.length) {
      val size = exactSize(IntegerCodecs(i), xs, st)
      if (size >= 0 && size < bestSize) { best = IntegerCodecs(i); bestSize = size }
      i += 1
    }
    if (probesFsst(st.n, bestSize)) {
      val p = FsstCodec.probe(xs)
      if (p.size < bestSize) return new Choice(FsstCodec, p)
    }
    new Choice(best, null)
  }

  def choose(xs: Array[Int]): Codec = choose(xs, ColumnStats.of(xs))

  def choose(xs: Array[Int], st: ColumnStats): Codec = select(xs, st).codec

  /** Auto-encode: choose + encode. The blob's tag records the choice. */
  def encodeAuto(xs: Array[Int]): Array[Byte] = {
    val c = select(xs, ColumnStats.of(xs))
    if (c.fsst != null) FsstCodec.encodeWith(xs, c.fsst) else c.codec.encode(xs)
  }
}
