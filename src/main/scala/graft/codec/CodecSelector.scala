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
    val seen = new IntHashSet(math.min(xs.length, 256))
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
  * "Hard parts" #4).
  */
object CodecSelector extends Serializable {

  /** Estimated total blob size (incl. 1-byte tag) per codec. */
  def estimates(xs: Array[Int], st: ColumnStats): Seq[(Codec, Long)] = {
    val n = st.n
    val nLen = Bytes.varLen(n.toLong).toLong
    val plain = 1L + nLen + 4L * n
    if (n == 0) return Seq(PlainCodec -> plain)
    val rle = 1L + nLen + st.rleBytes
    val packWidth = Bytes.bitsFor(st.max - st.min)
    val pack = 1L + nLen + Bytes.zigZagLen(st.min) + 1L + (n.toLong * packWidth + 7) / 8
    val deltaWidth = Bytes.bitsFor(st.maxDelta - st.minDelta)
    val delta = 1L + nLen + Bytes.zigZagLen(xs(0).toLong) +
      (if (n == 1) 0L
       else Bytes.zigZagLen(st.minDelta) + 1L + ((n - 1).toLong * deltaWidth + 7) / 8)
    val base = Seq[(Codec, Long)](
      PlainCodec -> plain, RleCodec -> rle, BitPackCodec -> pack, ForDeltaCodec -> delta)
    val withDict =
      if (st.distinctCapped || st.nDistinct >= n) base
      else {
        val idxWidth = Bytes.bitsFor((st.nDistinct - 1).toLong)
        val dict = 1L + nLen + Bytes.varLen(st.nDistinct.toLong) +
          st.dictValueBytes + 1L + (n.toLong * idxWidth + 7) / 8
        base :+ (DictCodec -> dict)
      }
    // FSST only pays off when the best integer codec still needs ≳2.5 B/token
    // (decimal strings must compress below that) and the array is long
    // enough to amortize a serialized symbol table; probe a bounded sample.
    val bestSoFar = withDict.map(_._2).min
    if (n >= 256 && bestSoFar > n.toLong * 5 / 2)
      withDict :+ (FsstCodec -> FsstCodec.probeSize(xs))
    else withDict
  }

  def choose(xs: Array[Int]): Codec = choose(xs, ColumnStats.of(xs))

  def choose(xs: Array[Int], st: ColumnStats): Codec = {
    var best: Codec = PlainCodec
    var bestSize = Long.MaxValue
    estimates(xs, st).foreach { case (c, sz) =>
      if (sz < bestSize) { best = c; bestSize = sz }
    }
    best
  }

  /** Auto-encode: choose + encode. The blob's tag records the choice. */
  def encodeAuto(xs: Array[Int]): Array[Byte] = choose(xs).encode(xs)
}
