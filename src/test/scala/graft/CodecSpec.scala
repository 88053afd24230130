package graft

import graft.codec._
import org.scalatest.funsuite.AnyFunSuite

/** Kernel unit tests (SURVEY.md §5 plan #1): golden vectors per codec, the
  * roundtrip law decode(encode(xs)) == xs on edge vectors, selector
  * behavior, and exact size-estimate checks. The scalacheck property suite
  * (plan #2) lives in [[CodecProps]].
  */
class CodecSpec extends AnyFunSuite {

  private val edgeVectors: Seq[Array[Int]] = Seq(
    Array.empty[Int],
    Array(0),
    Array(42),
    Array(Int.MaxValue),
    Array(Int.MinValue),
    Array(Int.MinValue, Int.MaxValue, 0, -1, 1),
    Array.fill(1000)(7),
    (0 until 1000).toArray,
    (0 until 1000).map(i => 1000000 - i).toArray,
    Array.tabulate(513)(i => i / 16),                 // runs
    Array.tabulate(777)(i => (i * 13) % 64),          // low cardinality
    Array.tabulate(300)(i => 4096 + (i * 40503) % 251), // narrow range
    Array.tabulate(400)(i => i * 3 + (i * 17) % 3),   // sorted ramp
    Array.tabulate(200)(i => (1 + i % 9) * 111111111 + i % 89), // stringy
    Array.tabulate(100)(i => (i * 1103515245 + 12345) % 2147480009) // random
  )

  for (codec <- Codecs.all; (xs, k) <- edgeVectors.zipWithIndex) {
    test(s"${codec.name} roundtrips edge vector #$k (n=${xs.length})") {
      val blob = codec.encode(xs)
      assert(blob(0) == codec.tag)
      assert(Codecs.decode(blob).sameElements(xs))
    }
  }

  test("auto selector roundtrips every edge vector") {
    for (xs <- edgeVectors) {
      val blob = CodecSelector.encodeAuto(xs)
      assert(Codecs.decode(blob).sameElements(xs))
    }
  }

  test("selector picks the profile-matched codec on each stripe") {
    def chosen(xs: Array[Int]): String = CodecSelector.choose(xs).name
    assert(chosen(Array.tabulate(512)(i => 100 + (i / 16) * 131 % 997)) == "rle")
    // constant array: width-0 FOR (5 B) beats RLE (6 B) — either is optimal
    assert(Set("rle", "bitpack").contains(chosen(Array.fill(512)(5))))
    // low-card shuffled, wide values -> dict
    val lowcard = Array.tabulate(512)(i => ((i * 131) % 64) * 10000019)
    assert(chosen(lowcard) == "dict")
    // narrow range, high distinct -> bitpack/FOR
    val narrow = Array.tabulate(512)(i => 4096000 + (i * 40503) % 251)
    assert(Set("bitpack", "dict").contains(chosen(narrow)))
    // sorted small deltas -> fordelta
    val sorted = Array.tabulate(512)(i => i * 3 + (i * 17) % 3)
    assert(chosen(sorted) == "fordelta")
    // stringy rep-digit, high distinct, wide range -> fsst
    val stringy = Array.tabulate(512)(i => (1 + i % 9) * 111111111 + (i * 7) % 89)
    assert(chosen(stringy) == "fsst")
  }

  test("selector estimates are close to actual encoded sizes") {
    for (xs <- edgeVectors if xs.length > 0) {
      val st = ColumnStats.of(xs)
      for ((codec, est) <- CodecSelector.estimates(xs, st)
           if codec != FsstCodec) { // fsst est is a probe, checked separately
        val actual = codec.encode(xs).length
        assert(est == actual,
          s"${codec.name} est=$est actual=$actual n=${xs.length}")
      }
    }
  }

  test("ColumnStats one-pass facts") {
    val xs = Array(3, 3, 3, 1, 1, 9)
    val st = ColumnStats.of(xs)
    assert(st.n == 6 && st.min == 1 && st.max == 9)
    assert(st.nRuns == 3 && st.nDistinct == 3 && !st.sorted)
    assert(st.minDelta == -2 && st.maxDelta == 8)
    val sorted = ColumnStats.of(Array(1, 2, 2, 5))
    assert(sorted.sorted && sorted.minDelta == 0 && sorted.maxDelta == 3)
    assert(ColumnStats.of(Array.empty[Int]).n == 0)
  }

  test("bit writer/reader roundtrip at all widths") {
    for (width <- 0 to 64) {
      val vals: Seq[Long] =
        if (width == 0) Seq(0L, 0L, 0L)
        else {
          val max = if (width == 64) -1L else (1L << width) - 1
          Seq(0L, 1L, max, max / 2, max - 1).map(_ & max)
        }
      val w = new ByteWriter()
      val bw = new BitWriter(w)
      vals.foreach(v => bw.write(v, width))
      bw.finish()
      val br = new BitReader(new ByteReader(w.result()))
      vals.foreach(v => assert(br.read(width) == v, s"width=$width v=$v"))
    }
  }

  test("varint / zigzag roundtrip + length formulas") {
    val vals = Seq(0L, 1L, -1L, 127L, 128L, -128L, Long.MaxValue, Long.MinValue,
      Int.MaxValue.toLong, Int.MinValue.toLong)
    val w = new ByteWriter()
    vals.foreach(w.writeZigZag)
    val r = new ByteReader(w.result())
    vals.foreach(v => assert(r.readZigZag() == v))
    vals.foreach { v =>
      val w2 = new ByteWriter(); w2.writeZigZag(v)
      assert(w2.size == Bytes.zigZagLen(v))
    }
    // varLen at every 7-bit group boundary, both sides
    (0 until 64).flatMap(s => Seq(1L << s, (1L << s) - 1)).foreach { v =>
      val w3 = new ByteWriter(); w3.writeVarLong(v)
      assert(w3.size == Bytes.varLen(v), s"v=$v")
    }
  }

}
