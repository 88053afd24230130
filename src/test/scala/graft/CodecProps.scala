package graft

import graft.codec._
import graft.functions.GenTokens
import org.scalacheck.{Gen, Prop, Properties}

/** Property suite (SURVEY.md §5 plan #2): ∀ token arrays — empty, single,
  * constant runs, max-int, sorted, adversarial — `decode(encode(xs)) == xs`
  * bit-identical for every codec and the auto-selected one. The analog of
  * the reference's write∘read `frame_equal` roundtrip
  * (crates/python/python_tests/test_output_formats.py:26-41) promoted to a
  * scalacheck law. Runs under sbt via scalacheck's built-in test framework.
  */
object CodecProps extends Properties("codec") {

  private val tokenArrays: Gen[Array[Int]] = Gen.oneOf(
    Gen.containerOf[Array, Int](Gen.chooseNum(Int.MinValue, Int.MaxValue)),
    Gen.containerOf[Array, Int](Gen.chooseNum(0, 50257)),          // vocab-ish
    Gen.chooseNum(0, 200).flatMap(n =>
      Gen.chooseNum(0, 9).map(v => Array.fill(n)(v))),             // const run
    Gen.chooseNum(0, 300).map(n => Array.tabulate(n)(i => i * 2)), // sorted
    Gen.chooseNum(0, 300).map(n =>
      Array.tabulate(n)(i => (1 + i % 9) * 111111111))             // stringy
  )

  for (codec <- Codecs.all) {
    property(s"${codec.name} roundtrip law") = Prop.forAll(tokenArrays) { xs =>
      Codecs.decode(codec.encode(xs)).sameElements(xs)
    }
  }

  property("auto roundtrip law + deterministic bytes") =
    Prop.forAll(tokenArrays) { xs =>
      val b1 = CodecSelector.encodeAuto(xs)
      val b2 = CodecSelector.encodeAuto(xs)
      java.util.Arrays.equals(b1, b2) && Codecs.decode(b1).sameElements(xs)
    }

  /** Rows of all six `Tokens` profiles (doc_id % 6), long enough to cross
    * the selector's FSST probe threshold and its 1 KiB training sample, plus
    * adversarial shapes: Int.MinValue and mixed-sign wide values.
    */
  private val selectorArrays: Gen[Array[Int]] = Gen.oneOf(
    for {
      d <- Gen.chooseNum(0L, 100000000L)
      n <- Gen.frequency(3 -> Gen.chooseNum(200, 1200), 1 -> Gen.chooseNum(0, 9000))
    } yield GenTokens.generate(d, n),
    Gen.chooseNum(0, 600).map(n =>
      Array.tabulate(n)(i => if (i % 3 == 0) Int.MinValue else Int.MaxValue - i * 7919)),
    Gen.containerOfN[Array, Int](300, Gen.chooseNum(-1000000000, 1000000000)),
    tokenArrays)

  // the selector hands its FSST probe's table to the encode: the blob must
  // be exactly the one the chosen codec writes on its own
  property("auto blob = the chosen codec's own blob, and roundtrips") =
    Prop.forAll(selectorArrays) { xs =>
      val blob = CodecSelector.encodeAuto(xs)
      java.util.Arrays.equals(blob, CodecSelector.choose(xs).encode(xs)) &&
        Codecs.decode(blob).sameElements(xs)
    }

  property("stats match brute-force facts") = Prop.forAll(tokenArrays) { xs =>
    val st = ColumnStats.of(xs)
    if (xs.isEmpty) st.n == 0
    else {
      val runs = 1 + (1 until xs.length).count(i => xs(i) != xs(i - 1))
      st.n == xs.length &&
      st.min == xs.min.toLong && st.max == xs.max.toLong &&
      st.nRuns == runs &&
      st.sorted == (xs.toSeq == xs.toSeq.sorted) &&
      (st.distinctCapped || st.nDistinct == xs.distinct.length)
    }
  }
}
