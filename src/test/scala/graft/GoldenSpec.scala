package graft

import graft.codec._
import graft.functions.GenTokens
import org.scalatest.funsuite.AnyFunSuite

/** Golden-file suite (FIXTURES.md §2 / SURVEY.md §5 plan #3): committed
  * expected codec choices, exact encoded byte sizes, and decoded-stream
  * checksums for the deterministic fixture — any unintended change to the
  * wire format, selector, or generator flips these.
  *
  * Regenerate intentionally with:
  *   sbt -batch "testOnly graft.GoldenSpec" -DGOLDEN_REGEN=1 (prints rows)
  */
class GoldenSpec extends AnyFunSuite {

  /** Deterministic fixture mirroring the row profiles (doc_id 0..59). */
  private def fixture(d: Int): Array[Int] = {
    val n = if (d % 20 == 0) 4096 else 16 + (d * 37) % 521
    Array.tabulate(n) { i =>
      ((d % 6) match {
        case 0 => (d + (i / 16) * 131) % 997
        case 1 => (d * 7 + i * 13) % 64
        case 2 => (d % 1000) * 4096 + ((d.toLong * 2654435761L + i * 40503) % 251)
        case 3 => i * 3 + (d * 31 + i * 17) % 3
        case 4 => (1 + (d + i) % 9) * 111111111 + (d * 11 + i * 7) % 89
        case _ => (d.toLong * 1103515245 + i.toLong * i * 999983 + i * 12345) % 2147480009
      }).toInt
    }
  }

  private def checksum(xs: Array[Int]): Long = {
    var s = 0L
    var i = 0
    while (i < xs.length) { s += (i + 1).toLong * xs(i); i += 1 }
    s % 1000000007L
  }

  private def currentRows: Seq[String] = (0 until 60).map { d =>
    val xs = fixture(d)
    val blob = CodecSelector.encodeAuto(xs)
    val dec = Codecs.decode(blob)
    assert(dec.sameElements(xs), s"roundtrip broke for doc $d")
    s"$d,${xs.length},${Codecs.codecNameOf(blob)},${blob.length},${checksum(dec)}"
  }

  test("codec choices, encoded sizes and checksums match the golden file") {
    val goldenPath = java.nio.file.Paths.get(
      "src/test/resources/golden/codec_golden.csv")
    if (sys.props.contains("GOLDEN_REGEN")) {
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.write(goldenPath,
        ("doc,n,codec,bytes,cks" +: currentRows).mkString("\n").getBytes)
      info(s"regenerated ${goldenPath}")
    }
    // a missing golden file is a FAILURE, not a regeneration trigger: the
    // file pins the wire format, and silently re-creating it would make
    // the suite pass against whatever the code currently produces
    assert(java.nio.file.Files.exists(goldenPath),
      s"golden file missing: $goldenPath — an accidental deletion must not " +
        "self-heal; regenerate intentionally with -DGOLDEN_REGEN=1")
    val golden = new String(java.nio.file.Files.readAllBytes(goldenPath))
      .split("\n").drop(1).toSeq
    val current = currentRows
    assert(current.size == golden.size)
    current.zip(golden).foreach { case (c, g) => assert(c == g) }
  }

  /** Token arrays around FSST's 1 KiB training sample: every row profile
    * at lengths on both sides of the selector's n >= 256 probe threshold
    * and as giants, streams that end just short of, exactly at and just
    * past 1 KiB, negative values and Int.MinValue (the 11-byte token), and
    * streams far shorter than the sample.
    */
  private def sampleEdges: Seq[Array[Int]] = {
    val shaped = for (p <- 0 until 6; n <- Seq(1, 93, 94, 255, 256, 257, 8192, 9000))
      yield GenTokens.generate(600L + p, n)
    val edges = Seq(
      Array.tabulate(300)(i => 1000000 + (i * 7919) % 9000000), // 8 B/token: 1 KiB at #128
      Array.tabulate(300)(i => -((i.toLong * 2654435761L) % Int.MaxValue).toInt),
      Array.tabulate(257)(i => if (i % 50 == 7) Int.MinValue else -1000000000 - i * 7919),
      Array.tabulate(256)(i => if (i % 2 == 0) Int.MinValue else Int.MaxValue - i),
      Array.tabulate(94)(i => Int.MinValue + i * 3),            // 12 B/token
      Array.fill(100)(Int.MinValue),
      Array.empty[Int],
      Array(0),
      Array.tabulate(40)(i => i * 37 - 500),
      Array.tabulate(256)(i => -(i % 7)))
    shaped ++ edges
  }

  private def sha256(blobs: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    blobs.foreach(b => md.update(b))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // Computed at commit 0fe1c47, before the FSST kernel was rebuilt. The
  // CSV above pins lengths; these pin the bytes, so a symbol-table order
  // change that keeps every length still fails here.
  private val AutoDigest = "a1eecb96a5e02cd090fb08519465408012a13b703e9fb6c41371773e0676249e"
  private val FsstDigest = "e53cb66509fcc4478d195287c85866ef45897bd4e4367c4dc2c39cd645c68d1b"

  test("encoded bytes of the fixture and the FSST sample edges match the pinned digests") {
    val arrays = (0 until 60).map(fixture) ++ sampleEdges
    arrays.foreach(xs => assert(Codecs.decode(FsstCodec.encode(xs)).sameElements(xs)))
    assert(sha256(arrays.map(CodecSelector.encodeAuto)) == AutoDigest)
    assert(sha256(arrays.map(FsstCodec.encode)) == FsstDigest)
  }

  test("golden fixture exercises every codec") {
    val used = (0 until 60)
      .map(d => Codecs.codecNameOf(CodecSelector.encodeAuto(fixture(d))))
      .toSet
    // plain never wins on these profiles (bitpack dominates it); the other
    // five must all be selected somewhere
    assert(Set("rle", "bitpack", "fordelta", "dict", "fsst").subsetOf(used), used)
  }
}
