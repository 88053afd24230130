package graft.codec

/** Per-column lightweight compression codecs over token arrays.
  *
  * Re-expresses the reference's per-file compression selection
  * (cryo: crates/cli/src/parse/file_output.rs:102-136 — one codec per
  * parquet file) as per-array self-describing encoded blocks: every blob is
  * `[tag: 1 byte][payload]`, so a mixed column of blobs decodes without any
  * side metadata and `decode(encode(xs))` is bit-identical per row
  * (north-rule invariant; analog of cryo's write-read `frame_equal`
  * roundtrip, crates/python/python_tests/test_output_formats.py:26-41).
  */
trait Codec extends Serializable {
  def tag: Byte
  def name: String
  def encodePayload(xs: Array[Int], w: ByteWriter): Unit
  def decodePayload(r: ByteReader): Array[Int]

  final def encode(xs: Array[Int]): Array[Byte] = {
    val w = new ByteWriter(math.max(16, xs.length / 2))
    w.writeByte(tag)
    encodePayload(xs, w)
    w.result()
  }
}

/** Fallback: varint n + fixed 4-byte little-endian values. */
object PlainCodec extends Codec {
  val tag: Byte = 0
  val name = "plain"
  def encodePayload(xs: Array[Int], w: ByteWriter): Unit = {
    w.writeVarLong(xs.length.toLong)
    var i = 0
    while (i < xs.length) { w.writeIntLE(xs(i)); i += 1 }
  }
  def decodePayload(r: ByteReader): Array[Int] = {
    val n = r.readVarLong().toInt
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = r.readIntLE(); i += 1 }
    out
  }
}

/** Run-length encoding: varint n + (zigzag value, varint runLen)*. */
object RleCodec extends Codec {
  val tag: Byte = 1
  val name = "rle"
  def encodePayload(xs: Array[Int], w: ByteWriter): Unit = {
    w.writeVarLong(xs.length.toLong)
    var i = 0
    while (i < xs.length) {
      val v = xs(i)
      var j = i + 1
      while (j < xs.length && xs(j) == v) j += 1
      w.writeZigZag(v.toLong)
      w.writeVarLong((j - i).toLong)
      i = j
    }
  }
  def decodePayload(r: ByteReader): Array[Int] = {
    val n = r.readVarLong().toInt
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val v = r.readZigZag().toInt
      var run = r.readVarLong().toInt
      while (run > 0) { out(i) = v; i += 1; run -= 1 }
    }
    out
  }
}

/** Frame-of-reference bit-packing: varint n + zigzag min + width byte +
  * (v - min) packed at `width` bits.
  */
object BitPackCodec extends Codec {
  val tag: Byte = 2
  val name = "bitpack"
  def encodePayload(xs: Array[Int], w: ByteWriter): Unit = {
    w.writeVarLong(xs.length.toLong)
    if (xs.isEmpty) return
    var mn = xs(0).toLong
    var mx = xs(0).toLong
    var i = 1
    while (i < xs.length) {
      val v = xs(i).toLong
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    val width = Bytes.bitsFor(mx - mn)
    w.writeZigZag(mn)
    w.writeByte(width)
    val bw = new BitWriter(w)
    i = 0
    while (i < xs.length) { bw.write(xs(i).toLong - mn, width); i += 1 }
    bw.finish()
  }
  def decodePayload(r: ByteReader): Array[Int] = {
    val n = r.readVarLong().toInt
    val out = new Array[Int](n)
    if (n == 0) return out
    val mn = r.readZigZag()
    val width = r.readByte()
    val br = new BitReader(r)
    var i = 0
    while (i < n) { out(i) = (mn + br.read(width)).toInt; i += 1 }
    out
  }
}

/** Delta + frame-of-reference: varint n + zigzag first + zigzag minDelta +
  * width byte + (delta - minDelta) packed. Wins on sorted / ramping ids.
  */
object ForDeltaCodec extends Codec {
  val tag: Byte = 3
  val name = "fordelta"
  def encodePayload(xs: Array[Int], w: ByteWriter): Unit = {
    w.writeVarLong(xs.length.toLong)
    if (xs.isEmpty) return
    w.writeZigZag(xs(0).toLong)
    if (xs.length == 1) return
    var minD = Long.MaxValue
    var maxD = Long.MinValue
    var i = 1
    while (i < xs.length) {
      val d = xs(i).toLong - xs(i - 1).toLong
      if (d < minD) minD = d
      if (d > maxD) maxD = d
      i += 1
    }
    val width = Bytes.bitsFor(maxD - minD)
    w.writeZigZag(minD)
    w.writeByte(width)
    val bw = new BitWriter(w)
    i = 1
    while (i < xs.length) {
      bw.write(xs(i).toLong - xs(i - 1).toLong - minD, width)
      i += 1
    }
    bw.finish()
  }
  def decodePayload(r: ByteReader): Array[Int] = {
    val n = r.readVarLong().toInt
    val out = new Array[Int](n)
    if (n == 0) return out
    out(0) = r.readZigZag().toInt
    if (n == 1) return out
    val minD = r.readZigZag()
    val width = r.readByte()
    val br = new BitReader(r)
    var i = 1
    while (i < n) {
      out(i) = (out(i - 1).toLong + minD + br.read(width)).toInt
      i += 1
    }
    out
  }
}

/** Dictionary encoding: first-occurrence-ordered symbol table (deterministic
  * across parallelism levels) + indices bit-packed at ceil(log2(|dict|)).
  */
object DictCodec extends Codec {
  val tag: Byte = 4
  val name = "dict"
  def encodePayload(xs: Array[Int], w: ByteWriter): Unit = {
    w.writeVarLong(xs.length.toLong)
    if (xs.isEmpty) return
    val index = new IntIntMap(64)
    val dict = new Array[Int](xs.length) // first occurrences, unboxed
    var nDict = 0
    val ids = new Array[Int](xs.length)
    var i = 0
    while (i < xs.length) {
      val v = xs(i)
      var id = index.getOrElse(v, -1)
      if (id < 0) { id = nDict; index.put(v, id); dict(nDict) = v; nDict += 1 }
      ids(i) = id
      i += 1
    }
    w.writeVarLong(nDict.toLong)
    var d = 0
    while (d < nDict) { w.writeZigZag(dict(d).toLong); d += 1 }
    val width = Bytes.bitsFor((nDict - 1).toLong)
    w.writeByte(width)
    val bw = new BitWriter(w)
    i = 0
    while (i < xs.length) { bw.write(ids(i).toLong, width); i += 1 }
    bw.finish()
  }
  def decodePayload(r: ByteReader): Array[Int] = {
    val n = r.readVarLong().toInt
    val out = new Array[Int](n)
    if (n == 0) return out
    val dictSize = r.readVarLong().toInt
    val dict = new Array[Int](dictSize)
    var d = 0
    while (d < dictSize) { dict(d) = r.readZigZag().toInt; d += 1 }
    val width = r.readByte()
    val br = new BitReader(r)
    var i = 0
    while (i < n) { out(i) = dict(br.read(width).toInt); i += 1 }
    out
  }
}

/** Registry + public entry points. */
object Codecs extends Serializable {
  val all: Seq[Codec] =
    Seq(PlainCodec, RleCodec, BitPackCodec, ForDeltaCodec, DictCodec, FsstCodec)

  private val byTagArr: Array[Codec] = {
    val arr = new Array[Codec](all.map(_.tag.toInt).max + 1)
    all.foreach(c => arr(c.tag.toInt) = c)
    arr
  }
  private val byNameMap: Map[String, Codec] = all.map(c => c.name -> c).toMap

  def byTag(tag: Int): Codec = {
    val c = if (tag >= 0 && tag < byTagArr.length) byTagArr(tag) else null
    if (c == null) throw new IllegalArgumentException(s"unknown codec tag $tag")
    c
  }
  def byName(name: String): Codec =
    byNameMap.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"unknown codec '$name'"))

  def encode(xs: Array[Int], name: String): Array[Byte] = byName(name).encode(xs)

  def decode(blob: Array[Byte]): Array[Int] = {
    val r = new ByteReader(blob)
    byTag(r.readByte()).decodePayload(r)
  }

  /** Codec tag name of an encoded blob (lineage column). */
  def codecNameOf(blob: Array[Byte]): String = byTag(blob(0) & 0xff).name
}
