package graft.codec

/** FSST-style string-symbol compression over the stringified id stream.
  *
  * A faithful simplified variant of FSST (Boncz/Neumann/Leis, VLDB'20 "FSST:
  * Fast Random Access String Compression"): a table of up to 254 byte-string
  * symbols (length 1..7) trained by iterative greedy re-encoding + adjacent
  * pair merging (the paper's bottom-up construction) on a deterministic
  * prefix sample; greedy longest-match encoding; escape byte 0xFF for
  * literals; unused symbols pruned from the serialized table (per-row blobs
  * make table bytes precious).
  *
  * Symbols are Long-packed keys (length in the top byte, ≤7 payload bytes
  * little-endian) looked up through primitive open-addressing maps — the
  * encode path allocates no boxed objects, which is what lets 32 encode
  * threads scale (boxed HashMaps collapsed under allocation pressure).
  *
  * Training is a pure function of the stream's first [[SampleBytes]], so
  * encoded bytes are deterministic across parallelism levels (SURVEY.md §7
  * "Hard parts" #4), and it runs once per array: the selector's [[probe]]
  * returns the table it trained, and [[encodeWith]] writes the blob with
  * it. The standalone [[encode]] trains for itself and writes through the
  * same payload writer.
  *
  * Stream form: each token rendered as decimal ASCII followed by ','
  * (including after the last token).
  *
  * Payload: varint nTokens | byte nSymbols | (byte len, bytes)* |
  *          varint encodedLen | encoded bytes.
  */
object FsstCodec extends Codec {
  val tag: Byte = 5
  val name = "fsst"

  private val Escape = 0xff
  private val MaxSymbols = 254 // codes 0..253; 0xFF = escape
  private val MaxSymLen = 7    // 7 bytes pack into a Long beside the length
  private val SampleBytes = 1024
  private val TrainIters = 4

  /** Decimal rendering length of one token (digits + sign). */
  @inline private def decLen(v: Int): Int =
    if (v >= 0) digits(v) else if (v == Int.MinValue) 11 else 1 + digits(-v)

  @inline private def digits(x: Int): Int =
    if (x < 100000) {
      if (x < 100) { if (x < 10) 1 else 2 }
      else if (x < 1000) 3 else if (x < 10000) 4 else 5
    } else if (x < 10000000) { if (x < 1000000) 6 else 7 }
    else if (x < 100000000) 8 else if (x < 1000000000) 9 else 10

  /** Renders `xs(0 until n)` to the decimal byte stream, `len` bytes long
    * (the sum of `decLen + 1` over those tokens), plus 7 spare zero bytes
    * for [[window]] reads.
    */
  private def render(xs: Array[Int], n: Int, len: Int): Array[Byte] = {
    val out = new Array[Byte](len + MaxSymLen)
    var p = 0
    var i = 0
    while (i < n) {
      val v = xs(i)
      val l = decLen(v)
      if (v < 0) out(p) = '-'
      var x = math.abs(v.toLong)
      var q = p + l - 1
      while ({ out(q) = ('0' + x % 10).toByte; x /= 10; q -= 1; x > 0 }) ()
      out(p + l) = ','
      p += l + 1
      i += 1
    }
    out
  }

  private[codec] def fromStream(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var i = 0
    var pos = 0
    while (i < n) {
      var neg = false
      if (bytes(pos) == '-') { neg = true; pos += 1 }
      var v = 0
      while (bytes(pos) != ',') { v = v * 10 + (bytes(pos) - '0'); pos += 1 }
      pos += 1 // skip ','
      out(i) = if (neg) -v else v
      i += 1
    }
    out
  }

  @inline private def symLen(k: Long): Int = (k >>> 56).toInt

  /** The packed symbol of the first `len` bytes of a window. */
  @inline private def key(window: Long, len: Int): Long =
    (window & ((1L << (len * 8)) - 1)) | (len.toLong << 56)

  /** The ≤7 bytes of `stream(i until limit)` from i, little-endian, as one
    * 8-byte read ([[render]] leaves 7 spare bytes past the stream's end).
    */
  @inline private def window(buf: java.nio.ByteBuffer, i: Int, limit: Int): Long =
    buf.getLong(i) & ((1L << (math.min(MaxSymLen, limit - i) * 8)) - 1)

  @inline private def reader(stream: Array[Byte]): java.nio.ByteBuffer =
    java.nio.ByteBuffer.wrap(stream).order(java.nio.ByteOrder.LITTLE_ENDIAN)

  /** A symbol set: `keys(c)` is the packed symbol of code c. A match looks
    * up only the lengths that a hashed 2- and 3-byte prefix filter admits,
    * longest first; one-byte symbols sit in a direct table.
    */
  private[codec] final class Symbols(val keys: Array[Long], val n: Int) {
    private val codeOf = new LongIntMap(n)
    private val single = new Array[Int](256)
    // bit L of slot prefix(2 bytes): a length-2 symbol may start so; bits
    // 3..7 of slot prefix(3 bytes): a symbol of that length may
    private val lensAt = new Array[Byte](PrefixSlots)
    locally {
      java.util.Arrays.fill(single, -1)
      var c = 0
      while (c < n) {
        val k = keys(c)
        val l = symLen(k)
        codeOf.put(k, c)
        if (l == 1) single(k.toInt & 0xff) = c
        else {
          val s = prefixSlot(k & (if (l == 2) 0xffffL else 0xffffffL))
          lensAt(s) = (lensAt(s) | (1 << l)).toByte
        }
        c += 1
      }
    }

    /** Longest symbol match at a window of `avail` bytes:
      * (len << 16) | code, or -1.
      */
    def longest(window: Long, avail: Int): Int = {
      var lens = ((lensAt(prefixSlot(window & 0xffffffL)) & 0xf8) |
        (lensAt(prefixSlot(window & 0xffffL)) & 4)) & ((2 << avail) - 1)
      while (lens != 0) {
        val len = 31 - Integer.numberOfLeadingZeros(lens)
        val c = codeOf.getOrElse(key(window, len), -1)
        if (c >= 0) return (len << 16) | c
        lens &= ~(1 << len)
      }
      val c = single(window.toInt & 0xff)
      if (c >= 0) (1 << 16) | c else -1
    }

    def sameSet(o: Symbols): Boolean =
      n == o.n && {
        var c = 0
        while (c < n && o.codeOf.contains(keys(c))) c += 1
        c == n
      }
  }

  private val PrefixSlots = 4096

  @inline private def prefixSlot(prefix: Long): Int =
    ((prefix * -7046029254386353131L) >>> 52).toInt

  private val NoSymbols = new Symbols(Array.emptyLongArray, 0)

  /** `keys(0 until m)` ordered by gain descending, then length descending,
    * then packed key ascending, cut to [[MaxSymbols]]. Two primitive sorts:
    * (gain, length) with the candidate's index in the low 20 bits (m ≤
    * 2 × SampleBytes), then each run of equal (gain, length) by key.
    */
  private def ranked(keys: Array[Long], gains: Array[Long], m: Int): Array[Long] = {
    val order = new Array[Long](m)
    var i = 0
    while (i < m) {
      order(i) = ((Int.MaxValue - (gains(i) * 8 + symLen(keys(i)))) << 20) | i
      i += 1
    }
    java.util.Arrays.sort(order)
    val out = new Array[Long](m)
    i = 0
    while (i < m) { out(i) = keys((order(i) & 0xfffff).toInt); i += 1 }
    val n = math.min(m, MaxSymbols)
    var run = 0
    while (run < n) {
      var end = run + 1
      while (end < m && (order(end) >>> 20) == (order(run) >>> 20)) end += 1
      java.util.Arrays.sort(out, run, end)
      run = end
    }
    if (n == m) out else java.util.Arrays.copyOf(out, n)
  }

  /** Iterative FSST training on `stream(0 until min(len, SampleBytes))`:
    * start from an empty table (all literals); each round, greedily segment
    * the sample with the current set, count unit + merged-adjacent-pair
    * gains on segment boundaries (no overlap double-counting), keep the top
    * [[MaxSymbols]] candidates whose gain amortizes their table bytes.
    *
    * Greedy segmentation depends only on the symbol SET, so a round that
    * keeps every candidate needs no order, a round that reproduces the
    * previous set is a fixed point (stop), and the table is ordered once,
    * by the last round's gains (gain desc, len desc, packed key asc);
    * code = index in that order. `encLen` and `tableCost` then hold the
    * sample's coded size under the final set, for the probe.
    */
  private final class Trainer(stream: Array[Byte], len: Int) {
    val limit: Int = math.min(len, SampleBytes)
    private val buf = reader(stream)
    /** Gain of each unit key of the last segmentation: index c < n is the
      * set's code c, n + b the literal byte b.
      */
    private var unitGains: Array[Long] = null
    /** Gains of merged adjacent unit pairs. Greedy longest match never
      * leaves two units whose concatenation is a symbol, and a merged key
      * is at least 2 bytes long, so no merged key is also a unit key. At
      * most `limit - 1` pairs: sized never to grow.
      */
    private val pairGains = new LongLongMap(limit)
    /** Sample bytes coded under the last segmentation's set (1 per symbol,
      * 2 per escape), and 2 plus the serialized bytes of the symbols it
      * used: the probe's two sample figures.
      */
    var encLen = 0L
    var tableCost = 2L

    /** Greedy segmentation of the sample under `set`, counting unit and
      * merged-pair gains as it goes.
      */
    private def segment(set: Symbols): Unit = {
      val n = set.n
      val gains = new Array[Long](n + 256)
      pairGains.clear()
      var enc = 0L
      var cost = 2L
      var prevOff = -1 // the previous unit's start and window
      var prevWin = 0L
      var i = 0
      while (i < limit) {
        val w = window(buf, i, limit)
        val m = if (n == 0) -1 else set.longest(w, math.min(MaxSymLen, limit - i))
        val off = i
        if (m < 0) {
          gains(n + (w.toInt & 0xff)) += 1
          i += 1
          enc += 2
        } else {
          val c = m & 0xffff
          val l = m >>> 16
          if (gains(c) == 0) cost += 1 + l
          gains(c) += (if (l == 1) 1 else l - 1)
          i += l
          enc += 1
        }
        if (prevOff >= 0 && i - prevOff <= MaxSymLen)
          pairGains.addTo(key(prevWin, i - prevOff), (i - prevOff - 1).toLong)
        prevOff = off
        prevWin = w
      }
      unitGains = gains
      encLen = enc
      tableCost = cost
    }

    private def train(): Symbols = {
      var set = NoSymbols
      var iter = 0
      var result: Symbols = null
      while (result == null) {
        segment(set)
        // candidates: keys whose gain amortizes their serialized bytes
        val mKeys = new Array[Long](unitGains.length + pairGains.size)
        val mGains = new Array[Long](mKeys.length)
        var m = 0
        var e = 0
        while (e < unitGains.length) {
          val g = unitGains(e)
          if (g > 0) {
            val k = if (e < set.n) set.keys(e) else (1L << 56) | (e - set.n)
            if (g >= 2L * symLen(k)) { mKeys(m) = k; mGains(m) = g; m += 1 }
          }
          e += 1
        }
        e = 0
        while (e < pairGains.size) {
          val g = pairGains.valueAt(e)
          if (g >= 2L * symLen(pairGains.keyAt(e))) { mKeys(m) = pairGains.keyAt(e); mGains(m) = g; m += 1 }
          e += 1
        }
        val top = if (m > MaxSymbols) ranked(mKeys, mGains, m) else null
        val next = if (top != null) new Symbols(top, top.length) else new Symbols(mKeys, m)
        iter += 1
        val converged = next.sameSet(set)
        if (converged && top != null) result = next
        else if (converged || iter == TrainIters) {
          val table = if (top != null) top else ranked(mKeys, mGains, m)
          result = new Symbols(table, table.length)
          // the probe's counts must be those of the final set
          if (!converged) segment(result)
        } else set = next
      }
      result
    }

    /** The trained table. */
    val symbols: Symbols = train()
  }

  /** The selector's FSST probe: the estimated blob size, and the table the
    * encode takes (see [[encodeWith]]) when FSST wins.
    */
  private[codec] final class Probe(val size: Long, val table: Symbols)

  /** Estimated encoded bytes for the selector: train on the deterministic
    * prefix sample, code just the sample (the training's last segmentation
    * when it converged), extrapolate by stream length.
    */
  private[codec] def probe(xs: Array[Int]): Probe = {
    if (xs.isEmpty) return new Probe(4L, NoSymbols)
    // render only the training prefix: a giant array's full ~6 B/token
    // stream is not needed to read its length
    var totalLen = 0L
    var nPrefix = 0
    var prefixLen = 0
    var i = 0
    while (i < xs.length) {
      val l = decLen(xs(i)) + 1
      totalLen += l
      if (prefixLen < SampleBytes) { prefixLen += l; nPrefix += 1 }
      i += 1
    }
    val t = new Trainer(render(xs, nPrefix, prefixLen), prefixLen)
    val ratio = t.encLen.toDouble / t.limit
    new Probe((ratio * totalLen + t.tableCost + Bytes.varLen(xs.length.toLong) + 4).toLong, t.symbols)
  }

  /** The blob of `xs` coded with a probe's table: the bytes [[encode]]
    * writes, without training again.
    */
  private[codec] def encodeWith(xs: Array[Int], p: Probe): Array[Byte] = {
    val w = new ByteWriter(math.max(16, xs.length / 2))
    w.writeByte(tag)
    writePayload(xs, w, p.table)
    w.result()
  }

  def encodePayload(xs: Array[Int], w: ByteWriter): Unit = writePayload(xs, w, null)

  /** Writes the payload, training on the stream when `trained` is null. */
  private def writePayload(xs: Array[Int], w: ByteWriter, trained: Symbols): Unit = {
    w.writeVarLong(xs.length.toLong)
    if (xs.isEmpty) { w.writeByte(0); w.writeVarLong(0L); return }
    var len = 0
    var i = 0
    while (i < xs.length) { len += decLen(xs(i)) + 1; i += 1 }
    val stream = render(xs, xs.length, len)
    val syms = if (trained != null) trained else new Trainer(stream, len).symbols
    // code the stream: symbol codes, or Escape + the literal byte
    val buf = reader(stream)
    val enc = new Array[Byte](2 * len)
    val used = new Array[Boolean](syms.n)
    var p = 0
    i = 0
    while (i < len) {
      val m = syms.longest(window(buf, i, len), math.min(MaxSymLen, len - i))
      if (m < 0) { enc(p) = Escape.toByte; enc(p + 1) = stream(i); p += 2; i += 1 }
      else { enc(p) = m.toByte; used(m & 0xffff) = true; p += 1; i += m >>> 16 }
    }
    // prune unused symbols: removing never-matched symbols cannot change
    // greedy longest-match segmentation, so a stable remap is safe.
    val remap = new Array[Byte](syms.n)
    var nUsed = 0
    var s = 0
    while (s < syms.n) {
      if (used(s)) { remap(s) = nUsed.toByte; nUsed += 1 }
      s += 1
    }
    w.writeByte(nUsed)
    s = 0
    while (s < syms.n) {
      if (used(s)) {
        val k = syms.keys(s)
        val l = symLen(k)
        w.writeByte(l)
        var j = 0
        while (j < l) { w.writeByte((k >>> (j * 8)).toInt & 0xff); j += 1 }
      }
      s += 1
    }
    w.writeVarLong(p.toLong)
    var q = 0
    while (q < p) {
      if ((enc(q) & 0xff) == Escape) q += 2
      else { enc(q) = remap(enc(q) & 0xff); q += 1 }
    }
    w.writeBytes(enc, 0, p)
  }

  def decodePayload(r: ByteReader): Array[Int] = {
    val n = r.readVarLong().toInt
    val nSymbols = r.readByte()
    val symbols = new Array[Array[Byte]](nSymbols)
    var s = 0
    while (s < nSymbols) {
      val len = r.readByte()
      val sym = new Array[Byte](len)
      System.arraycopy(r.buf, r.pos, sym, 0, len)
      r.pos += len
      symbols(s) = sym
      s += 1
    }
    val encLen = r.readVarLong().toInt
    val out = new ByteWriter(encLen * 2 + 8)
    var i = 0
    while (i < encLen) {
      val code = r.readByte()
      if (code == Escape) { out.writeByte(r.readByte()); i += 2 }
      else { out.writeBytes(symbols(code)); i += 1 }
    }
    fromStream(out.result(), n)
  }
}
