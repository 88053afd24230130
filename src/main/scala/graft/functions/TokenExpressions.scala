package graft.functions

import graft.codec._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Catalyst expression surface for the codec kernels (SURVEY.md §2.8: the
  * reference's scalar transform extension point → custom `Expression`s;
  * cryo's per-column series building is crates/cryo_to_df/src/lib.rs:103-131).
  *
  * Each native expression names one static JVM kernel method through
  * [[KernelCall]], which gives it both its interpreted `eval` and its
  * generated code: a direct call inside the whole-stage codegen span (no
  * UDF boxing, no CodegenFallback on the hot encode/decode path).
  */

/** encode_tokens(tokens array<int>, codec string) -> binary blob.
  * The codec argument must be foldable (a literal); the codec is resolved
  * once at plan time and its tag byte is the kernel's literal argument.
  */
case class EncodeTokens(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "encode_tokens"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!TokenExprs.isIntArray(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<int> tokens, got ${left.dataType.sql}")
    else if (right.dataType != StringType || !right.foldable)
      TypeCheckResult.TypeCheckFailure("codec name must be a string literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  override protected def kernel = Kernels
  override protected def method = "encodeTokens"
  override protected def arguments =
    Seq(left, Literal(Codecs.byName(right.eval(InternalRow.empty).toString).tag))

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** encode_auto(tokens array<int>) -> binary blob with the cost-selected
  * codec's tag in byte 0 (the per-column codec auto-selector of
  * BASELINE.json's north_star).
  */
case class EncodeAuto(child: Expression)
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "encode_auto"

  override def checkInputDataTypes(): TypeCheckResult =
    TokenExprs.requireIntArray(prettyName, child.dataType)

  override protected def kernel = Kernels
  override protected def method = "encodeAuto"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** decode_tokens(blob binary) -> array<int> — bit-identical inverse of
  * encode_tokens/encode_auto for any codec tag (self-describing blobs).
  */
case class DecodeTokens(child: Expression)
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "decode_tokens"

  override def checkInputDataTypes(): TypeCheckResult =
    TokenExprs.requireBinary(prettyName, child.dataType)

  override protected def kernel = Codecs
  override protected def method = "decode"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** codec_of(blob binary) -> string — the codec tag name of an encoded blob
  * (lineage column; reference analog: per-run report codec field,
  * crates/freeze/src/types/reports.rs:9-23).
  */
case class CodecOf(child: Expression)
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = StringType
  override def prettyName: String = "codec_of"

  override def checkInputDataTypes(): TypeCheckResult =
    TokenExprs.requireBinary(prettyName, child.dataType)

  override protected def kernel = Kernels
  override protected def method = "codecOf"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** token_stats(tokens array<int>) -> struct with the selector's inputs
  * (cardinality, run count, range, sortedness — BASELINE.json north_star).
  * Not on the hot path; CodegenFallback is fine here.
  */
case class TokenStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    TokenExprs.requireIntArray(prettyName, child.dataType)

  override def dataType: DataType = TokenStats.schema

  override def nullSafeEval(tokens: Any): Any = {
    val xs = tokens.asInstanceOf[ArrayData].toIntArray()
    val st = ColumnStats.of(xs)
    val chosen = CodecSelector.choose(xs, st)
    InternalRow(st.n, st.min, st.max, st.nRuns, st.nDistinct,
      st.distinctCapped, st.sorted,
      org.apache.spark.unsafe.types.UTF8String.fromString(chosen.name))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object TokenStats {
  val schema: StructType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("min", LongType, nullable = false),
    StructField("max", LongType, nullable = false),
    StructField("n_runs", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("distinct_capped", BooleanType, nullable = false),
    StructField("sorted", BooleanType, nullable = false),
    StructField("codec", StringType, nullable = false)
  ))
}

private[functions] object TokenExprs {
  def isIntArray(dt: DataType): Boolean = dt match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }
  def requireIntArray(name: String, dt: DataType): TypeCheckResult =
    if (isIntArray(dt)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects array<int> tokens, got ${dt.sql}")
  def requireBinary(name: String, dt: DataType): TypeCheckResult =
    if (dt == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects a binary blob, got ${dt.sql}")
}

/** hyperplane_buckets(unit array<double>, planes, tables) -> array<long> —
  * one sign-bit LSH bucket per table from deterministic pseudo-random
  * hyperplanes (splitmix64-derived weights, a pure function of
  * (table, plane, dim)). A native expression because the equivalent
  * higher-order-function formulation pays interpreted-lambda overhead per
  * (table × plane × dim) — ~2048 expression evals per row.
  */
case class HyperplaneBuckets(child: Expression, planes: Int, tables: Int)
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  // a bucket is one bit per plane of a long, and plane p of table t seeds
  // its weights with t * 64 + p: more than 64 planes would wrap onto low
  // bits and alias the next table's planes. Zero planes is the exhaustive
  // regime (one bucket) that the ann oracle queries run.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if planes < 0 || planes > 64 =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName planes must be in [0, 64], got $planes")
    case ArrayType(DoubleType, _) if tables < 1 => TypeCheckResult.TypeCheckFailure(
      s"$prettyName tables must be >= 1, got $tables")
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${dt.sql}")
  }

  override protected def kernel = Kernels
  override protected def method = "hyperplaneBuckets"
  override protected def arguments = Seq(child, Literal(planes), Literal(tables))

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object HyperplaneBuckets {
  /** splitmix64 → uniform double in [-0.5, 0.5). */
  @inline private def weight(seed: Long): Double = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
  }

  def buckets(v: Array[Double], planes: Int, tables: Int): Array[Long] = {
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        var dot = 0.0
        var d = 0
        while (d < v.length) {
          dot += v(d) * weight(((t * 64 + p).toLong << 20) | d)
          d += 1
        }
        if (dot > 0) bucket |= 1L << p
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }
}

/** vec_dot(a array<double>, b array<double>) -> double. Native because the
  * zip_with/aggregate formulation is CodegenFallback with per-element
  * lambda interpretation — two orders of magnitude slower on 64-dim
  * embeddings, and recomputed at every plan reference.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<double> args")
    }

  override protected def kernel = Kernels
  override protected def method = "vecDot"

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** vec_normalize(a array<float|double>) -> array<double>: L2 unit vector. */
case class VecNormalize(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_normalize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${dt.sql}")
  }

  override protected def kernel = Kernels
  override protected def method = child.dataType match {
    case ArrayType(FloatType, _) => "normalizeFloats"
    case _ => "normalizeDoubles"
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object VecKernels {
  def toDouble(f: Array[Float]): Array[Double] = {
    val d = new Array[Double](f.length)
    var i = 0
    while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
    d
  }
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dot(v, v))
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i) / n; i += 1 }
    out
  }
}

/** simhash64(words array<string>) -> long: 64-bit SimHash (Charikar'02) of
  * the word multiset — per-word 64-bit hash bit-votes, sign-aggregated.
  * Native because the higher-order formulation evaluates an interpreted
  * hash expression per (word × bit): ~64× redundant hashing.
  */
case class Simhash64(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.sql}")
  }

  override protected def kernel = Simhash64
  override protected def method = "compute"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object Simhash64 {

  /** Java-callable kernel (used from generated code). */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = hash64(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < 64) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }

  /** Deterministic 64-bit byte-string hash (FNV-1a core + splitmix
    * finalizer) — stable across runs/JVMs, strong bit diffusion.
    */
  def hash64(bytes: Array[Byte]): Long = {
    var h = 1469598103934665603L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 1099511628211L
      i += 1
    }
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** minhash_signature(words array<string>, k) -> array<long>: k per-seed
  * minima over 3-word shingle hashes (MinHash, Broder'97). One pass over
  * the shingles with all k lanes updated per shingle — the higher-order
  * formulation re-hashed every shingle k times through interpreted
  * expressions.
  */
case class MinhashSignature(child: Expression, k: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName k must be >= 1, got $k")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.sql}")
  }

  override protected def kernel = MinhashSignature
  override protected def method = "compute"
  override protected def arguments = Seq(child, Literal(k))

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object MinhashSignature {
  /** Java-callable kernel: 3-word shingles (whole doc if < 3 words), base
    * hash per shingle, k lanes derived by splitmix re-mixing with the lane
    * index — equivalent to k independent hash functions.
    */
  def compute(words: ArrayData, k: Int): Array[Long] = {
    val n = words.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val nShingles = math.max(1, n - 2)
    var i = 0
    while (i < nShingles) {
      var h = 1469598103934665603L
      val end = math.min(n, i + 3)
      var w = i
      while (w < end) {
        // null elements hash like empty strings (separator only) — same
        // guard Simhash64.compute has; split() never produces nulls, but
        // this is a public SQL function and must not NPE on them
        if (!words.isNullAt(w)) {
          val bytes = words.getUTF8String(w).getBytes
          var b = 0
          while (b < bytes.length) {
            h = (h ^ (bytes(b) & 0xffL)) * 1099511628211L
            b += 1
          }
        }
        h = (h ^ 0x20L) * 1099511628211L // word separator
        w += 1
      }
      var lane = 0
      while (lane < k) {
        var z = h + (lane + 1).toLong * 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        if (z < sig(lane)) sig(lane) = z
        lane += 1
      }
      i += 1
    }
    sig
  }
}

/** shingle_hashes(words array<string>, n) -> array<long>: the raw FNV-1a
  * fold (64-bit wrap) of every n-word window, one hash per window position
  * — the per-window content key of the exact duplicate-span detector
  * ([[graft.ops.Dedup.dupSpans]]). Byte-fold convention is EXACTLY
  * [[MinhashSignature.compute]]'s: each word's UTF-8 bytes then a 0x20
  * separator mix, separator included after the last word — i.e. the fold
  * of the string "w1 w2 … wn " — so the DuckDB oracle replays it with the
  * same HUGEINT machinery the minhash oracle uses. Docs shorter than n
  * words emit ONE whole-doc window (the [[graft.ops.TextOps.gramsSql]]
  * degenerate-doc rule). No splitmix finalizer: the hash is a grouping
  * key, not an LSH input, and the raw fold keeps the SQL replay shallow.
  * Native because the higher-order formulation (transform over sequence
  * with a nested aggregate fold) is CodegenFallback and O(n·len) string
  * building per row.
  *
  * Non-ASCII convention (Utf8KernelSpec): pure UTF-8 BYTE fold —
  * multi-byte words hash their wire bytes, no codepoint or normalization
  * step; the 0x20 separator makes "a b" as one word byte-alias ["a","b"]
  * (pinned as a documented wire-format property).
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName window size must be >= 1, got $n")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.sql}")
  }

  override protected def kernel = ShingleHashes
  override protected def method = "compute"
  override protected def arguments = Seq(child, Literal(n))

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object ShingleHashes {
  /** Java-callable kernel (used from generated code). */
  def compute(words: ArrayData, n: Int): Array[Long] = {
    val len = words.numElements()
    val nWindows = math.max(1, len - n + 1)
    val out = new Array[Long](nWindows)
    var i = 0
    while (i < nWindows) {
      var h = 1469598103934665603L
      val end = math.min(len, i + n)
      var w = i
      while (w < end) {
        // null elements hash like empty strings (separator only) — same
        // public-SQL-function guard as MinhashSignature.compute
        if (!words.isNullAt(w)) {
          val bytes = words.getUTF8String(w).getBytes
          var b = 0
          while (b < bytes.length) {
            h = (h ^ (bytes(b) & 0xffL)) * 1099511628211L
            b += 1
          }
        }
        h = (h ^ 0x20L) * 1099511628211L // word separator
        w += 1
      }
      out(i) = h
      i += 1
    }
    out
  }
}

/** cut_spans(words array<string>, cut_pos array<long>, n) ->
  * array<long> of exactly [n_cut_words, n_kept_words, cleaned_fp]: removes
  * every word covered by some flagged n-word window start in `cut_pos`
  * (the [[graft.ops.Dedup.dupSpans]] output for one doc) and fingerprints
  * the SINGLE-SPACE rejoin of the surviving words with the
  * [[ChecksumKernels.charFingerprint]] fold — so the whole cleaned text is
  * pinned to one replayable value without ever shipping it. Intervals
  * [p, min(len, p+n)) are unioned in one pass (`cut_pos` must be sorted
  * ascending — the op sorts; unsorted input would under-cut, not crash).
  * A doc with every word covered yields [len, 0, 0] (the empty string's
  * fold). Native because the per-row work is O(len) interval walking +
  * string building — the higher-order formulation is CodegenFallback and
  * would re-evaluate per plan reference.
  *
  * Non-ASCII convention (Utf8KernelSpec): surviving words may be
  * arbitrary UTF-8; the cleaned fingerprint follows char_fingerprint's
  * codepoint convention over their single-space rejoin.
  */
case class CutSpans(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cut_spans"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) if n >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName window size must be >= 1, got $n")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<string>, array<long>)")
    }

  override protected def kernel = CutSpans
  override protected def method = "compute"
  override protected def arguments = Seq(left, right, Literal(n))

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object CutSpans {
  /** Java-callable kernel (used from generated code). Null words render
    * as empty strings (the same public-SQL-function guard as the other
    * string-array kernels); null cut positions are skipped.
    */
  def compute(words: ArrayData, cuts: ArrayData, n: Int): Array[Long] = {
    val len = words.numElements()
    val nCuts = cuts.numElements()
    val sb = new java.lang.StringBuilder
    var covered = 0L
    var kept = 0L
    var cutIdx = 0
    var end = 0L // exclusive end of the union of intervals seen so far
    var i = 0
    while (i < len) {
      while (cutIdx < nCuts &&
          (cuts.isNullAt(cutIdx) || cuts.getLong(cutIdx) <= i)) {
        if (!cuts.isNullAt(cutIdx)) {
          val p = cuts.getLong(cutIdx)
          val e = math.min(len.toLong, p + n)
          if (e > end) end = e
        }
        cutIdx += 1
      }
      if (i < end) covered += 1
      else {
        if (kept > 0) sb.append(' ')
        if (!words.isNullAt(i)) sb.append(words.getUTF8String(i).toString)
        kept += 1
      }
      i += 1
    }
    Array(covered, kept,
      ChecksumKernels.charFingerprint(
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)))
  }
}

/** sig_agree(a array<long>, b array<long>) -> int: number of positions
  * where two MinHash signatures agree (the Jaccard estimator's numerator).
  * Native because the zip_with+aggregate formulation is CodegenFallback
  * AND recomputed per plan reference — the exact trap the prefilter exists
  * to avoid paying (its whole point is being ~ns-cheap per candidate pair).
  */
case class SigAgree(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_agree"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<long> signatures")
    }

  override protected def kernel = SigAgree
  override protected def method = "compute"

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object SigAgree {
  /** Java-callable kernel (used from generated code). Null lane values
    * (possible only through hand-built SQL arrays) never match.
    */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var agree = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        agree += 1
      i += 1
    }
    agree
  }
}
