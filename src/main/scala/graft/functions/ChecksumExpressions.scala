package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native checksum/fingerprint kernels. These replace the last interpreted
  * higher-order-function lambdas on hot oracle-query paths (Spark's
  * transform/aggregate lambdas are CodegenFallback AND recomputed per plan
  * reference — the round-1 bench showed them dominating text_fingerprint
  * and the roundtrip checksums). Each kernel is value-identical to a
  * SQL-lambda formulation that the DuckDB oracles mirror; the equivalence
  * is asserted in TokensSpec/OpsSpec, so the oracle SQL never changes.
  */

/** token_checksum(tokens array<int>) -> bigint:
  * sum((i+1) * tok_i) % 1_000_000_007 — the order-sensitive array checksum
  * used by every codec roundtrip query ([[graft.sources.Tokens.checksumSql]]
  * is the SQL mirror).
  */
case class TokenChecksum(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "token_checksum"

  override def checkInputDataTypes(): TypeCheckResult =
    TokenExprs.requireIntArray(prettyName, child.dataType)

  override protected def kernel = ChecksumKernels
  override protected def method = "tokenChecksum"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** tokens_sum(tokens array<int>) -> bigint: plain element sum (bounded by
  * n_tok × 2^31 < 2^44 per row — no overflow per doc; callers that
  * aggregate across docs reduce mod-first, see stats_agg).
  */
case class TokensSum(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "tokens_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    TokenExprs.requireIntArray(prettyName, child.dataType)

  override protected def kernel = ChecksumKernels
  override protected def method = "tokensSum"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** char_fingerprint(text string) -> bigint:
  * sum(i * codepoint(text[i])) % 1_000_000_007 with 1-based character
  * positions — the position-weighted rolling content hash of
  * TextOps.fingerprint (SQL mirror: aggregate over
  * transform(sequence(1, length(text)), i -> i * ascii(substring(text,i,1)))).
  *
  * Non-ASCII convention (Utf8KernelSpec): CODEPOINT positions — a
  * surrogate pair is one position, a combining mark its own; no Unicode
  * normalization (precomposed ≠ decomposed, deliberately — the value pins
  * content-on-the-wire). The SQL mirror holds for full Unicode too
  * (Spark's length/substring are codepoint-based and ascii() yields the
  * codepoint), spec-verified over mixed scripts.
  */
case class CharFingerprint(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "char_fingerprint"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${dt.sql}")
  }

  override protected def kernel = ChecksumKernels
  override protected def method = "charFingerprint"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object ChecksumKernels {
  val Mod = 1000000007L

  /** Java-callable (used from generated code). Reads the ArrayData in
    * place — no toIntArray copy on the hot path.
    */
  def tokenChecksum(arr: ArrayData): Long = {
    val n = arr.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      s += (i + 1).toLong * arr.getInt(i)
      // lazy reduction: |terms| ≤ 2^62 ((i+1) ≤ 2^31, |tok| ≤ 2^31), so
      // reducing beyond ±2^62 keeps any array length overflow-free
      if (s >= (1L << 62) || s <= -(1L << 62)) s %= Mod
      i += 1
    }
    s % Mod
  }

  def tokensSum(arr: ArrayData): Long = {
    val n = arr.numElements()
    var s = 0L
    var i = 0
    while (i < n) { s += arr.getInt(i); i += 1 }
    s
  }

  /** ASCII fast path over the UTF8 bytes; any multi-byte character routes
    * the whole value through the exact code-point walk (mirrors Spark's
    * ascii(substring(text, i, 1)) per-character semantics).
    */
  def charFingerprint(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) < 0) return charFingerprintSlow(s)
      acc += (i + 1).toLong * bytes(i)
      // lazy reduction: keep partials far from i64 range regardless of
      // document length (terms are ≤ 127 * position)
      if (acc >= (1L << 62)) acc %= Mod
      i += 1
    }
    acc % Mod
  }

  private def charFingerprintSlow(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var pos = 1L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc + pos * cp) % Mod
      pos += 1
      i += Character.charCount(cp)
    }
    acc
  }
}
