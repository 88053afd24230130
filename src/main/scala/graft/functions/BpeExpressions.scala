package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native kernels for the distributed BPE trainer ([[graft.ops.Bpe]]).
  *
  * Reference scope note: the reference engine has no tokenizer trainer —
  * this is part of the builder mandate's training-data-pipeline surface
  * (the operator a 100 TB corpus actually needs before any of the token
  * tables exist). Semantics are the published BPE merge step (Sennrich et
  * al., ACL'16 §3.2): replace every non-overlapping occurrence of the
  * most frequent adjacent symbol pair with a fresh symbol, greedily left
  * to right.
  */

/** bpe_merge(tokens array<bigint>, lhs, rhs, new_id) -> array<bigint>:
  * one greedy left-to-right pass replacing each non-overlapping adjacent
  * occurrence of (lhs, rhs) with new_id. Leftmost-first, so a run
  * `x x x` under merge (x, x) yields `[new, x]` — the classic BPE rule.
  * Native because this is the per-row hot loop of every trainer
  * iteration and the higher-order fold formulation is CodegenFallback
  * (and recomputed per plan reference).
  *
  * Elements must be non-nullable (the trainer's corpora are
  * `gen_tokens` outputs, containsNull = false); the type check rejects
  * nullable-element arrays rather than inventing a null-merge rule.
  */
case class BpeMerge(child: Expression, lhs: Long, rhs: Long, newId: Long)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bpe_merge"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> with non-null elements, got ${dt.sql}")
  }

  override protected def kernel = BpeMerge
  override protected def method = "compute"
  override protected def arguments =
    Seq(child, Literal(lhs), Literal(rhs), Literal(newId))

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object BpeMerge {
  /** Java-callable kernel (used from generated code). One pass, one
    * bounded allocation; the output is at least ceil(n/2) elements so the
    * copyOf only fires when a merge actually landed.
    */
  def compute(arr: ArrayData, a: Long, b: Long, nid: Long): Array[Long] = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var m = 0
    var j = 0
    while (j < n) {
      val t = arr.getLong(j)
      if (t == a && j + 1 < n && arr.getLong(j + 1) == b) {
        out(m) = nid; m += 1; j += 2
      } else {
        out(m) = t; m += 1; j += 1
      }
    }
    if (m == n) out else java.util.Arrays.copyOf(out, m)
  }
}

/** long_checksum(arr array<bigint>) -> bigint:
  * `pmod(sum(pmod((i+1) * v_i, M)), M)` with 1-based positions and
  * M = 1_000_000_007 — the positional content fold for BIGINT-valued
  * sequences (merged BPE ids exceed int32, so [[TokenChecksum]] can't
  * carry them). Per-term reduction keeps every partial in i64 as long as
  * each term `(i+1) * v` does — holds whenever |v| < 2^62 / n, which the
  * trainer's domain satisfies by orders of magnitude (ids < 2^32, docs
  * < 2^13 tokens). Congruent with token_checksum's lazy-reduction fold
  * on their shared domain, and value-identical to the DuckDB replay
  * `sum((rn * tok) % M) % M` because every term is non-negative there.
  */
case class LongChecksum(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "long_checksum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> with non-null elements, got ${dt.sql}")
  }

  override protected def kernel = LongChecksum
  override protected def method = "compute"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object LongChecksum {
  /** Java-callable kernel (used from generated code). Partials stay far
    * from i64 range: each reduced term is < M, and n × (M − 1) < 2^61
    * for any array Spark can hold.
    */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      s += java.lang.Math.floorMod((i + 1).toLong * arr.getLong(i), ChecksumKernels.Mod)
      i += 1
    }
    s % ChecksumKernels.Mod
  }
}
