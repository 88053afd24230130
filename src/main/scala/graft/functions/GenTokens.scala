package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** gen_tokens(doc_id bigint, n_tok bigint) -> array<int>: the deterministic
  * profile-striped token generator ([[graft.sources.Tokens.genSql]]) as a
  * native kernel. MUST stay value-identical to the SQL formulation — the
  * DuckDB oracle recomputes the same arithmetic independently, and
  * [[graft.TokensSpec]] asserts expression ≡ SQL on every profile. Native
  * because Spark's transform/sequence lambdas are CodegenFallback: the
  * interpreted generator dominated the cold pipeline benchmark.
  */
case class GenTokens(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "gen_tokens"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (bigint doc_id, bigint n_tok)")
    }

  override protected def kernel = Kernels
  override protected def method = "genTokens"

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object GenTokens {
  /** Exactly [[graft.sources.Tokens.genSql]]'s arithmetic, in i64. */
  def generate(d: Long, n: Int): Array[Int] = {
    val out = new Array[Int](n)
    val profile = (d % 6).toInt
    var i = 0L
    profile match {
      case 0 =>
        while (i < n) { out(i.toInt) = ((d + (i / 16) * 131) % 997).toInt; i += 1 }
      case 1 =>
        while (i < n) { out(i.toInt) = ((d * 7 + i * 13) % 64).toInt; i += 1 }
      case 2 =>
        while (i < n) {
          out(i.toInt) = ((d % 1000) * 4096 + (d * 2654435761L + i * 40503) % 251).toInt
          i += 1
        }
      case 3 =>
        while (i < n) { out(i.toInt) = (i * 3 + (d * 31 + i * 17) % 3).toInt; i += 1 }
      case 4 =>
        while (i < n) {
          out(i.toInt) = ((1 + (d + i) % 9) * 111111111 + (d * 11 + i * 7) % 89).toInt
          i += 1
        }
      case _ =>
        while (i < n) {
          out(i.toInt) = ((d * 1103515245L + i * i * 999983L + i * 12345L) % 2147480009L).toInt
          i += 1
        }
    }
    out
  }
}
