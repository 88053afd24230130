package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Scalar functions mirroring the reference's chain-data type system
  * (SURVEY.md §2.7): keccak256 (cryo hashes init code / calldata,
  * crates/freeze/src/datasets/contracts.rs:94-95 — Spark ships sha2/md5 but
  * no keccak), and the UInt256 multi-representation fan-out
  * (crates/freeze/src/types/dataframes/creation.rs:27-96: one logical
  * 32-byte column becomes binary/string/f64/u64 variants per `u256_types`).
  */

/** keccak256(binary) -> 32-byte binary. Keccak-f[1600] with the original
  * Keccak padding (0x01), i.e. the Ethereum variant, not NIST SHA3's 0x06.
  */
case class Keccak256(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "keccak256"

  override def checkInputDataTypes(): TypeCheckResult =
    TokenExprs.requireBinary(prettyName, child.dataType)

  override protected def kernel = Keccak
  override protected def method = "hash256"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Keccak-f[1600] sponge, rate 1088 (256-bit output). Public algorithm
  * (Bertoni/Daemen/Peeters/Van Assche, the Keccak reference).
  */
object Keccak {
  private val RC = Array(
    0x0000000000000001L, 0x0000000000008082L, 0x800000000000808aL,
    0x8000000080008000L, 0x000000000000808bL, 0x0000000080000001L,
    0x8000000080008081L, 0x8000000000008009L, 0x000000000000008aL,
    0x0000000000000088L, 0x0000000080008009L, 0x000000008000000aL,
    0x000000008000808bL, 0x800000000000008bL, 0x8000000000008089L,
    0x8000000000008003L, 0x8000000000008002L, 0x8000000000000080L,
    0x000000000000800aL, 0x800000008000000aL, 0x8000000080008081L,
    0x8000000000008080L, 0x0000000080000001L, 0x8000000080008008L)

  private val RotOff = Array(
    Array(0, 36, 3, 41, 18), Array(1, 44, 10, 45, 2),
    Array(62, 6, 43, 15, 61), Array(28, 55, 25, 21, 56),
    Array(27, 20, 39, 8, 14))

  private def keccakF(a: Array[Long]): Unit = {
    val b = new Array[Long](25)
    val c = new Array[Long](5)
    val d = new Array[Long](5)
    var round = 0
    while (round < 24) {
      // theta
      var x = 0
      while (x < 5) {
        c(x) = a(x) ^ a(x + 5) ^ a(x + 10) ^ a(x + 15) ^ a(x + 20)
        x += 1
      }
      x = 0
      while (x < 5) {
        d(x) = c((x + 4) % 5) ^ java.lang.Long.rotateLeft(c((x + 1) % 5), 1)
        var y = 0
        while (y < 5) { a(x + 5 * y) ^= d(x); y += 1 }
        x += 1
      }
      // rho + pi
      x = 0
      while (x < 5) {
        var y = 0
        while (y < 5) {
          b(y + 5 * ((2 * x + 3 * y) % 5)) =
            java.lang.Long.rotateLeft(a(x + 5 * y), RotOff(x)(y))
          y += 1
        }
        x += 1
      }
      // chi
      x = 0
      while (x < 5) {
        var y = 0
        while (y < 5) {
          a(x + 5 * y) = b(x + 5 * y) ^ (~b((x + 1) % 5 + 5 * y) & b((x + 2) % 5 + 5 * y))
          y += 1
        }
        x += 1
      }
      // iota
      a(0) ^= RC(round)
      round += 1
    }
  }

  /** Ethereum-style keccak256 (original 0x01 padding). */
  def hash256(input: Array[Byte]): Array[Byte] = {
    val rateBytes = 136 // 1088 bits
    val state = new Array[Long](25)
    // absorb
    var off = 0
    while (input.length - off >= rateBytes) {
      var i = 0
      while (i < rateBytes / 8) {
        state(i) ^= leLong(input, off + i * 8)
        i += 1
      }
      keccakF(state)
      off += rateBytes
    }
    // final padded block
    val block = new Array[Byte](rateBytes)
    System.arraycopy(input, off, block, 0, input.length - off)
    block(input.length - off) = 0x01
    block(rateBytes - 1) = (block(rateBytes - 1) | 0x80).toByte
    var i = 0
    while (i < rateBytes / 8) {
      state(i) ^= leLong(block, i * 8)
      i += 1
    }
    keccakF(state)
    // squeeze 32 bytes
    val out = new Array[Byte](32)
    i = 0
    while (i < 4) {
      val v = state(i)
      var j = 0
      while (j < 8) { out(i * 8 + j) = (v >>> (8 * j)).toByte; j += 1 }
      i += 1
    }
    out
  }

  @inline private def leLong(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var j = 0
    while (j < 8) { v |= (b(off + j) & 0xffL) << (8 * j); j += 1 }
    v
  }
}

/** u256_to_decimal_string(binary[32]) -> string: big-endian unsigned 256-bit
  * to decimal string (cryo's {name}_string representation,
  * dataframes/creation.rs:56-63).
  */
case class U256ToString(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def prettyName: String = "u256_to_string"

  override def checkInputDataTypes(): TypeCheckResult =
    TokenExprs.requireBinary(prettyName, child.dataType)

  override protected def kernel = Kernels
  override protected def method = "u256ToString"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** u256_to_f64(binary[32]) -> double (cryo's {name}_f64 representation,
  * dataframes/creation.rs:64-71).
  */
case class U256ToDouble(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "u256_to_f64"

  override def checkInputDataTypes(): TypeCheckResult =
    TokenExprs.requireBinary(prettyName, child.dataType)

  override protected def kernel = Kernels
  override protected def method = "u256ToDouble"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** u256_to_f32(binary[32]) -> float (cryo's {name}_f32 representation,
  * dataframes/creation.rs:52-60).
  */
case class U256ToFloat(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = FloatType
  override def prettyName: String = "u256_to_f32"

  override def checkInputDataTypes(): TypeCheckResult =
    TokenExprs.requireBinary(prettyName, child.dataType)

  override protected def kernel = Kernels
  override protected def method = "u256ToFloat"

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** u256_to_u32(binary[32]) -> bigint in [0, 2^32), null on overflow
  * (cryo's {name}_u32 representation, creation.rs:73-79; Spark has no
  * unsigned 32-bit type, so the value widens to BIGINT and overflow is
  * null, consistent with u256_to_u64).
  */
case class U256ToUInt(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "u256_to_u32"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"$prettyName expects binary, got ${dt.sql}")
  }

  override def nullSafeEval(bytes: Any): Any = {
    val v = new java.math.BigInteger(1, bytes.asInstanceOf[Array[Byte]])
    if (v.bitLength() > 32) null else java.lang.Long.valueOf(v.longValue())
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** u256_to_d128 — declared-but-unimplemented parity with the reference:
  * requesting the Decimal128 representation fails at ANALYSIS time with
  * the same message cryo raises at collect time
  * ("DECIMAL128 not implemented", creation.rs:90-93).
  */
case class U256ToDecimal128(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DecimalType(38, 0)
  override def prettyName: String = "u256_to_d128"

  override def checkInputDataTypes(): TypeCheckResult =
    TypeCheckResult.TypeCheckFailure("DECIMAL128 not implemented")

  override def nullSafeEval(bytes: Any): Any =
    throw new UnsupportedOperationException("DECIMAL128 not implemented")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** u256_to_u64(binary[32]) -> long, null when the value exceeds the 63-bit
  * signed range (cryo errors on overflow, creation.rs:72-80; null is the
  * Spark-idiomatic signal).
  */
case class U256ToLong(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "u256_to_u64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"$prettyName expects binary, got ${dt.sql}")
  }

  override def nullSafeEval(bytes: Any): Any = {
    val v = new java.math.BigInteger(1, bytes.asInstanceOf[Array[Byte]])
    if (v.bitLength() > 63) null else java.lang.Long.valueOf(v.longValueExact())
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
