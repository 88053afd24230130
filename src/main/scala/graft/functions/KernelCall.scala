package graft.functions

import graft.codec.{CodecSelector, Codecs}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ObjectType}
import org.apache.spark.unsafe.types.UTF8String

/** A native expression whose row value is one call of a static JVM kernel
  * method. The trait builds one `StaticInvoke` of `kernel.method` over
  * [[arguments]] and runs it on both paths: `eval` for interpreted
  * projections, `doGenCode` for generated code, which emits a direct
  * static call inside the whole-stage codegen span. A primitive-array
  * result is wrapped with `UnsafeArrayData.fromPrimitiveArray` here, for
  * every expression. The invoke is a hidden field, not a child: plan
  * strings, canonicalization, subexpression elimination and optimizer
  * rules see only the expression. A null argument gives a null result.
  */
trait KernelCall extends Expression {

  /** The Scala object whose method computes one row. */
  protected def kernel: AnyRef

  protected def method: String

  /** The method's arguments: by default the children; an expression with
    * plan-time parameters passes them as literals after its children.
    */
  protected def arguments: Seq[Expression] = children

  @transient private lazy val call: Expression = dataType match {
    case ArrayType(et, false) if CodeGenerator.isPrimitiveType(et) =>
      val array = ObjectType(CodeGenerator.javaClass(et).arrayType())
      StaticInvoke(classOf[UnsafeArrayData], dataType, "fromPrimitiveArray",
        Seq(StaticInvoke(kernel.getClass, array, method, arguments, returnNullable = false)),
        returnNullable = false)
    case _ => StaticInvoke(kernel.getClass, dataType, method, arguments, returnNullable = false)
  }

  override def nullable: Boolean = children.exists(_.nullable)
  override def nullIntolerant: Boolean = true
  override def eval(input: InternalRow): Any = call.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)
}

/** The kernel entry points that take or return Catalyst's internal types.
  * The codec, vector and token kernels keep their plain-array signatures
  * for their JVM callers; these adapt them to what a row holds.
  */
object Kernels {
  def encodeTokens(tokens: ArrayData, tag: Byte): Array[Byte] =
    Codecs.byTag(tag).encode(tokens.toIntArray())

  def encodeAuto(tokens: ArrayData): Array[Byte] =
    CodecSelector.encodeAuto(tokens.toIntArray())

  def codecOf(blob: Array[Byte]): UTF8String =
    UTF8String.fromString(Codecs.codecNameOf(blob))

  def hyperplaneBuckets(unit: ArrayData, planes: Int, tables: Int): Array[Long] =
    HyperplaneBuckets.buckets(unit.toDoubleArray(), planes, tables)

  def vecDot(a: ArrayData, b: ArrayData): Double =
    VecKernels.dot(a.toDoubleArray(), b.toDoubleArray())

  def normalizeDoubles(a: ArrayData): Array[Double] =
    VecKernels.normalize(a.toDoubleArray())

  def normalizeFloats(a: ArrayData): Array[Double] =
    VecKernels.normalize(VecKernels.toDouble(a.toFloatArray()))

  def genTokens(docId: Long, nTok: Long): Array[Int] =
    GenTokens.generate(docId, nTok.toInt)

  /** Big-endian unsigned 256-bit value as a decimal string. */
  def u256ToString(bytes: Array[Byte]): UTF8String =
    UTF8String.fromString(new java.math.BigInteger(1, bytes).toString)

  def u256ToDouble(bytes: Array[Byte]): Double =
    new java.math.BigInteger(1, bytes).doubleValue()

  def u256ToFloat(bytes: Array[Byte]): Float =
    new java.math.BigInteger(1, bytes).floatValue()
}
