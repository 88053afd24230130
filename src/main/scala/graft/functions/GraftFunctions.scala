package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** SQL registration + Column helpers for the codec expression family.
  *
  * Registered as temp functions (per the reference's extension-point table,
  * SURVEY.md §2.8) so queries can use them from both SQL text and the
  * DataFrame API via `call_function` — the stable public bridge in Spark 4.
  */
object GraftFunctions {

  // Register once per session: re-registration is harmless but makes
  // SimpleFunctionRegistry emit a "replaced a previously registered
  // function" WARN per function per call — noise that polluted the
  // driver-captured bench output. Weak keys: sessions are not pinned.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  def register(spark: SparkSession): Unit = {
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) != null) return
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("encode_tokens",
      exprs => EncodeTokens(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("encode_auto",
      exprs => EncodeAuto(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("decode_tokens",
      exprs => DecodeTokens(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("codec_of",
      exprs => CodecOf(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("token_stats",
      exprs => TokenStats(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("gen_tokens",
      exprs => GenTokens(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("now_nanos",
      _ => NowNanos(), "scala_udf")
    reg.createOrReplaceTempFunction("decode_struct",
      exprs => DecodeStruct(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("encode_struct",
      exprs => EncodeStruct(exprs), "scala_udf")
    reg.createOrReplaceTempFunction("call_frames",
      exprs => CallFrames(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("token_checksum",
      exprs => TokenChecksum(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("tokens_sum",
      exprs => TokensSum(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("char_fingerprint",
      exprs => CharFingerprint(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("keccak256",
      exprs => Keccak256(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("u256_to_string",
      exprs => U256ToString(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("u256_to_f64",
      exprs => U256ToDouble(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("u256_to_u64",
      exprs => U256ToLong(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("u256_to_f32",
      exprs => U256ToFloat(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("u256_to_u32",
      exprs => U256ToUInt(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("u256_to_d128",
      exprs => U256ToDecimal128(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_signature",
      exprs => MinhashSignature(exprs(0), litInt(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64",
      exprs => Simhash64(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("sig_agree",
      exprs => SigAgree(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("shingle_hashes",
      exprs => ShingleHashes(exprs(0), litInt(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("cut_spans",
      exprs => CutSpans(exprs(0), exprs(1), litInt(exprs(2))), "scala_udf")
    reg.createOrReplaceTempFunction("vec_dot",
      exprs => VecDot(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vec_normalize",
      exprs => VecNormalize(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("hyperplane_buckets",
      exprs => HyperplaneBuckets(exprs(0), litInt(exprs(1)),
        litInt(exprs(2))), "scala_udf")
    reg.createOrReplaceTempFunction("bpe_merge",
      exprs => BpeMerge(exprs(0), litLong(exprs(1)), litLong(exprs(2)),
        litLong(exprs(3))), "scala_udf")
    reg.createOrReplaceTempFunction("long_checksum",
      exprs => LongChecksum(exprs.head), "scala_udf")
  }

  /** Fold a literal parameter expression to Long (SQL integer literals
    * parse as Int below 2^31, the Column API passes Long — accept both).
    * Foldability is checked FIRST: eval(null) on a non-foldable argument
    * (e.g. `bpe_merge(tokens, some_col, …)`) would surface as an opaque
    * BoundReference NPE instead of a clear "literal required" error.
    */
  private def litLong(e: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    require(e.foldable, s"expected an integer literal argument, " +
      s"got a non-literal expression: ${e.sql}")
    e.eval(null) match {
      case l: java.lang.Long => l
      case i: java.lang.Integer => i.toLong
      case other => throw new IllegalArgumentException(
        s"expected an integer literal, got $other (from ${e.sql})")
    }
  }

  /** Int variant for bounded parameters (signature counts, shingle sizes,
    * plane/table counts) — same foldability-first contract as [[litLong]].
    */
  private def litInt(e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    val l = litLong(e)
    require(l >= Int.MinValue && l <= Int.MaxValue,
      s"integer parameter out of Int range: $l (from ${e.sql})")
    l.toInt
  }

  def encode_tokens(tokens: Column, codec: String): Column =
    call_function("encode_tokens", tokens, org.apache.spark.sql.functions.lit(codec))
  def encode_auto(tokens: Column): Column = call_function("encode_auto", tokens)
  def decode_tokens(blob: Column): Column = call_function("decode_tokens", blob)
  def codec_of(blob: Column): Column = call_function("codec_of", blob)
  def token_stats(tokens: Column): Column = call_function("token_stats", tokens)
}
