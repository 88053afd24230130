package graft

import graft.codec.CodecSelector
import graft.functions.{GraftFunctions, Keccak}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every native expression computes one row two ways: the generated Java
  * that whole-stage codegen compiles, and the interpreted `eval` that a
  * projection falls back to. Which one a query takes depends on its plan,
  * so this spec runs each function over the same parquet-backed frame
  * under `CODEGEN_ONLY` and under `NO_CODEGEN` (with whole-stage codegen
  * off) and requires the same values, null inputs included. It also pins
  * each expression's SQL string and nullability, which plan strings,
  * canonicalization and null propagation read.
  */
class CodegenParitySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  /** (SQL over the parquet frame, the expression's `sql` string). */
  private val cases: Seq[(String, String)] = Seq(
    "encode_tokens(tokens, 'plain')" -> "encode_tokens(tokens, 'plain')",
    "encode_tokens(tokens, 'rle')" -> "encode_tokens(tokens, 'rle')",
    "encode_tokens(tokens, 'bitpack')" -> "encode_tokens(tokens, 'bitpack')",
    "encode_tokens(tokens, 'fordelta')" -> "encode_tokens(tokens, 'fordelta')",
    "encode_tokens(tokens, 'dict')" -> "encode_tokens(tokens, 'dict')",
    "encode_tokens(tokens, 'fsst')" -> "encode_tokens(tokens, 'fsst')",
    "encode_auto(tokens)" -> "encode_auto(tokens)",
    "decode_tokens(blob)" -> "decode_tokens(blob)",
    "codec_of(blob)" -> "codec_of(blob)",
    "hyperplane_buckets(vec, 8, 4)" -> "hyperplane_buckets(vec)",
    "vec_dot(vec, vec)" -> "vec_dot(vec, vec)",
    "vec_normalize(vec)" -> "vec_normalize(vec)",
    "vec_normalize(fvec)" -> "vec_normalize(fvec)",
    "simhash64(words)" -> "simhash64(words)",
    "minhash_signature(words, 16)" -> "minhash_signature(words)",
    "shingle_hashes(words, 3)" -> "shingle_hashes(words)",
    "cut_spans(words, cuts, 2)" -> "cut_spans(words, cuts)",
    "sig_agree(sig1, sig2)" -> "sig_agree(sig1, sig2)",
    "token_checksum(tokens)" -> "token_checksum(tokens)",
    "tokens_sum(tokens)" -> "tokens_sum(tokens)",
    "char_fingerprint(text)" -> "char_fingerprint(text)",
    "keccak256(blob)" -> "keccak256(blob)",
    "u256_to_string(h32)" -> "u256_to_string(h32)",
    "u256_to_f64(h32)" -> "u256_to_f64(h32)",
    "u256_to_f32(h32)" -> "u256_to_f32(h32)",
    "bpe_merge(longs, 1, 2, 99)" -> "bpe_merge(longs)",
    "long_checksum(longs)" -> "long_checksum(longs)",
    "gen_tokens(id, n_tok)" -> "gen_tokens(id, n_tok)"
  )

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false)),
    StructField("blob", BinaryType),
    StructField("vec", ArrayType(DoubleType, containsNull = false)),
    StructField("fvec", ArrayType(FloatType, containsNull = false)),
    StructField("words", ArrayType(StringType)),
    StructField("cuts", ArrayType(LongType)),
    StructField("sig1", ArrayType(LongType)),
    StructField("sig2", ArrayType(LongType)),
    StructField("text", StringType),
    StructField("h32", BinaryType),
    StructField("longs", ArrayType(LongType, containsNull = false)),
    StructField("n_tok", LongType)))

  private def row(i: Int): Row = {
    val tokens = i % 5 match {
      case 0 => Seq.tabulate(40 + i)(j => j / 8)
      case 1 => Seq.tabulate(30)(j => (j * 13 + i) % 16)
      case 2 => Seq.tabulate(25)(j => j * 3 + i)
      case 3 => Seq.tabulate(20)(j => (1 + j % 9) * 111111111 + i)
      case _ => if (i % 2 == 0) Seq.empty[Int] else Seq(Int.MinValue, Int.MaxValue, 0, -1)
    }
    val vec = Seq.tabulate(6)(j => math.sin(i * 7.0 + j) * (j + 1))
    val words = Seq.tabulate(i % 7)(j => Seq("the", "cat", "sat", "é", "猫", "on")((i + j) % 6)) ++
      (if (i % 4 == 1) Seq(null, "mat") else Nil)
    val text = words.filter(_ != null).mkString(" ") + (if (i % 3 == 0) " naïve 🙂" else "")
    Row(i.toLong, tokens, CodecSelector.encodeAuto(tokens.toArray),
      if (i == 3) Seq.fill(6)(0.0) else vec, vec.map(_.toFloat),
      words, Seq(0L, 2L, 5L).filter(_ < i % 7),
      Seq.tabulate(8)(j => ((i + j) % 3).toLong),
      Seq.tabulate(if (i % 4 == 2) 6 else 8)(j => if (j == 5 && i % 3 == 0) null else (j % 2).toLong),
      text, Keccak.hash256(text.getBytes("UTF-8")),
      Seq.tabulate(i % 9)(j => Seq(1L, 2L, 1L, 1L, 2L)(j % 5)), (i % 6).toLong)
  }

  /** The parquet frame; `longs` is re-declared with non-null elements,
    * which bpe_merge and long_checksum require and parquet does not keep.
    */
  private def scan: DataFrame = spark.read.parquet(data)
    .withColumn("longs", org.apache.spark.sql.functions.expr("transform(longs, x -> coalesce(x, 0L))"))

  private lazy val data: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-parity").resolve("kc").toString
    val nulls = Row.fromSeq(30L +: Seq.fill(schema.length - 1)(null))
    spark.createDataFrame(spark.sparkContext.parallelize((0 until 30).map(row) :+ nulls, 2), schema)
      .write.parquet(dir)
    dir
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case o => o.toString
  }

  /** Evaluates every case over the parquet frame under one codegen setting
    * and returns id -> rendered values, plus whether any stage was fused.
    */
  private def evalUnder(mode: String, wholeStage: Boolean): (Map[Long, Seq[String]], Boolean) = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), mode)
    spark.conf.set(keys(1), wholeStage.toString)
    try {
      val df = scan.selectExpr(
        "id" +: cases.zipWithIndex.map { case ((q, _), i) => s"$q AS c$i" }: _*)
      val rows = df.collect()
      val fused = df.queryExecution.executedPlan.toString.contains("*(")
      (rows.map(r => r.getLong(0) -> (1 to cases.length).map(i => render(r.get(i)))).toMap, fused)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("generated and interpreted paths agree on every native expression, nulls included") {
    GraftFunctions.register(spark)
    val (generated, fused) = evalUnder("CODEGEN_ONLY", wholeStage = true)
    val (interpreted, fusedInterp) = evalUnder("NO_CODEGEN", wholeStage = false)
    assert(fused && !fusedInterp)
    assert(generated.keySet == (0L to 30L).toSet)
    assert(generated.keySet == interpreted.keySet)
    for (((q, _), i) <- cases.zipWithIndex) {
      for (id <- generated.keys.toSeq.sorted)
        assert(generated(id)(i) == interpreted(id)(i), s"$q at id $id")
      assert(generated(30L)(i) == "null", q)
      assert((0L until 30L).forall(id => generated(id)(i) != "null"), q)
    }
  }

  test("each native expression keeps its SQL string and nullability") {
    GraftFunctions.register(spark)
    val scan = this.scan
    // the same columns declared non-null: analysis only, never executed
    val nonNull = spark.createDataFrame(scan.rdd,
      StructType(scan.schema.map(_.copy(nullable = false))))
    for ((q, sql) <- cases; (df, nullable) <- Seq(scan -> true, nonNull -> false)) {
      val e = df.selectExpr(q).queryExecution.analyzed match {
        case Project(Seq(a: Alias), _) => a.child
        case p => fail(s"$q: unexpected plan $p")
      }
      assert(e.sql == sql, q)
      assert(e.nullable == nullable, q)
    }
  }

  test("no function source writes its own doGenCode outside KernelCall") {
    // NowNanos reads the clock per row and DecodeStruct holds a per-plan
    // decoder; every other native expression names a kernel through KernelCall
    val allowed = Set("KernelCall.scala", "NowNanos.scala", "StructCodec.scala")
    val root = java.nio.file.Paths.get("src/main/scala/graft/functions")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val sources = {
      val list = java.nio.file.Files.list(root)
      try list.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally list.close()
    }
    val hits = for {
      f <- sources
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      if code.contains("def doGenCode")
    } yield (f.getFileName.toString, s":${i + 1}")
    // the scan sees the trait's own definition
    assert(hits.exists(_._1 == "KernelCall.scala"), hits)
    val offenders = hits.filterNot(h => allowed(h._1)).map { case (f, at) => f + at }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
