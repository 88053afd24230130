package graft

import graft.codec.{Codecs, CodecSelector}
import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalyst-surface tests: SQL-registered codec expressions roundtrip inside
  * Spark plans, stay codegen'd, and agree with the pure JVM kernels.
  */
class ExpressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private lazy val rows: Seq[(String, Seq[Int])] = Seq(
    "empty" -> Seq.empty[Int],
    "single" -> Seq(42),
    "runs" -> Seq.tabulate(513)(i => i / 16),
    "lowcard" -> Seq.tabulate(777)(i => (i * 13) % 64),
    "sorted" -> Seq.tabulate(400)(i => i * 3 + (i * 17) % 3),
    "stringy" -> Seq.tabulate(512)(i => (1 + i % 9) * 111111111 + (i * 7) % 89),
    "random" -> Seq.tabulate(100)(i => (i * 1103515245 + 12345) % 2147480009),
    "extremes" -> Seq(Int.MinValue, Int.MaxValue, 0, -1)
  )

  test("decode(encode_auto(tokens)) is bit-identical through a Spark plan") {
    val df = rows.toDF("name", "tokens")
      .withColumn("tokens", $"tokens".cast("array<int>"))
    GraftFunctions.register(spark)
    val out = df
      .withColumn("blob", call_function("encode_auto", $"tokens"))
      .withColumn("decoded", call_function("decode_tokens", $"blob"))
      .select($"name", $"tokens", $"decoded",
        call_function("codec_of", $"blob").as("codec"))
      .collect()
    assert(out.length == rows.length)
    out.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"row ${r.getString(0)}")
    }
    val codecByName = out.map(r => r.getString(0) -> r.getString(3)).toMap
    assert(codecByName("sorted") == "fordelta")
    assert(codecByName("stringy") == "fsst")
  }

  test("every named codec roundtrips via SQL text") {
    GraftFunctions.register(spark)
    rows.toDF("name", "tokens")
      .withColumn("tokens", $"tokens".cast("array<int>"))
      .createOrReplaceTempView("tok")
    for (codec <- Codecs.all) {
      val bad = spark.sql(
        s"""SELECT name FROM tok
           |WHERE decode_tokens(encode_tokens(tokens, '${codec.name}')) != tokens
           |""".stripMargin).collect()
      assert(bad.isEmpty, s"codec ${codec.name} failed rows: ${bad.mkString(",")}")
    }
  }

  test("expressions agree with the JVM kernels byte-for-byte") {
    GraftFunctions.register(spark)
    val df = rows.toDF("name", "tokens")
      .withColumn("tokens", $"tokens".cast("array<int>"))
      .withColumn("blob", call_function("encode_auto", $"tokens"))
    df.select($"tokens", $"blob").collect().foreach { r =>
      val xs = r.getSeq[Int](0).toArray
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](1),
        CodecSelector.encodeAuto(xs)))
    }
  }

  test("null discipline: null tokens -> null blob -> null decode") {
    GraftFunctions.register(spark)
    val df = spark.sql(
      """SELECT decode_tokens(encode_auto(CAST(NULL AS array<int>))) AS d,
        |       encode_auto(CAST(NULL AS array<int>)) AS b,
        |       codec_of(CAST(NULL AS binary)) AS c""".stripMargin)
    val r = df.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("encode/decode stay inside whole-stage codegen over a parquet scan") {
    GraftFunctions.register(spark)
    val dir = SparkTestSession.tempDir("graft-wsc").toString
    rows.toDF("name", "tokens")
      .withColumn("tokens", $"tokens".cast("array<int>"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .withColumn("blob", call_function("encode_auto", $"tokens"))
      .withColumn("n", size(call_function("decode_tokens", $"blob")))
      .filter($"n" >= 0)
    // `*(N)` prefixes mark operators fused into WholeStageCodegen stage N;
    // encode/decode must sit inside a fused span, not a CodegenFallback body.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("*(1) Filter"), plan)
    assert(df.count() == rows.length)
  }

  test("token_stats exposes selector inputs") {
    GraftFunctions.register(spark)
    val df = Seq(Seq(5, 5, 5, 1, 2)).toDF("tokens")
      .withColumn("tokens", $"tokens".cast("array<int>"))
      .select(call_function("token_stats", $"tokens").as("st"))
      .select($"st.n", $"st.min", $"st.max", $"st.n_runs", $"st.n_distinct",
        $"st.sorted", $"st.codec")
    val r = df.collect()(0)
    assert(r.getInt(0) == 5 && r.getLong(1) == 1L && r.getLong(2) == 5L)
    assert(r.getInt(3) == 3 && r.getInt(4) == 3 && !r.getBoolean(5))
  }

  test("sig_agree kernel ≡ interpreted zip_with mirror; null lanes never match") {
    GraftFunctions.register(spark)
    // signatures that agree on ~2/3 of lanes, varied per row
    val cmp = spark.range(0, 64).selectExpr(
      "transform(sequence(0, 31), i -> CAST(hash(id, i) AS BIGINT)) AS a",
      "transform(sequence(0, 31), i -> CAST(hash(id + CASE WHEN i % 3 = 0 THEN 1000 ELSE 0 END, i) AS BIGINT)) AS b")
      .selectExpr(
        "sig_agree(a, b) AS native",
        "aggregate(zip_with(a, b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (p, q) -> p + q) AS hof")
      .collect()
    cmp.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    // null lanes never match; extra lanes beyond the shorter array ignored
    val edge = spark.sql(
      "SELECT sig_agree(array(1L, NULL, 3L), array(1L, NULL, 3L, 9L)) AS v")
      .collect()(0).getInt(0)
    assert(edge == 2)
  }

  test("minhash_signature tolerates null elements (hashes like empty string)") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT minhash_signature(array('a', NULL, 'b', 'c'), 8) AS with_null,
        |       minhash_signature(array('a', '', 'b', 'c'), 8) AS with_empty""".stripMargin)
      .collect()(0)
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
  }
}
