package graft

import graft.sources.Tokens
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native GenTokens kernel must be value-identical to the SQL-lambda
  * generator — the DuckDB oracle independently recomputes that arithmetic,
  * so any divergence would silently break every codec-roundtrip oracle.
  */
class TokensSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  test("gen_tokens kernel ≡ SQL transform/sequence formulation") {
    graft.functions.GraftFunctions.register(spark)
    // cover all 6 profiles × several doc ids incl. a giant (id 0, 97, 194)
    val ids = ((0L to 23L) ++ Seq(97L, 194L, 388L, 485L)).toSeq
    val df = spark.range(0, 1).selectExpr(
      "explode(array(" + ids.map(_ + "L").mkString(",") + ")) AS doc_id")
      .withColumn("n_tok", expr(Tokens.nTokSql("doc_id")).cast("long"))
      .withColumn("native", call_function("gen_tokens", col("doc_id"), col("n_tok")))
      .withColumn("sql_form", expr(
        s"CAST(transform(sequence(0L, n_tok - 1), i -> ${Tokens.genSql("doc_id", "i")}) AS array<int>)"))
    val bad = df.filter(not(col("native") <=> col("sql_form"))).count()
    assert(bad == 0)
    // and the documents-derived table uses the native path
    val t = Tokens.fromDocuments(spark, "/root/testdata/sf0.001")
    assert(t.queryExecution.analyzed.toString.contains("gen_tokens"))
  }

  test("token_checksum kernel ≡ SQL aggregate/transform formulation") {
    graft.functions.GraftFunctions.register(spark)
    val df = Tokens.fromDocuments(spark, "/root/testdata/sf0.001")
      .withColumn("native", expr(Tokens.checksumCall("tokens")))
      .withColumn("sql_form", expr(Tokens.checksumSql("tokens")))
    assert(df.filter(col("native") =!= col("sql_form")).count() == 0)
    // empty array edge
    val e = spark.sql(
      s"SELECT token_checksum(CAST(array() AS array<int>)) AS n, " +
        s"tokens_sum(CAST(array() AS array<int>)) AS s")
      .collect()(0)
    assert(e.getLong(0) == 0L && e.getLong(1) == 0L)
  }

  test("tokens_sum kernel ≡ SQL aggregate formulation") {
    graft.functions.GraftFunctions.register(spark)
    val df = Tokens.fromDocuments(spark, "/root/testdata/sf0.001")
      .withColumn("native", expr("tokens_sum(tokens)"))
      .withColumn("sql_form",
        expr("aggregate(transform(tokens, x -> CAST(x AS BIGINT)), 0L, (a, b) -> a + b)"))
    assert(df.filter(col("native") =!= col("sql_form")).count() == 0)
  }

  test("row-validity filter drops null-keyed rows at the source (F3)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tmp = SparkTestSession.tempDir("tokens-validity").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val rows = Seq(
      Row(1L, "alpha beta", "en", "src1", 10L),
      Row(null, "corrupt row", "en", "src1", 11L),
      Row(3L, "gamma delta", "en", "src2", 11L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val t = Tokens.fromDocuments(spark, tmp)
    assert(t.count() == 2 && t.filter(col("doc_id").isNull).count() == 0)
    // the validity predicate reaches the scan
    val plan = t.queryExecution.executedPlan.toString
    assert(plan.contains("IsNotNull(doc_id)"), plan)
  }

  test("synthetic generator is independent of partitioning") {
    val a = Tokens.synthetic(spark, 200, numPartitions = 1)
      .select(col("doc_id"), xxhash64(col("tokens")).as("h")).orderBy("doc_id").collect()
    val b = Tokens.synthetic(spark, 200, numPartitions = 7)
      .select(col("doc_id"), xxhash64(col("tokens")).as("h")).orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }
}
