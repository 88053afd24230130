package graft

import graft.sources.Tokens
import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL entry point (reference lifecycle §3: CLI/library/Python all
  * resolve to the same query layer): every registered function must be
  * usable from `spark.sql` text over temp views, with results identical to
  * the DataFrame API formulations used elsewhere.
  */
class SqlSurfaceSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  test("end-to-end SQL text: views + custom functions compose") {
    graft.functions.GraftFunctions.register(spark)
    Tokens.fromDocuments(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("tokens_v")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("docs_v")

    // encode/decode/stats through SQL text only
    val r = spark.sql(
      """SELECT source,
        |  count(*) AS n_docs,
        |  sum(token_checksum(decode_tokens(encode_auto(tokens)))) AS cks,
        |  sum(token_checksum(tokens)) AS cks_direct,
        |  sum(CASE WHEN codec_of(encode_auto(tokens)) = 'fsst' THEN 1 ELSE 0 END) AS n_fsst
        |FROM tokens_v GROUP BY source ORDER BY source""".stripMargin).collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getLong(2) == row.getLong(3), row)) // roundtrip ≡ direct

    // generator + lateral view in SQL
    val frames = spark.sql(
      """SELECT d.doc_id, f.node_id, f.depth
        |FROM docs_v d
        |LATERAL VIEW call_frames(d.doc_id) f AS node_id, depth, path, failed_subtree
        |WHERE f.failed_subtree = 0 AND d.doc_id < 5""".stripMargin)
    assert(frames.count() > 0)

    // struct codec + chain scalars in SQL
    val ev = spark.sql(
      """SELECT doc_id,
        |  decode_struct(encode_struct('h:bytes4,n:u32', substring(keccak256(CAST(text AS BINARY)), 1, 4), n_chars), 'h:bytes4,n:u32') AS ev
        |FROM docs_v LIMIT 5""".stripMargin)
      .selectExpr("doc_id", "hex(ev.h) AS h", "ev.n AS n").collect()
    assert(ev.length == 5 && ev.forall(_.getString(1).length == 8))
  }

  test("literal-required function parameters fail loudly on column arguments") {
    graft.functions.GraftFunctions.register(spark)
    Tokens.fromDocuments(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("tokens_lit_v")
    // a column where a literal is required must raise a clear
    // "literal"-mentioning error at plan time, not an opaque
    // BoundReference NPE from eval(null); an out-of-range literal fails
    // analysis instead of wrapping bits or failing per row
    val vec = "CAST(tokens AS ARRAY<DOUBLE>)"
    val words = "CAST(tokens AS ARRAY<STRING>)"
    for ((q, expected) <- Seq(
        "SELECT bpe_merge(tokens, doc_id, 2, 3) FROM tokens_lit_v" -> "literal",
        "SELECT minhash_signature(tokens, doc_id) FROM tokens_lit_v" -> "literal",
        s"SELECT hyperplane_buckets($vec, doc_id, 1) FROM tokens_lit_v" -> "literal",
        s"SELECT hyperplane_buckets($vec, 65, 1) FROM tokens_lit_v" -> "planes must be in [0, 64]",
        s"SELECT hyperplane_buckets($vec, -1, 1) FROM tokens_lit_v" -> "planes must be in [0, 64]",
        s"SELECT hyperplane_buckets($vec, 8, 0) FROM tokens_lit_v" -> "tables must be >= 1",
        s"SELECT hyperplane_buckets($vec, 8, -1) FROM tokens_lit_v" -> "tables must be >= 1",
        s"SELECT minhash_signature($words, 0) FROM tokens_lit_v" -> "k must be >= 1",
        s"SELECT minhash_signature($words, -3) FROM tokens_lit_v" -> "k must be >= 1")) {
      val e = intercept[Exception](spark.sql(q).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.toLowerCase.contains(expected)), e.toString)
    }
  }
}
