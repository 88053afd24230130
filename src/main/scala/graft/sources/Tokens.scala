package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's input table (BASELINE.json input_hint):
  * `(doc_id:string→bigint here, tokens:array<int32>, n_tok:int32, source:string)`.
  *
  * Two deterministic constructions, no external data:
  *
  *  1. [[fromDocuments]] — derives token arrays from the driver's
  *     `documents.parquet` with pure 64-bit integer arithmetic that is
  *     expressible identically in Spark SQL and DuckDB SQL, so the DuckDB
  *     oracle can recompute every token value and verify codec roundtrips
  *     value-exactly (the reference's write∘read `frame_equal` invariant,
  *     crates/python/python_tests/test_output_formats.py:26-41, promoted to
  *     a cross-engine check).
  *  2. [[synthetic]] — a scale-parameterized generator over `spark.range`
  *     with Zipf-hot `source` keys and heavy-tailed `n_tok` (giant arrays in
  *     the hot source) for skew/bench/e2e tests (FIXTURES.md §1).
  *
  * Six row profiles keyed by `doc_id % 6`, one per codec path (FIXTURES.md
  * row profiles): runs→RLE, lowcard→dict, narrow→bitpack/FOR,
  * sorted→FOR-delta, stringy→FSST, random→plain/bitpack fallback.
  */
object Tokens {

  /** Modulus for order-sensitive token checksums (fits comfortably in i64:
    * max partial term ≈ n_tok(8k) × max_tok(2^31) ≈ 2^44; × 8k terms < 2^63).
    */
  val ChecksumMod = 1000000007L

  /** n_tok formula over a bigint doc id `{D}`: 16..536 tokens (long enough
    * that FSST's symbol table can amortize on the stringy stripe), with
    * giant heavy-tail arrays (4096..7168) every 97th doc (skew per north
    * rule).
    */
  def nTokSql(d: String): String =
    s"CASE WHEN $d % 97 = 0 THEN 4096 + ($d % 7) * 512 ELSE 16 + ($d * 37) % 521 END"

  /** Token value formula over bigint doc id `{D}` and bigint position `{I}`.
    * All arithmetic stays in non-negative i64 (< 2^62 intermediates), and
    * `%` on non-negative operands agrees between Spark and DuckDB.
    */
  def genSql(d: String, i: String): String =
    s"""CASE $d % 6
       | WHEN 0 THEN ($d + CAST(FLOOR($i / 16.0) AS BIGINT) * 131) % 997
       | WHEN 1 THEN ($d * 7 + $i * 13) % 64
       | WHEN 2 THEN ($d % 1000) * 4096 + ($d * 2654435761 + $i * 40503) % 251
       | WHEN 3 THEN $i * 3 + ($d * 31 + $i * 17) % 3
       | WHEN 4 THEN (1 + ($d + $i) % 9) * 111111111 + ($d * 11 + $i * 7) % 89
       | ELSE ($d * 1103515245 + $i * $i * 999983 + $i * 12345) % 2147480009
       |END""".stripMargin.replace("\n", " ")
  // profile 5 ("random") carries a quadratic term: an affine function of i
  // would have constant deltas and FOR-delta would (correctly but
  // pointlessly) compress it to nothing. All intermediates stay < 2^52.

  /** Spark-side token table derived from `documents.parquet` under sfDir.
    * Token materialization uses the native [[graft.functions.GenTokens]]
    * kernel (value-identical to [[genSql]]; asserted in TokensSpec) — the
    * interpreted transform/sequence lambdas otherwise dominate every
    * pipeline run.
    */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet(s"$sfDir/documents.parquet")
      // row-validity filter (reference: rows whose required fields fail to
      // parse are dropped, not nulled through the pipeline). IsNotNull is
      // pushed into the parquet scan, so clean files pay nothing.
      .filter(col("doc_id").isNotNull)
      .select(
        col("doc_id"),
        col("source"),
        expr(nTokSql("doc_id")).cast("int").as("n_tok"))
      .withColumn("tokens",
        call_function("gen_tokens", col("doc_id"), col("n_tok").cast("long")))
  }

  /** DuckDB CTE producing the exploded token stream
    * `tokv(doc_id, source, n_tok, i, tok)` over the driver-registered
    * `documents` table — the oracle-side mirror of [[fromDocuments]].
    */
  val duckTokensCte: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, ${nTokSql("doc_id")} AS n_tok FROM documents
       |), tokidx AS (
       |  SELECT doc_id, source, n_tok, unnest(range(0, n_tok)) AS i FROM base
       |), tokv AS (
       |  SELECT doc_id, source, n_tok, i, ${genSql("doc_id", "i")} AS tok FROM tokidx
       |)""".stripMargin

  /** Order-sensitive checksum of a decoded array column (Spark side, no
    * shuffle): sum((i+1) * tok) % ChecksumMod. This SQL-lambda form is the
    * documentation/equivalence mirror (TokensSpec asserts it ≡ the native
    * kernel); hot queries call [[checksumCall]] instead — the lambda form
    * is CodegenFallback and re-interpreted per row.
    */
  def checksumSql(arrCol: String): String =
    s"aggregate(transform($arrCol, (x, i) -> (CAST(i AS BIGINT) + 1L) * CAST(x AS BIGINT)), 0L, (a, b) -> a + b) % $ChecksumMod"

  /** Native checksum call (value-identical to [[checksumSql]], codegen'd:
    * [[graft.functions.TokenChecksum]]).
    */
  def checksumCall(arrCol: String): String = s"token_checksum($arrCol)"

  /** Oracle-side checksum over the exploded stream (group by doc_id). */
  val duckChecksum: String = s"CAST(sum((i + 1) * tok) % $ChecksumMod AS BIGINT)"

  /** Deterministic synthetic generator (FIXTURES.md §1): `nDocs` rows with
    * Zipf-hot sources — "web" ≈ 60% of rows and carries the giant arrays.
    * Pure function of the row index; independent of partitioning.
    */
  def synthetic(spark: SparkSession, nDocs: Long, numPartitions: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val base =
      if (numPartitions > 0) spark.range(0L, nDocs, 1L, numPartitions)
      else spark.range(nDocs)
    // splitmix64-style mix for source assignment, kept in positive i64
    base.select(col("id").as("doc_id"))
      .withColumn("mix", expr("(doc_id * 2654435761 + 1442695040888963407) % 9223372036854775807"))
      .withColumn("u", expr("abs(mix) % 100"))
      .withColumn("source", expr(
        """CASE WHEN u < 60 THEN 'web'
          | WHEN u < 75 THEN 'books'
          | WHEN u < 85 THEN 'code'
          | WHEN u < 93 THEN 'wiki'
          | ELSE 'chat' END""".stripMargin))
      .withColumn("n_tok", expr(
        // heavy tail rides the hot source: every 31st web doc is giant
        """CAST(CASE WHEN u < 60 AND doc_id % 31 = 0
          |  THEN 8192 + (doc_id % 13) * 1024
          |  ELSE 16 + (doc_id * 37) % 521 END AS INT)""".stripMargin))
      .withColumn("tokens",
        call_function("gen_tokens", col("doc_id"), col("n_tok").cast("long")))
      .select(col("doc_id"), col("source"), col("n_tok"), col("tokens"))
  }
}
