package graft

import graft.functions.GraftFunctions
import graft.sources.Tokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operator inventory as driver-checkable queries (SURVEY.md §2 / §7 list).
  *
  * Every entry is a (SparkSession, sfDir) => DataFrame plus, where the
  * semantics are ANSI-SQL-expressible, a DuckDB oracle over the same parquet
  * tables. Token values are derived from `documents` with cross-engine
  * integer arithmetic ([[Tokens]]), so codec roundtrip queries are verified
  * value-exactly by the oracle: if decode∘encode were not bit-identical, the
  * checksums/values would diverge.
  *
  * Column-name discipline: Spark output and oracle SQL alias every column
  * identically; all oracle-checked outputs use BIGINT/VARCHAR/DOUBLE only.
  */
object Queries {

  final case class Q(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def tokens(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    Tokens.fromDocuments(s, dir)
  }

  // ---------------------------------------------------------------- scans

  /** S12/A1: scan + per-source aggregate over the token table. */
  private val scanTokens = Q(
    (s, dir) => tokens(s, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast("long")).as("sum_tok"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc")),
    Some(s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(${Tokens.nTokSql("doc_id")}) AS BIGINT) AS sum_tok,
            |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
            |FROM documents GROUP BY source""".stripMargin))

  /** P1/P2: projection pruning — only doc_id/n_tok reach the scan. */
  private val projectPrune = Q(
    (s, dir) => tokens(s, dir).select(col("doc_id"), col("n_tok").cast("long").as("n_tok")),
    Some(s"SELECT doc_id, CAST(${Tokens.nTokSql("doc_id")} AS BIGINT) AS n_tok FROM documents"))

  /** F1/F2: predicate on source + shape predicate on n_tok. */
  private val filterSource = Q(
    (s, dir) => tokens(s, dir)
      .filter(col("source").isin("src1", "src2", "src3") && col("n_tok") > 64)
      .select(col("doc_id"), col("source"), col("n_tok").cast("long").as("n_tok")),
    Some(s"""SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok FROM (
            |  SELECT doc_id, source, ${Tokens.nTokSql("doc_id")} AS n_tok FROM documents)
            |WHERE source IN ('src1','src2','src3') AND n_tok > 64""".stripMargin))

  /** A2: distinct. */
  private val distinctDocs = Q(
    (s, dir) => tokens(s, dir).select("source").distinct(),
    Some("SELECT DISTINCT source FROM documents"))

  /** O1: global sort + top-k with a deterministic tiebreak. The rank over
    * the 100 survivors goes through the two-phase
    * [[graft.ops.Ranks.globalRowNumber]] — a bare `Window.orderBy` would
    * be a single-partition window (warning noise at this k, a real
    * bottleneck at large k).
    */
  private val sortTopk = Q(
    (s, dir) => graft.ops.Ranks.globalRowNumber(
      tokens(s, dir)
        .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"))
        .orderBy(col("n_tok").desc, col("doc_id"))
        .limit(100),
      Seq(col("n_tok").desc, col("doc_id")), "rank"),
    Some(s"""SELECT doc_id, n_tok,
            |  CAST(row_number() OVER (ORDER BY n_tok DESC, doc_id) AS BIGINT) AS rank
            |FROM (SELECT doc_id, CAST(${Tokens.nTokSql("doc_id")} AS BIGINT) AS n_tok FROM documents)
            |ORDER BY n_tok DESC, doc_id LIMIT 100""".stripMargin))

  /** G1/G2: explode the token arrays of a doc subset. */
  private val explodeTokens = Q(
    (s, dir) => tokens(s, dir)
      .filter(col("doc_id") % 50 === 1)
      .select(col("doc_id"), posexplode(col("tokens")).as(Seq("i", "tok")))
      .select(col("doc_id"), col("i").cast("long").as("i"), col("tok").cast("long").as("tok")),
    Some(s"""${Tokens.duckTokensCte}
            |SELECT doc_id, i, tok FROM tokv WHERE doc_id % 50 = 1""".stripMargin))

  /** A4/A1: per-source stats over exploded token values — Spark computes
    * them shuffle-free with higher-order functions, oracle re-derives from
    * the generator.
    */
  private val statsAgg = Q(
    (s, dir) => tokens(s, dir)
      .select(
        col("source"),
        col("n_tok").cast("long").as("n_tok"),
        // native sum kernel + per-doc mod-first reduction: partials stay
        // bounded by n_docs × mod (< 2^63 up to ~9e9 docs), congruent to
        // the oracle's HUGEINT sum % mod
        expr(s"tokens_sum(tokens) % ${Tokens.ChecksumMod}").as("tok_sum_mod"),
        expr("CAST(array_min(tokens) AS BIGINT)").as("tok_min"),
        expr("CAST(array_max(tokens) AS BIGINT)").as("tok_max"))
      .groupBy("source")
      .agg(
        sum("n_tok").as("sum_tok"),
        expr(s"sum(tok_sum_mod) % ${Tokens.ChecksumMod}").as("sum_val"),
        min("tok_min").as("tok_min"),
        max("tok_max").as("tok_max")),
    Some(s"""${Tokens.duckTokensCte}
            |SELECT source, CAST(count(*) AS BIGINT) AS sum_tok,
            |  CAST(sum(tok) % ${Tokens.ChecksumMod} AS BIGINT) AS sum_val,
            |  min(tok) AS tok_min, max(tok) AS tok_max
            |FROM tokv GROUP BY source""".stripMargin))

  /** A4/A1 (partial+final): the TokenStatsAgg custom aggregate — run counts,
    * value range and sortedness merged associatively across rows and
    * partitions (two-phase hash aggregation). Oracle recomputes run counts
    * with a lag window over the exploded stream.
    */
  private val statsPartition = Q(
    (s, dir) => tokens(s, dir)
      .groupBy("source")
      .agg(graft.functions.TokenStatsAgg.column(col("tokens")).as("st"))
      .select(col("source"),
        col("st.n_rows").as("n_rows"), col("st.n_tokens").as("n_tokens"),
        col("st.min").as("tok_min"), col("st.max").as("tok_max"),
        col("st.n_runs").as("n_runs"), col("st.sorted_rows").as("sorted_rows")),
    Some(s"""${Tokens.duckTokensCte}, lagged AS (
            |  SELECT source, doc_id, i, tok,
            |    lag(tok) OVER (PARTITION BY doc_id ORDER BY i) AS ptok
            |  FROM tokv
            |), perdoc AS (
            |  SELECT source, doc_id, count(*) AS n_tok, min(tok) AS tmin, max(tok) AS tmax,
            |    sum(CASE WHEN ptok IS NULL OR tok <> ptok THEN 1 ELSE 0 END) AS n_runs,
            |    min(CASE WHEN ptok IS NOT NULL AND tok < ptok THEN 0 ELSE 1 END) AS sorted_flag
            |  FROM lagged GROUP BY source, doc_id
            |)
            |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
            |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
            |  min(tmin) AS tok_min, max(tmax) AS tok_max,
            |  CAST(sum(n_runs) AS BIGINT) AS n_runs,
            |  CAST(sum(sorted_flag) AS BIGINT) AS sorted_rows
            |FROM perdoc GROUP BY source""".stripMargin))

  /** G8 analog: size-based bin-packing assignment — per-source running
    * token count, binned at 8192 tokens (the partition-planning primitive
    * of the encode pipeline; reference: chunk sizing,
    * crates/cli/src/parse/partitions.rs:357-379).
    */
  private val binpackWindow = Q(
    (s, dir) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tokens(s, dir)
        .select(col("doc_id"), col("source"), col("n_tok").cast("long").as("n_tok"))
        .withColumn("bin", floor((sum("n_tok").over(w) - col("n_tok")) / lit(8192)).cast("long"))
    },
    Some(s"""SELECT doc_id, source, n_tok,
            |  CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
            |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 8192) AS BIGINT) AS bin
            |FROM (SELECT doc_id, source, CAST(${Tokens.nTokSql("doc_id")} AS BIGINT) AS n_tok FROM documents)""".stripMargin))

  // ------------------------------------------------- codec roundtrips

  /** The roundtrip verification shape shared by all codecs: decode∘encode,
    * then order-sensitive checksum + bounds per doc. The oracle recomputes
    * the same values straight from the generator — any bit flip in the
    * codec path diverges cks/tmin/tmax/n.
    */
  private def roundtrip(codecExpr: String): (SparkSession, String) => DataFrame =
    (s, dir) => tokens(s, dir)
      .withColumn("decoded", expr(s"decode_tokens($codecExpr)"))
      .select(
        col("doc_id"),
        expr("CAST(size(decoded) AS BIGINT)").as("n"),
        expr(Tokens.checksumCall("decoded")).as("cks"),
        expr("CAST(array_min(decoded) AS BIGINT)").as("tmin"),
        expr("CAST(array_max(decoded) AS BIGINT)").as("tmax"))

  private val roundtripOracle: String =
    s"""${Tokens.duckTokensCte}
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n, ${Tokens.duckChecksum} AS cks,
       |  min(tok) AS tmin, max(tok) AS tmax
       |FROM tokv GROUP BY doc_id""".stripMargin

  private def codecRoundtrip(codec: String): Q =
    Q(roundtrip(s"encode_tokens(tokens, '$codec')"), Some(roundtripOracle))

  /** Full row-level identity on a doc subset: every (doc, position, token)
    * from decode(encode_auto(tokens)) must equal the generator's stream.
    */
  private val roundtripIdentity = Q(
    (s, dir) => tokens(s, dir)
      .filter(col("doc_id") % 29 === 3)
      .withColumn("decoded", expr("decode_tokens(encode_auto(tokens))"))
      .select(col("doc_id"), posexplode(col("decoded")).as(Seq("i", "tok")))
      .select(col("doc_id"), col("i").cast("long").as("i"), col("tok").cast("long").as("tok")),
    Some(s"""${Tokens.duckTokensCte}
            |SELECT doc_id, i, tok FROM tokv WHERE doc_id % 29 = 3""".stripMargin))

  /** Codec auto-selection distribution + encoded sizes per source — codec
    * choice and byte sizes are engine-internal (no SQL oracle; rows-only).
    */
  private val codecAuto = Q(
    (s, dir) => tokens(s, dir)
      .withColumn("blob", expr("encode_auto(tokens)"))
      .groupBy(col("source"), expr("codec_of(blob)").as("codec"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast("long")).as("n_tokens"),
        sum(length(col("blob")).cast("long")).as("encoded_bytes")),
    None)

  /** Forced-codec size comparison table (rows-only: includes FSST, whose
    * data-dependent symbol table has no closed-form size — the 5
    * deterministic codecs ARE oracle-checked, in `encoded_sizes_exact`).
    */
  private val encodedSizes = Q(
    (s, dir) => {
      val base = tokens(s, dir)
      graft.codec.Codecs.all.map { c =>
        base.select(
          lit(c.name).as("codec"),
          col("n_tok").cast("long").as("n_tokens"),
          length(expr(s"encode_tokens(tokens, '${c.name}')")).cast("long").as("bytes"))
      }.reduce(_ unionAll _)
        .groupBy("codec")
        .agg(
          sum("n_tokens").as("n_tokens"),
          sum("bytes").as("encoded_bytes"))
    },
    None)

  /** Wire-format byte sizes, oracle-checked (r4): the 5 deterministic
    * codecs' encoded lengths are closed-form functions of the token
    * stream — LEB128 varint lengths, zigzag widths, run enumeration (lag
    * window), frame-of-reference bit widths (`length(bin(x))` =
    * 64 - nlz), bit-packed payloads at ceil(m·width/8) — and the oracle
    * recomputes every per-doc size from the shared tokv CTE and aggregates.
    * This pins the full wire format (Bytes.scala varint/zigzag/bitpack +
    * each Codec.encodePayload layout) to a cross-engine value identity, on
    * top of the golden-file byte pins. FSST stays in the rows-only
    * `encoded_sizes` (its symbol table is data-dependent, not closed-form).
    * Validated per-doc per-codec (0 mismatches over all 5 codecs at
    * sf0.01) before aggregation.
    *
    * VALIDITY CONDITION (re-check if testdata regenerates): the oracle
    * assumes n_tok ≥ 2 everywhere — Tokens.nTokSql's minimum is 16.
    * A doc with n_tok = 1 has all-NULL deltas, so the SQL's fordelta size
    * would go NULL (silently dropped from SUM) while the kernel encodes
    * tag+varint(n)+zigzag(first); a doc with n_tok = 0 has no tokv rows
    * at all and every codec sum would miss its 2 header bytes. Those
    * branches are exercised in CodecSpec/golden files, just not
    * SQL-replayed here.
    */
  private val encodedSizesExact = Q(
    (s, dir) => {
      val base = tokens(s, dir)
      Seq("plain", "rle", "bitpack", "fordelta", "dict").map { c =>
        base.select(
          lit(c).as("codec"),
          col("n_tok").cast("long").as("n_tokens"),
          length(expr(s"encode_tokens(tokens, '$c')")).cast("long").as("bytes"))
      }.reduce(_ unionAll _)
        .groupBy("codec")
        .agg(
          sum("n_tokens").as("n_tokens"),
          sum("bytes").as("encoded_bytes"))
    },
    Some(encodedSizesExactSql))

  /** Oracle SQL for [[encodedSizesExact]] — generated: varint-length CASE
    * chains and zigzag/bit-width expressions emitted as integer-only SQL.
    */
  private lazy val encodedSizesExactSql: String = {
    // LEB128 byte length: max(1, ceil(bits(u)/7)) as a threshold chain
    def varlen(x: String): String = {
      val cases = (1 to 9)
        .map(k => s"WHEN ($x) < ${BigInt(1) << (7 * k)} THEN $k").mkString(" ")
      s"(CASE $cases ELSE 10 END)"
    }
    def zz(v: String): String =
      s"(CASE WHEN ($v) >= 0 THEN 2 * ($v) ELSE -2 * ($v) - 1 END)"
    // bitsFor: 0 for 0, else position of the highest set bit (bin() emits
    // the minimal binary string, so its length IS 64 - nlz)
    def bits(x: String): String =
      s"(CASE WHEN ($x) = 0 THEN 0 ELSE length(bin(CAST($x AS BIGINT))) END)"
    Tokens.duckTokensCte + s"""
      |, r1 AS (
      |  SELECT doc_id, i, tok,
      |    CASE WHEN tok = lag(tok) OVER (PARTITION BY doc_id ORDER BY i)
      |      THEN 0 ELSE 1 END AS is_start,
      |    tok - lag(tok) OVER (PARTITION BY doc_id ORDER BY i) AS delta
      |  FROM tokv
      |), r2 AS (
      |  SELECT doc_id, i, tok, delta,
      |    SUM(is_start) OVER (PARTITION BY doc_id ORDER BY i) AS run_id
      |  FROM r1
      |), runs AS (
      |  SELECT doc_id, tok, COUNT(*) AS run_len FROM r2 GROUP BY doc_id, run_id, tok
      |), rle_doc AS (
      |  SELECT doc_id, SUM(${varlen(zz("tok"))} + ${varlen("run_len")}) AS run_bytes
      |  FROM runs GROUP BY doc_id
      |), dict_doc AS (
      |  SELECT doc_id, COUNT(*) AS n_dict, SUM(${varlen(zz("tok"))}) AS dict_bytes
      |  FROM (SELECT DISTINCT doc_id, tok FROM tokv) GROUP BY doc_id
      |), stat_doc AS (
      |  SELECT doc_id, COUNT(*) AS n, MIN(tok) AS mn, MAX(tok) AS mx,
      |    MIN(delta) AS min_d, MAX(delta) AS max_d,
      |    MIN(CASE WHEN i = 0 THEN tok END) AS first_tok
      |  FROM r2 GROUP BY doc_id
      |), sizes AS (
      |  SELECT s.doc_id, s.n,
      |    1 + ${varlen("s.n")} + 4 * s.n AS d_plain,
      |    1 + ${varlen("s.n")} + r.run_bytes AS d_rle,
      |    1 + ${varlen("s.n")} + ${varlen(zz("s.mn"))} + 1
      |      + (s.n * ${bits("s.mx - s.mn")} + 7) // 8 AS d_bitpack,
      |    1 + ${varlen("s.n")} + ${varlen(zz("s.first_tok"))} + ${varlen(zz("s.min_d"))} + 1
      |      + ((s.n - 1) * ${bits("s.max_d - s.min_d")} + 7) // 8 AS d_fordelta,
      |    1 + ${varlen("s.n")} + ${varlen("d.n_dict")} + d.dict_bytes + 1
      |      + (s.n * ${bits("d.n_dict - 1")} + 7) // 8 AS d_dict
      |  FROM stat_doc s JOIN rle_doc r USING (doc_id) JOIN dict_doc d USING (doc_id)
      |), tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS n_tokens,
      |    CAST(SUM(d_plain) AS BIGINT) AS b_plain,
      |    CAST(SUM(d_rle) AS BIGINT) AS b_rle,
      |    CAST(SUM(d_bitpack) AS BIGINT) AS b_bitpack,
      |    CAST(SUM(d_fordelta) AS BIGINT) AS b_fordelta,
      |    CAST(SUM(d_dict) AS BIGINT) AS b_dict
      |  FROM sizes
      |)
      |SELECT 'plain' AS codec, n_tokens, b_plain AS encoded_bytes FROM tot
      |UNION ALL SELECT 'rle', n_tokens, b_rle FROM tot
      |UNION ALL SELECT 'bitpack', n_tokens, b_bitpack FROM tot
      |UNION ALL SELECT 'fordelta', n_tokens, b_fordelta FROM tot
      |UNION ALL SELECT 'dict', n_tokens, b_dict FROM tot""".stripMargin
  }

  /** Context-window chunking ([[graft.ops.Chunking]]), oracle-checked on
    * CONTENT: each window row carries the position-weighted checksum of
    * its actual token slice, which the oracle recomputes from the
    * exploded tokv stream with chunk-local weights — so window geometry
    * (count, starts, lengths) AND the tokens inside every window are
    * value-exact across engines. maxTokens=512, overlap=64 → stride 448.
    */
  private val chunkTokens = {
    val max = 512; val overlap = 64; val stride = max - overlap
    Q(
      (s, dir) => graft.ops.Chunking.chunkTokens(tokens(s, dir), max, overlap),
      Some(s"""${Tokens.duckTokensCte}
             |, nch AS (
             |  SELECT doc_id, source, n_tok,
             |    CASE WHEN n_tok <= $max THEN 1
             |         ELSE (n_tok - $max + $stride - 1) // $stride + 1 END AS n_chunks
             |  FROM base
             |), ch AS (
             |  SELECT doc_id, source, n_tok, unnest(range(0, n_chunks)) AS chunk_id
             |  FROM nch
             |)
             |SELECT c.doc_id, c.source, CAST(c.chunk_id AS BIGINT) AS chunk_id,
             |  CAST(c.chunk_id * $stride AS BIGINT) AS chunk_start,
             |  CAST(least($max, c.n_tok - c.chunk_id * $stride) AS BIGINT) AS chunk_len,
             |  CAST(sum((t.i - c.chunk_id * $stride + 1) * t.tok)
             |    % ${Tokens.ChecksumMod} AS BIGINT) AS chunk_sum
             |FROM ch c JOIN tokv t ON t.doc_id = c.doc_id
             |  AND t.i >= c.chunk_id * $stride
             |  AND t.i < c.chunk_id * $stride + $max
             |GROUP BY 1, 2, 3, 4, 5""".stripMargin))
  }

  /** Sequence packing ([[graft.ops.Packing]]), oracle-checked on CONTENT:
    * the oracle rebuilds every shard's concatenated token stream with
    * `row_number` over the exploded tokv rows and re-derives each block's
    * fill, doc count and block-position-weighted checksum — so block
    * geometry AND the exact position of every token inside every block
    * are value-identical across engines. cap=2048, 8 shards.
    */
  private val packTokens = {
    val cap = 2048; val nShards = 8
    Q(
      (s, dir) => graft.ops.Packing.packTokens(tokens(s, dir), cap, nShards),
      Some(s"""${Tokens.duckTokensCte}
             |, pos AS (
             |  SELECT doc_id % $nShards AS shard, doc_id, tok,
             |    row_number() OVER (PARTITION BY doc_id % $nShards
             |                       ORDER BY doc_id, i) - 1 AS pos
             |  FROM tokv
             |)
             |SELECT CAST(shard AS BIGINT) AS shard,
             |  CAST(pos // $cap AS BIGINT) AS pack_id,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS pack_fill,
             |  CAST(sum((pos % $cap + 1) * tok) % ${Tokens.ChecksumMod} AS BIGINT)
             |    AS pack_sum
             |FROM pos GROUP BY 1, 2""".stripMargin))
  }

  /** Vocabulary truncation + OOV remap ([[graft.ops.Vocab]]), oracle-
    * checked on CONTENT: the oracle independently rebuilds the top-k
    * vocabulary (freq DESC, tok ASC — a total order, so the cut and the
    * ranks are deterministic), remaps the exploded token stream through
    * it, and replays the position-weighted fold of the REMAPPED ids — so
    * vocabulary membership, every rank assignment, and every OOV
    * substitution are value-exact across engines. k=1024.
    */
  private val vocabRemap = {
    val k = 1024
    Q(
      (s, dir) => graft.ops.Vocab.remapChecksum(tokens(s, dir), k),
      Some(s"""${Tokens.duckTokensCte}
             |, freq AS (SELECT tok, count(*) AS freq FROM tokv GROUP BY 1)
             |, topk AS (
             |  SELECT tok, row_number() OVER (ORDER BY freq DESC, tok) - 1 AS rank
             |  FROM (SELECT * FROM freq ORDER BY freq DESC, tok LIMIT $k)
             |)
             |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             |  CAST(sum((t.i + 1) * coalesce(r.rank, $k))
             |    % ${Tokens.ChecksumMod} AS BIGINT) AS remap_sum,
             |  CAST(sum(CASE WHEN r.rank IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_oov
             |FROM tokv t LEFT JOIN topk r ON t.tok = r.tok
             |GROUP BY 1""".stripMargin))
  }

  /** Vocabulary coverage curve ([[graft.ops.Vocab.coverage]]): corpus
    * token share covered by the top-k ids at log-spaced probe sizes —
    * the vocab-size/coverage trade every tokenizer design reads off.
    * Oracle replays the identical (freq DESC, tok) ranking and the
    * integral per-mille rule (`div` ↔ `//`); one conditional-sum pass on
    * both sides, cum·1000 far inside i64.
    */
  private val vocabCoverage = {
    val ks = Seq(1, 4, 16, 64, 256, 1024)
    Q(
      (s, dir) => graft.ops.Vocab.coverage(tokens(s, dir), ks),
      Some(s"""${Tokens.duckTokensCte}
             |, freq AS (SELECT tok, count(*) AS freq FROM tokv GROUP BY 1)
             |, ranked AS (
             |  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS r
             |  FROM freq)
             |SELECT k,
             |  CAST(coalesce(sum(CASE WHEN r <= k THEN freq END), 0) AS BIGINT)
             |    AS cum_tokens,
             |  CAST(coalesce(sum(CASE WHEN r <= k THEN freq END), 0) * 1000
             |    // (SELECT sum(freq) FROM ranked) AS BIGINT)
             |    AS coverage_permille
             |FROM ranked,
             |  (SELECT CAST(unnest([${ks.mkString(", ")}]) AS BIGINT) AS k)
             |GROUP BY k""".stripMargin))
  }

  /** F1/F2 (§2.7): hex/base64 presentation encodings of binary columns via
    * built-ins (`concat('0x', lower(hex(..)))` is cryo's Hex display form,
    * types/conversions.rs:55-77) — roundtripped through unhex/unbase64.
    */
  private val hexRoundtrip = Q(
    (s, dir) => s.read.parquet(s"$dir/documents.parquet")
      .selectExpr(
        "doc_id",
        "concat('0x', lower(hex(CAST(text AS BINARY)))) AS hex_text",
        // NOTE: raw base64 text is not oracle-comparable (Spark's base64()
        // MIME-chunks long values); only the roundtrip fact is.
        "CAST(unhex(hex(CAST(text AS BINARY))) AS STRING) = text AS hex_ok",
        "CAST(unbase64(base64(CAST(text AS BINARY))) AS STRING) = text AS b64_ok"),
    Some("""SELECT doc_id,
           |  '0x' || lower(hex(text)) AS hex_text,
           |  decode(unhex(hex(text))) = text AS hex_ok,
           |  decode(from_base64(to_base64(encode(text)))) = text AS b64_ok
           |FROM documents""".stripMargin))

  /** K5 per-run binary presentation (files.rs:116-132 ColumnEncoding):
    * the export-level "hex" flag flips Binary columns to cryo's display
    * form — '0x' + lowercase hex — which the oracle replays directly.
    */
  private val exportHex = Q(
    (s, dir) => graft.sinks.Export.withBinaryEncoding(
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text").cast("binary").as("payload")),
      "hex"),
    Some("""SELECT doc_id, '0x' || lower(hex(text)) AS payload
           |FROM documents""".stripMargin))

  /** F3/F4 (§2.7): keccak256 + U256 multi-representation fan-out (cryo's
    * u256_types column expansion) over sha256-derived 32-byte words.
    * Engine-internal (DuckDB has no keccak/256-bit ints) → rows-only here;
    * value-checked against published vectors in ChainSpec.
    */
  private val chainDerive = Q(
    (s, dir) => {
      GraftFunctions.register(s)
      s.read.parquet(s"$dir/documents.parquet")
        .selectExpr(
          "doc_id",
          "unhex(sha2(CAST(text AS BINARY), 256)) AS word",
          "keccak256(CAST(text AS BINARY)) AS kec")
        .selectExpr(
          "doc_id",
          "concat('0x', lower(hex(kec))) AS keccak_hex",
          "u256_to_string(word) AS word_string",
          "u256_to_f64(word) AS word_f64",
          "u256_to_f32(word) AS word_f32",
          "u256_to_u64(word) AS word_u64", // null when > 63 bits (usual)
          "u256_to_u32(word) AS word_u32") // null when > 32 bits
    },
    None)

  /** F3/F5 oracle-checked slice: the U256 representation fan-out on
    * 32-byte words built from values in u64 range, where every target
    * representation is SQL-computable (decimal string, f64/f32 rounding,
    * exact u64, u32 overflow→null). The full-range/high-limb behavior
    * (sha256-derived words, keccak) stays in `chain_derive` + ChainSpec's
    * published vectors — this row pins the conversion pipeline itself to a
    * cross-engine value identity through the driver gate.
    */
  private val chainU64Fanout = Q(
    (s, dir) => {
      GraftFunctions.register(s)
      s.read.parquet(s"$dir/documents.parquet")
        .selectExpr("doc_id", "doc_id * 1000003 + 7 AS v")
        .selectExpr(
          "doc_id",
          "unhex(lpad(hex(v), 64, '0')) AS word")
        .selectExpr(
          "doc_id",
          "u256_to_string(word) AS word_string",
          "u256_to_f64(word) AS word_f64",
          "CAST(u256_to_f32(word) AS DOUBLE) AS word_f32",
          "u256_to_u64(word) AS word_u64",
          "CAST(u256_to_u32(word) AS BIGINT) AS word_u32")
    },
    Some("""SELECT doc_id,
           |  CAST(v AS VARCHAR) AS word_string,
           |  CAST(v AS DOUBLE) AS word_f64,
           |  CAST(CAST(v AS REAL) AS DOUBLE) AS word_f32,
           |  v AS word_u64,
           |  CASE WHEN v < 4294967296 THEN v END AS word_u32
           |FROM (SELECT doc_id, CAST(doc_id * 1000003 + 7 AS BIGINT) AS v
           |      FROM documents)""".stripMargin))

  /** P1 user-facing column-set algebra: ordered defaults + include/exclude
    * selection (schemas.rs:165-237 semantics; spec battery mirrored in
    * ColumnSelectSpec). The unknown include is permissively skipped, the
    * exclude removes a default — final set: doc_id, source, n_chars.
    */
  private val projectAlgebra = Q(
    (s, dir) => graft.ops.ColumnSelect(
      s.read.parquet(s"$dir/documents.parquet"),
      defaults = Seq("doc_id", "source", "lang"),
      graft.ops.ColumnSelect.Spec(
        include = Some(Seq("n_chars", "base_fee_per_gas")),
        exclude = Some(Seq("lang")))),
    Some("SELECT doc_id, source, n_chars FROM documents"))

  /** F6 analog — schema-directed decode: a signature-driven struct decode
    * of a binary column (log_decoder.rs:20-171's type-directed column
    * building on a synthetic event layout). The blob is packed from source
    * columns by encode_struct, so the oracle can recompute every decoded
    * field directly — any layout/decode bug diverges.
    */
  private val decodeEvent = Q(
    (s, dir) => {
      GraftFunctions.register(s)
      s.read.parquet(s"$dir/documents.parquet")
        .selectExpr("doc_id",
          """decode_struct(
            |  encode_struct('id:u64,n:u32,flag:u8,head:str',
            |                doc_id, n_chars, doc_id % 2, substring(text, 1, 12)),
            |  'id:u64,n:u32,flag:u8,head:str') AS ev""".stripMargin)
        .selectExpr("doc_id", "ev.id AS id", "ev.n AS n",
          "ev.flag AS flag", "ev.head AS head")
    },
    Some("""SELECT doc_id, doc_id AS id, n_chars AS n,
           |  doc_id % 2 AS flag, substr(text, 1, 12) AS head
           |FROM documents""".stripMargin))

  /** G4/G5/F5 — recursive call-frame flatten via the custom
    * [[graft.functions.CallFrames]] Generator, with failed-subtree
    * anti-filtering (traces.rs:201-230 semantics) as a plain post-filter;
    * the oracle replays the deterministic tree with a recursive CTE.
    */
  private val traceFrames = Q(
    (s, dir) => {
      GraftFunctions.register(s)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), expr("call_frames(doc_id)"))
        .filter(col("failed_subtree") === 0)
        .select("doc_id", "node_id", "depth", "path")
    },
    Some("""WITH RECURSIVE frames AS (
           |  SELECT doc_id, CAST(1 AS BIGINT) AS node_id,
           |    CAST(0 AS BIGINT) AS depth, '0' AS path,
           |    CASE WHEN (doc_id * 13 + 17) % 23 = 0 THEN 1 ELSE 0 END AS failed
           |  FROM documents
           |  UNION ALL
           |  SELECT f.doc_id, f.node_id * 4 + c.idx + 1, f.depth + 1,
           |    f.path || '/' || CAST(c.idx AS VARCHAR),
           |    CASE WHEN f.failed = 1
           |         OR ((f.doc_id * 13 + (f.node_id * 4 + c.idx + 1) * 17) % 23 = 0)
           |         THEN 1 ELSE 0 END
           |  FROM frames f
           |  JOIN (SELECT 0 AS idx UNION ALL SELECT 1 UNION ALL SELECT 2) c
           |    ON c.idx < (f.doc_id * 7 + f.node_id * 11) % 4
           |  WHERE f.depth < 3
           |)
           |SELECT doc_id, node_id, depth, path FROM frames WHERE failed = 0""".stripMargin))

  /** G6 — map flatten: build a map column, explode map_entries to
    * (key, value) rows.
    */
  private val mediaKv = Q(
    (s, dir) => graft.ops.Multimodal.mediaMeta(s.read.parquet(s"$dir/documents.parquet"))
      .withColumn("kv", explode(map_entries(
        map(lit("w"), col("width"), lit("h"), col("height"), lit("f"), col("n_frames")))))
      .select(col("doc_id"), col("kv.key").as("k"), col("kv.value").as("v")),
    Some("""SELECT doc_id, k, CAST(v AS BIGINT) AS v FROM (
           |  SELECT doc_id, 'w' AS k, 16 + length(text) % 97 AS v FROM documents
           |  UNION ALL
           |  SELECT doc_id, 'h', 16 + (length(text) * 7) % 89 FROM documents
           |  UNION ALL
           |  SELECT doc_id, 'f', 1 + length(text) % 5 FROM documents)""".stripMargin))

  /** A3/K10: per-run partition-lineage accounting from the manifest
    * (cryo's FreezeSummary, types/summaries.rs:468-534) — runs the
    * pipeline into a scratch sink with saltBuckets=1 (salting is a
    * hash-based physical optimization; with one bucket the (source, bin)
    * plan geometry is pure positional arithmetic a SQL oracle can replay),
    * then checks the MANIFEST's per-source partition/doc/token/byte
    * accounting value-exactly. This was rows-only in r2 (`metrics_rates`);
    * the wall-clock RATES half is inherently nondeterministic and lives in
    * RunSummary + the bench JSON, with wall_ms realism spec-asserted in
    * PipelineSpec.
    */
  private val metricsLineage = Q(
    (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-lineage").toString
      graft.pipeline.EncodePipeline.run(s, Tokens.fromDocuments(s, dir),
        graft.pipeline.EncodePipeline.Config(outDir = out,
          targetBinTokens = 1L << 16, saltBuckets = 1))
      graft.sinks.ManifestSink.committedManifest(s, out)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_parts"),
          sum("n_docs").as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("raw_bytes").as("raw_bytes"))
    },
    Some(s"""WITH t AS (
            |  SELECT doc_id, source, CAST(${Tokens.nTokSql("doc_id")} AS BIGINT) AS n_tok
            |  FROM documents
            |), b AS (
            |  SELECT source, n_tok,
            |    CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
            |      / 65536) AS BIGINT) AS bin
            |  FROM t
            |)
            |SELECT source, CAST(count(DISTINCT bin) AS BIGINT) AS n_parts,
            |  CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
            |  CAST(sum(n_tok) * 4 AS BIGINT) AS raw_bytes
            |FROM b GROUP BY source""".stripMargin))

  /** K9/K10 deterministic half of the lineage metrics: per-source doc /
    * token / raw-byte totals re-derivable by the oracle straight from the
    * generator (rates and encoded sizes stay engine-internal in
    * metrics_lineage). Runs the pipeline into a scratch sink first, so this
    * checks the MANIFEST's accounting, not just the input.
    */
  private val metricsSummary = Q(
    (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-msum").toString
      graft.pipeline.EncodePipeline.run(s, Tokens.fromDocuments(s, dir),
        graft.pipeline.EncodePipeline.Config(outDir = out, targetBinTokens = 1L << 16))
      graft.sinks.ManifestSink.committedManifest(s, out)
        .groupBy("source")
        .agg(
          sum("n_docs").as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("raw_bytes").as("raw_bytes"))
    },
    Some(s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
            |  CAST(sum(n_tok) * 4 AS BIGINT) AS raw_bytes
            |FROM (SELECT source, ${Tokens.nTokSql("doc_id")} AS n_tok FROM documents)
            |GROUP BY source""".stripMargin))

  /** S-row multi-format source: documents exported to JSON lines, read
    * back through the schema-enforced json source, projected — the oracle
    * reads the original parquet, so any type/value drift through the
    * format boundary diverges (the reference's one-logical-table-many-
    * physical-formats posture).
    */
  private val sourceJson = Q(
    (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-srcjson").toString
      s.read.parquet(s"$dir/documents.parquet")
        .write.mode("overwrite").options(graft.util.LocalFs.WriteOptions).json(tmp)
      graft.sources.Documents.read(s, tmp, "json")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          length(col("text")).cast("long").as("text_len"))
    },
    Some("""SELECT doc_id, lang, source, n_chars,
           |  CAST(length(text) AS BIGINT) AS text_len FROM documents""".stripMargin))

  /** A2/G1 at scale: per-source distinct-word vocabulary — explode +
    * two-phase distinct aggregation (the shape of corpus-statistics jobs).
    */
  private val textVocab = Q(
    (s, dir) => s.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy("source")
      .agg(countDistinct("word").as("n_vocab"), count(lit(1)).as("n_words")),
    Some("""SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS n_vocab,
           |  CAST(count(*) AS BIGINT) AS n_words
           |FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
           |GROUP BY source""".stripMargin))

  // ---------------------------------------------------------------- registry

  val all: Map[String, Q] = Map(
    "scan_tokens" -> scanTokens,
    "project_prune" -> projectPrune,
    "filter_source" -> filterSource,
    "distinct_docs" -> distinctDocs,
    "sort_topk" -> sortTopk,
    "explode_tokens" -> explodeTokens,
    "stats_agg" -> statsAgg,
    "stats_partition" -> statsPartition,
    "binpack_window" -> binpackWindow,
    "encode_plain" -> codecRoundtrip("plain"),
    "encode_rle" -> codecRoundtrip("rle"),
    "encode_bitpack" -> codecRoundtrip("bitpack"),
    "encode_fordelta" -> codecRoundtrip("fordelta"),
    "encode_dict" -> codecRoundtrip("dict"),
    "encode_fsst" -> codecRoundtrip("fsst"),
    "codec_auto_roundtrip" -> Q(roundtrip("encode_auto(tokens)"), Some(roundtripOracle)),
    "roundtrip_identity" -> roundtripIdentity,
    "codec_auto" -> codecAuto,
    "encoded_sizes" -> encodedSizes,
    "encoded_sizes_exact" -> encodedSizesExact,
    "chunk_tokens" -> chunkTokens,
    "pack_tokens" -> packTokens,
    "vocab_remap" -> vocabRemap,
    "vocab_coverage" -> vocabCoverage,
    "hex_roundtrip" -> hexRoundtrip,
    "export_hex" -> exportHex,
    "chain_derive" -> chainDerive,
    "chain_u64_fanout" -> chainU64Fanout,
    "project_algebra" -> projectAlgebra,
    "decode_event" -> decodeEvent,
    "trace_frames" -> traceFrames,
    "media_kv" -> mediaKv,
    "source_json" -> sourceJson,
    "text_vocab" -> textVocab,
    "metrics_lineage" -> metricsLineage,
    "metrics_summary" -> metricsSummary
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.fn }
  def oracleSql: Map[String, String] =
    all.collect { case (k, Q(_, Some(o))) => k -> o }
}
