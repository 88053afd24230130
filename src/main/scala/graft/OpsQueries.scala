package graft

import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators exposed through the driver contract:
  * dedup family, similarity search, text analysis, multimodal plumbing,
  * and an event-table windowed aggregation. Oracles included wherever the
  * semantics are portable (value-exact) to DuckDB; approximate/engine-
  * internal ops (LSH candidates, fake decode features) are rows-only here
  * and verified against exact baselines in OpsSpec instead.
  */
object OpsQueries {

  import Queries.Q

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embeds(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private val dedupExact = Q(
    (s, dir) => Dedup.exact(docs(s, dir)),
    Some("""SELECT md5(text) AS digest, min(doc_id) AS doc_id,
           |  CAST(count(*) AS BIGINT) AS n_copies
           |FROM documents GROUP BY md5(text)""".stripMargin))

  private val dedupBow = Q(
    (s, dir) => Dedup.bagOfWords(docs(s, dir)),
    Some("""SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS digest,
           |  min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
           |FROM documents GROUP BY 1""".stripMargin))

  private val ngramJaccard = Q(
    (s, dir) => Dedup.ngramJaccard(docs(s, dir)),
    Some("""WITH g AS (
           |  SELECT doc_id, lang, n_chars,
           |    list_distinct(CASE WHEN len(words) >= 3 THEN
           |      list_transform(range(0, len(words) - 2),
           |        i -> words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3])
           |    ELSE [array_to_string(words, ' ')] END) AS grams
           |  FROM (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS words FROM documents)
           |)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(floor(100.0 * len(list_intersect(a.grams, b.grams)) /
           |    len(list_distinct(list_concat(a.grams, b.grams)))) AS BIGINT) AS jac_pct
           |FROM g a JOIN g b
           |  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id""".stripMargin))

  /** The production near-dup wiring: MinHash-LSH candidates (capped
    * buckets) → exact trigram-Jaccard verify → threshold. The oracle
    * replays it as exact all-pairs ≥ threshold — affordable at gate scale,
    * and equal to the LSH answer because 16×2 banding leaves < 1e-11
    * per-pair miss probability at jac ≥ 0.8 (verified empirically: the
    * gate data's near-dup pairs all sit at jac ≥ 90, the rest < 10).
    */
  private val dedupVerified = Q(
    (s, dir) => Dedup.verifiedPairs(docs(s, dir), minJacPct = 80),
    Some("""WITH g AS (
           |  SELECT doc_id,
           |    list_distinct(CASE WHEN len(words) >= 3 THEN
           |      list_transform(range(0, len(words) - 2),
           |        i -> words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3])
           |    ELSE [array_to_string(words, ' ')] END) AS grams
           |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
           |)
           |SELECT doc_a, doc_b, jac_pct FROM (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(floor(100.0 * len(list_intersect(a.grams, b.grams)) /
           |      len(list_distinct(list_concat(a.grams, b.grams)))) AS BIGINT) AS jac_pct
           |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
           |WHERE jac_pct >= 80""".stripMargin))

  /** Shared oracle prefix for the cluster-closure queries: exact all-pairs
    * trigram jaccard ≥ 80 (equal to the LSH candidate set at gate scale,
    * see dedup_verified) closed transitively with a recursive CTE, ending
    * in `cl(node, mn)` = per-node min reachable id. ONE string so
    * dedup_clusters and dedup_keepers can never desynchronize.
    */
  private val clusterClosureCte =
    """WITH RECURSIVE g AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(words) >= 3 THEN
      |      list_transform(range(0, len(words) - 2),
      |        i -> words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3])
      |    ELSE [array_to_string(words, ' ')] END) AS grams
      |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      |), p AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id
      |  WHERE floor(100.0 * len(list_intersect(a.grams, b.grams)) /
      |    len(list_distinct(list_concat(a.grams, b.grams)))) >= 80
      |), e AS (
      |  SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p
      |), reach AS (
      |  SELECT a AS node, b AS label FROM e
      |  UNION
      |  SELECT r.node, e2.b FROM reach r JOIN e e2 ON e2.a = r.label
      |), cl AS (
      |  SELECT node, min(label) AS mn FROM reach GROUP BY node
      |)""".stripMargin

  /** The last stage of the dedup pipeline: near-dup pairs → connected
    * components → per-doc cluster id (= keeper doc). Oracle replays the
    * same edge set exactly and closes it transitively
    * ([[clusterClosureCte]]).
    */
  private val dedupClusters = Q(
    (s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.verifiedPairs(d, minJacPct = 80).select("doc_a", "doc_b")
      val cc = Dedup.connectedComponents(pairs).withColumnRenamed("node", "doc_id")
      d.select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster"))
    },
    Some(clusterClosureCte +
      """
        |SELECT d.doc_id,
        |  CAST(coalesce(CASE WHEN cl.mn < d.doc_id THEN cl.mn ELSE d.doc_id END,
        |                d.doc_id) AS BIGINT) AS cluster
        |FROM documents d LEFT JOIN cl ON cl.node = d.doc_id""".stripMargin))

  /** The dedup pipeline's user-facing end: one keeper doc per near-dup
    * cluster with its member count — the deduplicated corpus. Oracle
    * extends [[clusterClosureCte]] (same validity conditions as
    * dedup_clusters) and aggregates cluster sizes.
    */
  private val dedupKeepers = Q(
    (s, dir) => Dedup.keepers(docs(s, dir), minJacPct = 80),
    Some(clusterClosureCte +
      """
        |SELECT CAST(cluster AS BIGINT) AS doc_id,
        |  COUNT(*) AS cluster_size
        |FROM (
        |  SELECT coalesce(CASE WHEN cl.mn < d.doc_id THEN cl.mn ELSE d.doc_id END,
        |                  d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN cl ON cl.node = d.doc_id
        |) GROUP BY 1""".stripMargin))

  /** MinHash-LSH pairs, oracle-checked (r4 promotion, same playbook as
    * dedup_simhash): the gate query runs with EXHAUSTIVE buckets
    * (maxBucket = Int.MaxValue), so the candidate set is exactly "some
    * band's 4-lane slice equal" — deterministic given the signatures —
    * and the oracle recomputes the identical signatures in DuckDB
    * (per-shingle FNV-1a + per-lane splitmix, the same HUGEINT-mod-2^64
    * machinery as the simhash oracle) and joins bands on slice equality
    * directly. est_jaccard*32 is the integer lane-agree count (exact in
    * double: /32 then *32 is a power-of-two round trip), and the ≥ 0.2
    * filter is the integer condition n_matching ≥ 7. Validity conditions:
    * (1) ASCII documents (per-char code points = UTF-8 bytes — same
    * condition as media_features/dedup_simhash, re-check on testdata
    * regen); (2) Spark buckets on xxhash64(band slice), the oracle on the
    * slice itself — equivalent unless xxhash64 collides on unequal
    * slices, and the pair-set equality was verified exact at sf0.01 AND
    * sf0.1 (no collision contributes a pair there); (3) the capped
    * production path (maxBucket=64 star edges) stays OpsSpec-tested.
    */
  private val dedupMinhash = Q(
    (s, dir) => Dedup.minhashPairs(docs(s, dir), minEstJaccard = 0.2,
        maxBucket = Int.MaxValue)
      .select(col("doc_a"), col("doc_b"),
        (col("est_jaccard") * 32).cast("long").as("n_matching")),
    Some(minhashOracleSql))

  /** SimHash near-dup pairs, oracle-checked in the PIGEONHOLE-SOUND regime
    * (r3 VERDICT item #4): at maxHamming ≤ 3 with 4×16-bit chunks, two
    * signatures within the threshold MUST agree on at least one chunk
    * (pigeonhole), and the gate query runs with exhaustive buckets
    * (maxBucket = Int.MaxValue), so candidate recall is deterministic and
    * the chunk+recheck result is provably the exact all-pairs hamming ≤ 3
    * set — which is what the oracle computes directly. The oracle replays
    * `simhash64` value-exactly in DuckDB: per-word FNV-1a folded in
    * HUGEINT mod 2^64 (valid because documents are pure ASCII — verified 0
    * non-ASCII at sf0.01 AND sf0.1; re-check if testdata regenerates),
    * splitmix finalizer with the 64×64→64 multiplies split 32/32 to stay
    * inside INT128, per-bit ±1 votes, bit_count(xor) hamming. Third
    * validity condition: DuckDB string_split ≡ Spark split on ' ' (both
    * keep empty segments). The capped/approximate path (maxBucket star
    * candidates, higher hamming) remains OpsSpec-tested; the r3-documented
    * unsoundness (jac≥80 pairs reach hamming 11) applies to THAT target,
    * not to a hamming-thresholded pair set.
    */
  private val dedupSimhash = Q(
    (s, dir) => Dedup.simhashPairs(docs(s, dir), maxHamming = 3,
      maxBucket = Int.MaxValue),
    Some(simhash64OracleSql))

  // ---- shared DuckDB replay machinery for the FNV-1a + splitmix kernels
  // (graft.functions.Simhash64.hash64 / MinhashSignature.compute). All
  // 64-bit arithmetic runs in HUGEINT mod 2^64; the 64×64→64 multiplies
  // are split 32/32 because a direct product overflows INT128, and 2^j
  // powers are emitted as decimal literals (HUGEINT `**` returns DOUBLE,
  // which loses exactness past 2^53). ----

  private def U64 = "18446744073709551616" // 2^64
  private def U32 = "4294967296"           // 2^32
  // splitmix64 constants, unsigned decimal
  private def SplitmixAdd = BigInt("11400714819323198485") // 0x9e3779b97f4a7c15
  private def SplitmixB = BigInt("13787848793156543929")   // 0xbf58476d1ce4e5b9
  private def SplitmixC = BigInt("10723151780598845931")   // 0x94d049bb133111eb

  private def mulmod64(z: String, k: BigInt): String = {
    val hi = k >> 32; val lo = k & BigInt("4294967295")
    s"((($z // $U32) * $lo + ($z % $U32) * $hi) % $U32 * $U32 + ($z % $U32) * $lo) % $U64"
  }

  /** FNV-1a over an ASCII string column → HUGEINT h0 in [0, 2^64). Valid
    * because per-char code points ARE the UTF-8 bytes for ASCII (the
    * media_features condition), and xor is confined to the low byte.
    */
  private def fnvFoldSql(strCol: String): String =
    s"""list_reduce(
       |      list_prepend(CAST(1469598103934665603 AS HUGEINT),
       |        list_transform(range(1, length($strCol) + 1),
       |          i -> CAST(ascii($strCol[i]) AS HUGEINT))),
       |      (acc, x) -> ((acc // 256) * 256
       |        + xor(CAST(acc % 256 AS BIGINT), CAST(x AS BIGINT)))
       |        * 1099511628211 % $U64) AS h0""".stripMargin

  /** The splitmix xor-shift/multiply chain from an already-defined z1
    * column to the finalized hv (lateral column references).
    */
  private def splitmixTailSql: String =
    s"""xor(z1, z1 // 1073741824) AS z2,
       |    ${mulmod64("z2", SplitmixB)} AS z3,
       |    xor(z3, z3 // 134217728) AS z4,
       |    ${mulmod64("z4", SplitmixC)} AS z5,
       |    xor(z5, z5 // 2147483648) AS hv""".stripMargin

  /** unsigned HUGEINT in [0,2^64) → signed BIGINT (two's-complement wrap). */
  private def toSigned64(u: String): String =
    s"CAST(CASE WHEN $u >= 9223372036854775808 THEN $u - $U64 ELSE $u END AS BIGINT)"

  /** DuckDB replay of [[graft.functions.Simhash64]] + exact hamming ≤ 3
    * all-pairs (see dedupSimhash's validity conditions).
    */
  private lazy val simhash64OracleSql: String = {
    val pows = (0 until 64).map(BigInt(1) << _).mkString("[", ",", "]")
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       |), h AS (
       |  SELECT doc_id,
       |    ${fnvFoldSql("word")},
       |    (h0 + $SplitmixAdd) % $U64 AS z1,
       |    $splitmixTailSql
       |  FROM w
       |), pw AS (
       |  SELECT unnest(range(64)) AS bit, unnest(CAST($pows AS HUGEINT[])) AS p
       |), v AS (
       |  SELECT doc_id, pw.bit, pw.p,
       |    SUM(CASE WHEN (hv // pw.p) % 2 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM h CROSS JOIN pw GROUP BY 1, 2, 3
       |), s AS (
       |  SELECT doc_id, SUM(CASE WHEN vote > 0 THEN p ELSE CAST(0 AS HUGEINT) END) AS u
       |  FROM v GROUP BY 1
       |), sim AS (
       |  SELECT doc_id, ${toSigned64("u")} AS simhash
       |  FROM s
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
  }

  /** DuckDB replay of [[graft.functions.MinhashSignature]] (k=32) + LSH
    * banding (8 bands × 4 rows, slice-equality join) + lane-agree count ≥ 7
    * (≡ est_jaccard ≥ 0.2). See dedupMinhash's validity conditions. The
    * shingle string is word_i..word_{i+2} each with a trailing space —
    * exactly the byte stream the kernel folds (word bytes, then the 0x20
    * separator mix, per word including the last).
    */
  private lazy val minhashOracleSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest(list_transform(range(0, greatest(1, len(words) - 2)),
       |    i -> array_to_string(list_transform(words[i + 1 : i + 3], x -> x || ' '), ''))) AS shingle
       |  FROM w
       |), h AS (
       |  SELECT doc_id,
       |    ${fnvFoldSql("shingle")}
       |  FROM sh
       |), lz AS (
       |  SELECT doc_id, l.lane,
       |    (h0 + l.lane * CAST($SplitmixAdd AS HUGEINT)) % $U64 AS z1,
       |    $splitmixTailSql
       |  FROM h CROSS JOIN (SELECT unnest(range(1, 33)) AS lane) l
       |), mins AS (
       |  SELECT doc_id, lane, min(${toSigned64("hv")}) AS sv
       |  FROM lz GROUP BY 1, 2
       |), sigt AS (
       |  SELECT doc_id, list(sv ORDER BY lane) AS mh FROM mins GROUP BY 1
       |), bands AS (
       |  SELECT doc_id, b.bb, mh[b.bb * 4 + 1 : b.bb * 4 + 4] AS bslice
       |  FROM sigt CROSS JOIN (SELECT unnest(range(8)) AS bb) b
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.bb = b.bb AND a.bslice = b.bslice
       |    AND a.doc_id < b.doc_id
       |)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(len(list_filter(range(32), i -> x.mh[i + 1] = y.mh[i + 1])) AS BIGINT) AS n_matching
       |FROM cand c JOIN sigt x ON x.doc_id = c.doc_a JOIN sigt y ON y.doc_id = c.doc_b
       |WHERE len(list_filter(range(32), i -> x.mh[i + 1] = y.mh[i + 1])) >= 7""".stripMargin

  /** Embedding near-dup pairs, oracle-checked (r4, third promotion on the
    * exhaustive-parameter playbook): planes = 0 puts every vector in one
    * bucket with no cap, so the candidate set is all pairs and the result
    * is exactly { (a,b) : cosine ≥ 0.3 } — which DuckDB computes directly
    * (double-cast cosine). Output is ids only; no float column crosses
    * the engine boundary. Validity condition (re-check if testdata
    * regenerates): the two engines evaluate cosine with different
    * operation order (Spark normalize-then-dot in double vs DuckDB
    * dot-over-norms), so a pair within fp error of the 0.3 threshold
    * could flip sets — the nearest pair sits |cos−0.3| = 6.9e-5 away at
    * sf0.01 and 6.6e-7 at sf0.1, orders of magnitude beyond the ~1e-14
    * double-accumulation divergence, and the pair sets were verified
    * exactly equal at both scales (990 and 14922 pairs). The LSH
    * production path (planes=4, capped buckets) stays OpsSpec-tested
    * (subset-of-exact + recall).
    */
  private val dedupEmbed = Q(
    (s, dir) => Dedup.embeddingPairs(embeds(s, dir), threshold = 0.3,
        planes = 0, tables = 1, maxBucket = Int.MaxValue)
      .select(col("vec_a"), col("vec_b")),
    Some("""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |  CAST(b.embedding AS DOUBLE[])) >= 0.3""".stripMargin))

  private val annBrute = Q(
    (s, dir) => {
      val e = embeds(s, dir)
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 20), k = 1)
        .select(col("probe_id"), col("nbr_id"))
    },
    Some("""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id < 20),
           |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
           |SELECT probe_id, nbr_id FROM (
           |  SELECT p.vec_id AS probe_id, c.vec_id AS nbr_id,
           |    row_number() OVER (PARTITION BY p.vec_id
           |      ORDER BY list_cosine_similarity(p.v, c.v) DESC, c.vec_id) AS rank
           |  FROM p JOIN c ON p.vec_id != c.vec_id)
           |WHERE rank = 1""".stripMargin))

  /** LSH top-k in the EXHAUSTIVE-bucket regime (r5 promotion, same
    * playbook as ann_ivf_topk's exhaustive probe sweep and dedup_embed's
    * planes = 0): zero hyperplanes and one table put every vector in one
    * bucket, so the candidate set is all pairs and the result provably
    * equals brute-force top-k — which the SQL oracle replays directly —
    * while still exercising the full LSH machinery (bucket expression,
    * index explode, candidate join, dedup, exact rerank). Validity
    * condition (shared with ann_ivf_topk, re-check if testdata
    * regenerates): Spark ranks normalize-then-dot in double while DuckDB
    * ranks list_cosine_similarity on the raw vectors — a pair of
    * neighbors within fp error of a rank boundary could flip order; the
    * current gate data has no such near-ties (the same rank rule already
    * hash-matches for ann_ivf_topk and ann_brute_top1 at sf0.01 and
    * sf0.1). The approximate path (planes = 4) stays recall-asserted in
    * OpsSpec.
    */
  private val annLsh = Q(
    (s, dir) => {
      val e = embeds(s, dir)
      Ann.lshTopK(e, e.filter(col("vec_id") < 20), k = 3,
        planes = 0, tables = 1)
    },
    Some("""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id < 20),
           |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
           |SELECT probe_id, rank, nbr_id FROM (
           |  SELECT p.vec_id AS probe_id, c.vec_id AS nbr_id,
           |    CAST(row_number() OVER (PARTITION BY p.vec_id
           |      ORDER BY list_cosine_similarity(p.v, c.v) DESC, c.vec_id) AS BIGINT) AS rank
           |  FROM p JOIN c ON p.vec_id != c.vec_id)
           |WHERE rank <= 3""".stripMargin))

  /** IVF with an EXHAUSTIVE probe sweep (nProbes = nCentroids): every
    * inverted list is probed, so the result provably equals brute-force
    * top-k — which a SQL oracle can replay — while still exercising the
    * full IVF machinery (k-means training, list assignment, probe
    * routing, candidate union, exact rerank). The approximate
    * (nProbes < nCentroids) recall path stays spec-asserted in OpsSpec.
    */
  private val annIvf = Q(
    (s, dir) => {
      val e = embeds(s, dir)
      Ann.ivfTopK(e, e.filter(col("vec_id") < 20), k = 3,
        nCentroids = 16, nProbes = 16)
    },
    Some("""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id < 20),
           |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
           |SELECT probe_id, rank, nbr_id FROM (
           |  SELECT p.vec_id AS probe_id, c.vec_id AS nbr_id,
           |    CAST(row_number() OVER (PARTITION BY p.vec_id
           |      ORDER BY list_cosine_similarity(p.v, c.v) DESC, c.vec_id) AS BIGINT) AS rank
           |  FROM p JOIN c ON p.vec_id != c.vec_id)
           |WHERE rank <= 3""".stripMargin))

  private val textQuality = Q(
    (s, dir) => TextOps.quality(docs(s, dir)),
    Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
           |  CAST(floor(10.0 * length(replace(text, ' ', '')) /
           |    (length(text) - length(replace(text, ' ', '')) + 1)) AS BIGINT) AS avg_word_len_x10
           |FROM documents""".stripMargin))

  private val textLangid = Q(
    (s, dir) => TextOps.langid(docs(s, dir)),
    Some("""WITH t AS (
           |  SELECT doc_id, lang, ' ' || text || ' ' AS padded,
           |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words
           |  FROM documents)
           |SELECT doc_id, lang,
           |  CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5
           |     + (length(padded) - length(replace(padded, ' a ', ''))) / 3
           |     + (length(padded) - length(replace(padded, ' data ', ''))) / 6 AS BIGINT) AS n_stop,
           |  CASE WHEN ((length(padded) - length(replace(padded, ' the ', ''))) / 5
           |           + (length(padded) - length(replace(padded, ' a ', ''))) / 3
           |           + (length(padded) - length(replace(padded, ' data ', ''))) / 6) * 1000.0
           |          / n_words >= 30 THEN 'en_like' ELSE 'other' END AS pred
           |FROM t""".stripMargin))

  private val textFilter = Q(
    (s, dir) => TextOps.qualityFilter(docs(s, dir)),
    Some("""WITH t AS (
           |  SELECT doc_id, ' ' || text || ' ' AS padded, text,
           |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words
           |  FROM documents
           |), m AS (
           |  SELECT doc_id, n_words,
           |    CAST(floor(10.0 * (length(text) - n_words + 1) / n_words) AS BIGINT) AS avg_wl_x10,
           |    CAST(floor(((length(padded) - length(replace(padded, ' the ', ''))) / 5
           |        + (length(padded) - length(replace(padded, ' a ', ''))) / 3
           |        + (length(padded) - length(replace(padded, ' data ', ''))) / 6) * 1000
           |        / n_words) AS BIGINT) AS stop_pm
           |  FROM t
           |)
           |SELECT doc_id, n_words, avg_wl_x10, stop_pm,
           |  CAST(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END AS BIGINT) AS kept, reason
           |FROM (
           |  SELECT *,
           |    CASE
           |     WHEN n_words < 5 THEN 'too_short'
           |     WHEN n_words > 100000 THEN 'too_long'
           |     WHEN avg_wl_x10 < 20 THEN 'words_too_short'
           |     WHEN avg_wl_x10 > 120 THEN 'words_too_long'
           |     WHEN stop_pm < 5 THEN 'no_function_words'
           |     ELSE 'kept' END AS reason
           |  FROM m)""".stripMargin))

  private val textTokens = Q(
    (s, dir) => TextOps.tokenCounts(docs(s, dir)),
    Some("""SELECT doc_id,
           |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe_tokens
           |FROM documents""".stripMargin))

  private val textFingerprint = Q(
    (s, dir) => TextOps.fingerprint(docs(s, dir)),
    Some("""SELECT doc_id,
           |  CAST(list_sum(list_transform(range(1, length(text) + 1),
           |    i -> i * ascii(text[i]))) % 1000000007 AS BIGINT) AS fingerprint
           |FROM documents""".stripMargin))

  private val mediaMeta = Q(
    (s, dir) => Multimodal.mediaMeta(docs(s, dir)),
    Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes, sha256(text) AS sha,
           |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
           |       ELSE 'video' END AS media_type,
           |  CAST(16 + length(text) % 97 AS BIGINT) AS width,
           |  CAST(16 + (length(text) * 7) % 89 AS BIGINT) AS height,
           |  CAST(1 + length(text) % 5 AS BIGINT) AS n_frames
           |FROM documents""".stripMargin))

  private val mediaFrames = Q(
    (s, dir) => Multimodal.frameSample(docs(s, dir), stride = 2),
    Some("""WITH m AS (
           |  SELECT doc_id, CAST(1 + length(text) % 5 AS BIGINT) AS n_frames
           |  FROM documents WHERE doc_id % 3 = 2)
           |SELECT doc_id, n_frames, unnest(range(0, n_frames, 2)) AS frame_idx FROM m""".stripMargin))

  private val mediaResize = Q(
    (s, dir) => Multimodal.resizePlan(docs(s, dir), maxDim = 64),
    Some("""WITH m AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
           |         ELSE 'video' END AS media_type,
           |    CAST(16 + length(text) % 97 AS BIGINT) AS width,
           |    CAST(16 + (length(text) * 7) % 89 AS BIGINT) AS height
           |  FROM documents)
           |SELECT doc_id, media_type, width, height,
           |  CAST(CASE WHEN greatest(width, height) > 64 THEN 1 ELSE 0 END AS BIGINT) AS needs_resize,
           |  CASE WHEN greatest(width, height) <= 64 THEN width
           |       ELSE (width * 64) // greatest(width, height) END AS new_width,
           |  CASE WHEN greatest(width, height) <= 64 THEN height
           |       ELSE (height * 64) // greatest(width, height) END AS new_height
           |FROM m""".stripMargin))

  /** The batched decode path end-to-end, oracle-checked: the stub decoder's
    * checksum is FNV-1a over the payload bytes — a pure fold the oracle
    * replays with list_reduce over the same bytes (documents are ASCII, so
    * per-char code points ARE the UTF-8 bytes; 64-bit wrap via HUGEINT
    * mod 2^64, xor confined to the low byte). This pins the whole Spark
    * plumbing — binary column, repartition, bounded batch iteration, typed
    * Dataset output — to a cross-engine value identity; the feature-vector
    * half (derived from the same checksum) stays spec-asserted.
    */
  private val mediaFeatures = Q(
    (s, dir) => Multimodal.decodeFeatures(s, docs(s, dir)).toDF()
      .select(col("doc_id"), col("media_type"), col("n_bytes").cast("long").as("n_bytes"),
        col("checksum")),
    Some("""SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
           |       ELSE 'video' END AS media_type,
           |  CAST(length(text) AS BIGINT) AS n_bytes,
           |  CAST(CASE WHEN v >= 9223372036854775808 THEN v - 18446744073709551616
           |       ELSE v END AS BIGINT) AS checksum
           |FROM (
           |  SELECT doc_id, text, list_reduce(
           |    list_prepend(CAST(1469598103934665603 AS HUGEINT),
           |      list_transform(range(1, length(text) + 1),
           |        i -> CAST(ascii(text[i]) AS HUGEINT))),
           |    (acc, x) -> ((acc // 256) * 256
           |      + xor(CAST(acc % 256 AS BIGINT), CAST(x AS BIGINT)))
           |      * 1099511628211 % 18446744073709551616) AS v
           |  FROM documents)""".stripMargin))

  /** Training-mixture construction: per-language downsampling to target
    * proportions (en 900‰, zh 700‰, rest 300‰) via the deterministic
    * doc_id bucket — a pure codegen'd filter, no shuffle, and replayable
    * arithmetic (see [[graft.ops.Sampling.bucketSql]]) so the oracle
    * recomputes the identical kept set.
    */
  private val corpusMix = Q(
    (s, dir) => Sampling.mixCorpus(docs(s, dir), "lang",
        Map("en" -> 900, "zh" -> 700), defaultPerMille = 300)
      .select(col("doc_id"), col("lang"), col("mix_bucket")),
    Some(s"""SELECT doc_id, lang, CAST(b AS BIGINT) AS mix_bucket
            |FROM (
            |  SELECT doc_id, lang, $bucketDuckSql AS b
            |  FROM documents)
            |WHERE b < CASE lang WHEN 'en' THEN 900 WHEN 'zh' THEN 700 ELSE 300 END"""
      .stripMargin))

  /** Benchmark decontamination: every 97th doc plays the eval set; corpus
    * docs sharing ≥ 2 distinct trigrams with a probe are flagged
    * (self-hits excluded). Exact set arithmetic, replayed verbatim by the
    * oracle.
    */
  private val decontaminate = Q(
    (s, dir) => {
      val d = docs(s, dir)
      val probes = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("probe_id"), col("text"))
      TextOps.contamination(d, probes, n = 3, minShared = 2)
        .filter(col("doc_id") =!= col("probe_id"))
    },
    Some("""WITH w AS (
           |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
           |), g AS (
           |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(words) >= 3 THEN
           |      list_transform(range(0, len(words) - 2),
           |        i -> words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3])
           |    ELSE [array_to_string(words, ' ')] END)) AS gram
           |  FROM w
           |), p AS (
           |  SELECT doc_id AS probe_id, gram FROM g WHERE doc_id % 97 = 0
           |)
           |SELECT g.doc_id, p.probe_id, COUNT(*) AS shared_grams
           |FROM g JOIN p ON g.gram = p.gram AND g.doc_id <> p.probe_id
           |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin))

  /** DuckDB replay of [[Sampling.bucketSql]] — ONE string shared by the
    * corpus_mix and corpus_split oracles so they can never desynchronize
    * (a `def`, per the init-order invariant on this object's helpers).
    */
  private def bucketDuckSql: String =
    "((doc_id % 4294967296) * 1597334677 % 4294967296) // 65536 % 1000"

  /** DuckDB replay of `Sampling.shuffleKey` — ONE string shared by the
    * corpus_shuffle and corpus_sample oracles so they can never
    * desynchronize (a `def`, per the init-order invariant on this
    * object's helpers). Value-identical to the Spark expression and the
    * OpsSpec driver replays; touch all or none.
    */
  private def shuffleKeyDuckSql(seed: Long): String =
    s"((doc_id % 4294967296 + $seed) % 4294967296) * 1103515245 % 4294967296"

  /** Deterministic train/val/test split ([[Sampling.split]]): 90/5/5 by
    * the doc_id mixing bucket — permanent assignments (appended docs land
    * in bands without moving anyone). The oracle replays the same
    * overflow-free bucket arithmetic as corpus_mix plus the band CASE.
    */
  private val corpusSplit = Q(
    (s, dir) => Sampling.split(docs(s, dir),
        Seq("train" -> 900, "val" -> 950, "test" -> 1000))
      .select(col("doc_id"), col("lang"), col("mix_bucket"), col("split")),
    Some(s"""SELECT doc_id, lang, CAST(b AS BIGINT) AS mix_bucket,
            |  CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val'
            |       ELSE 'test' END AS split
            |FROM (
            |  SELECT doc_id, lang, $bucketDuckSql AS b
            |  FROM documents)""".stripMargin))

  /** Exact-n stratified sample ([[Sampling.sampleExact]], n = 70 per
    * language, seed 7): the oracle replays the shuffleOrder-family hash
    * and ranks the FULL strata with row_number under the identical
    * (key, doc_id) total order — so the op's two-phase cutoff prune (the
    * 100 TB path: count → hash-cutoff candidates → window over ~n rows)
    * is proven invisible against an unpruned ranking. n = 70 straddles
    * the gate strata (fr = 64 < 70 ≤ the rest at sf0.01), covering both
    * the take-all and the pruned path. Same non-negative-doc_id and seed
    * conditions as corpus_shuffle; don't drop the doc_id tie-break on
    * either side (the total order is what makes ranks replayable).
    */
  private val corpusSample = Q(
    (s, dir) => Sampling.sampleExact(docs(s, dir), "lang", n = 70, seed = 7)
      .select(col("doc_id"), col("lang"), col("sample_key"), col("sample_rank")),
    Some(s"""SELECT doc_id, lang, CAST(k AS BIGINT) AS sample_key,
            |  CAST(rn - 1 AS BIGINT) AS sample_rank
            |FROM (
            |  SELECT doc_id, lang, k,
            |    row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn
            |  FROM (SELECT doc_id, lang, ${shuffleKeyDuckSql(7)} AS k
            |        FROM documents))
            |WHERE rn <= 70""".stripMargin))

  /** Per-stratum top-n by score ([[Sampling.topkByScore]], top 50 per
    * language by n_chars, 32 salts): the oracle ranks FULL strata under
    * the identical (n_chars DESC, doc_id) total order, so the salted
    * two-phase prune (phase-1 per-salt local top-n → phase-2 global cut)
    * is proven result-invisible. Don't drop the doc_id tie-break on
    * either side (n_chars has real ties), and keep scores non-null (the
    * op raises on null — null DESC placement differs across engines).
    */
  private val corpusTopk = Q(
    (s, dir) => Sampling.topkByScore(docs(s, dir), "lang", "n_chars", n = 50)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("topk_rank")),
    Some("""SELECT doc_id, lang, n_chars, CAST(rn - 1 AS BIGINT) AS topk_rank
           |FROM (SELECT doc_id, lang, n_chars,
           |        row_number() OVER (PARTITION BY lang
           |          ORDER BY n_chars DESC, doc_id) AS rn
           |      FROM documents)
           |WHERE rn <= 50""".stripMargin))

  /** Deterministic training-order shuffle ([[Sampling.shuffleOrder]],
    * 4 shards, seed 7): the oracle replays the multiplicative hash and
    * the per-shard row_number with the identical (key, doc_id) total
    * order, proving the whole permutation — not just the key values.
    */
  private val corpusShuffle = Q(
    (s, dir) => Sampling.shuffleOrder(docs(s, dir), nShards = 4, seed = 7)
      .select(col("doc_id"), col("shard"), col("shuffle_key"), col("shuffle_pos")),
    Some(s"""SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS shard,
            |  CAST(k AS BIGINT) AS shuffle_key,
            |  CAST(row_number() OVER (PARTITION BY doc_id % 4 ORDER BY k, doc_id)
            |    - 1 AS BIGINT) AS shuffle_pos
            |FROM (
            |  SELECT doc_id, ${shuffleKeyDuckSql(7)} AS k
            |  FROM documents)""".stripMargin))

  /** Gopher-style repetition signals ([[TextOps.repetition]], n=2): the
    * oracle rebuilds the full (non-distinct) bigram stream per doc and
    * re-derives instance/distinct/top/duplicate counts — value-exact
    * because both engines split on the single-space convention already
    * pinned by text_tokens/decontaminate.
    */
  private val textRepetition = Q(
    (s, dir) => TextOps.repetition(docs(s, dir), n = 2),
    Some("""WITH w AS (
           |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
           |), g AS (
           |  SELECT doc_id, unnest(list_transform(range(0, len(words) - 1),
           |      i -> words[i + 1] || ' ' || words[i + 2])) AS gram
           |  FROM w WHERE len(words) >= 2
           |), pg AS (
           |  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
           |), st AS (
           |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           |    CAST(count(*) AS BIGINT) AS distinct_grams,
           |    CAST(max(c) AS BIGINT) AS top_gram_count
           |  FROM pg GROUP BY 1
           |)
           |SELECT doc_id, n_grams, distinct_grams, top_gram_count,
           |  n_grams - distinct_grams AS dup_grams FROM st
           |UNION ALL
           |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)
           |FROM w WHERE len(words) < 2""".stripMargin))

  /** Exact duplicate-span detection ([[Dedup.dupSpans]], n=8): the oracle
    * rebuilds every 8-word window as its gram STRING (each word + trailing
    * space — byte-identical to what the native shingle_hashes kernel
    * folds), groups on the string, and flags windows whose gram occurs in
    * ≥ 2 distinct docs. Spark groups on the kernel's 64-bit FNV fold
    * instead — equivalent unless distinct grams collide at 64 bits, and
    * the gate data's hashes are verified collision-free in OpsSpec (plus
    * the row-set equality here re-checks it end-to-end: a collision would
    * add rows / inflate n_docs, never hide them). Short-doc rule (one
    * whole-doc window when len < n) is mirrored by the greatest(1, …)
    * range bound and DuckDB's clamping slice. ASCII-documents condition as
    * usual for the byte-fold replays (re-check if testdata regenerates).
    */
  private val dedupSpans = Q(
    (s, dir) => Dedup.dupSpans(docs(s, dir), n = 8, minDocs = 2),
    Some("""WITH w AS (
           |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
           |), g AS (
           |  SELECT doc_id,
           |    unnest(range(0, greatest(1, len(words) - 7))) AS pos,
           |    unnest(list_transform(range(0, greatest(1, len(words) - 7)),
           |      i -> array_to_string(list_transform(words[i + 1 : i + 8], x -> x || ' '), ''))) AS gram
           |  FROM w
           |), c AS (
           |  SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1
           |)
           |SELECT g.doc_id, CAST(g.pos AS BIGINT) AS pos, CAST(c.nd AS BIGINT) AS n_docs
           |FROM g JOIN c USING (gram) WHERE c.nd >= 2""".stripMargin))

  /** Duplicate-span REMOVAL ([[Dedup.cutSpans]], n=8, keeper = min
    * doc_id): the oracle rebuilds the flagged-window set over gram
    * STRINGS (same CTE chain as dedup_spans plus the min-doc keeper),
    * expands it to covered word indices, drops those words, rejoins the
    * survivors with single spaces, and re-derives the position-weighted
    * char fingerprint of the cleaned text with the same list-fold the
    * text_fingerprint/text_scrub oracles use — so one wrongly cut or
    * wrongly kept word anywhere diverges `cleaned_fp`. Same validity
    * conditions as dedup_spans (64-bit hash collisions could only change
    * the flag set, and the fingerprint equality would catch it; ASCII
    * docs; short-doc whole-window rule), plus: empty cleaned text folds
    * to 0 on both sides (coalesce over DuckDB's NULL empty-list sum).
    */
  private val dedupSpansCut = Q(
    (s, dir) => Dedup.cutSpans(docs(s, dir), n = 8, minDocs = 2),
    Some("""WITH w AS (
           |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
           |), g AS (
           |  SELECT doc_id,
           |    unnest(range(0, greatest(1, len(words) - 7))) AS pos,
           |    unnest(list_transform(range(0, greatest(1, len(words) - 7)),
           |      i -> array_to_string(list_transform(words[i + 1 : i + 8], x -> x || ' '), ''))) AS gram
           |  FROM w
           |), c AS (
           |  SELECT gram, count(DISTINCT doc_id) AS nd, min(doc_id) AS keeper
           |  FROM g GROUP BY 1
           |), cov AS (
           |  SELECT DISTINCT doc_id, idx FROM (
           |    SELECT g.doc_id,
           |      unnest(range(g.pos, least(g.pos + 8, len(w.words)))) AS idx
           |    FROM g JOIN c USING (gram) JOIN w USING (doc_id)
           |    WHERE c.nd >= 2 AND g.doc_id <> c.keeper)
           |), e AS (
           |  SELECT doc_id, unnest(words) AS word,
           |         unnest(range(0, len(words))) AS idx
           |  FROM w
           |), cl AS (
           |  SELECT e.doc_id,
           |    array_to_string(list(e.word ORDER BY e.idx), ' ') AS s,
           |    count(*) AS n_kept
           |  FROM e LEFT JOIN cov ON cov.doc_id = e.doc_id AND cov.idx = e.idx
           |  WHERE cov.idx IS NULL GROUP BY 1
           |)
           |SELECT w.doc_id,
           |  CAST(len(w.words) - coalesce(cl.n_kept, 0) AS BIGINT) AS n_cut,
           |  CAST(coalesce(cl.n_kept, 0) AS BIGINT) AS n_kept,
           |  CAST(coalesce(list_sum(list_transform(
           |    range(1, length(coalesce(cl.s, '')) + 1),
           |    i -> i * ascii(coalesce(cl.s, '')[i]))), 0) % 1000000007 AS BIGINT)
           |    AS cleaned_fp
           |FROM w LEFT JOIN cl USING (doc_id)""".stripMargin))

  /** Fractional repeat-factor resampling ([[Sampling.upsample]]): en gets
    * 2.5 epochs, zh 0.5, everything else 1.0. The oracle replays the
    * shared bucket arithmetic ([[bucketDuckSql]]) plus the whole-copies +
    * fractional-copy split, and unnests range(0, n_copies) — so the exact
    * copy multiset (not just counts) is value-identical. Same
    * non-negative-doc_id validity condition as corpus_mix/corpus_split.
    */
  private val corpusUpsample = Q(
    (s, dir) => Sampling.upsample(docs(s, dir), "lang",
        Map("en" -> 2500, "zh" -> 500), defaultPerMille = 1000)
      .select(col("doc_id"), col("lang"), col("mix_bucket"),
        col("n_copies"), col("copy_idx")),
    Some(s"""SELECT doc_id, lang, CAST(b AS BIGINT) AS mix_bucket,
            |  CAST(nc AS BIGINT) AS n_copies,
            |  CAST(unnest(range(0, nc)) AS BIGINT) AS copy_idx
            |FROM (
            |  SELECT doc_id, lang, b,
            |    (r // 1000) + CASE WHEN b < r % 1000 THEN 1 ELSE 0 END AS nc
            |  FROM (SELECT doc_id, lang, $bucketDuckSql AS b,
            |          CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 500
            |               ELSE 1000 END AS r
            |        FROM documents))""".stripMargin))

  /** Winnowing fingerprints ([[TextOps.winnow]], n=5, w=4): the oracle
    * rebuilds each 5-word shingle string ("w1 … w5 " — the kernel's
    * byte-fold identity), replays the FNV-1a fold with the shared HUGEINT
    * machinery ([[fnvFoldSql]]), converts to the SIGNED ordering
    * ([[toSigned64]] — the same convention the minhash lane-min replay
    * uses), computes each window's min over a 4-row frame, and picks the
    * rightmost position attaining it via max(pos) group-by. Window
    * validity (full windows only, except the single clipped window of a
    * short doc) mirrors the op's cnt/nh filter. ASCII-documents condition
    * as for all byte-fold replays; signed-order equivalence is exact (the
    * conversion is the two's-complement bijection).
    */
  private val textWinnow = Q(
    (s, dir) => TextOps.winnow(docs(s, dir), n = 5, w = 4),
    Some(s"""WITH w AS (
            |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
            |), sh AS (
            |  SELECT doc_id,
            |    unnest(range(0, greatest(1, len(words) - 4))) AS pos,
            |    unnest(list_transform(range(0, greatest(1, len(words) - 4)),
            |      i -> array_to_string(list_transform(words[i + 1 : i + 5], x -> x || ' '), ''))) AS shingle
            |  FROM w
            |), h AS (
            |  SELECT doc_id, pos,
            |    ${fnvFoldSql("shingle")}
            |  FROM sh
            |), hs AS (
            |  SELECT doc_id, pos, ${toSigned64("h0")} AS hv FROM h
            |), wm AS (
            |  SELECT doc_id, pos AS i,
            |    min(hv) OVER fr AS m,
            |    count(*) OVER fr AS cnt,
            |    count(*) OVER (PARTITION BY doc_id) AS nh
            |  FROM hs
            |  WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
            |                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
            |), sel AS (
            |  SELECT hs.doc_id, wm.i, wm.m, max(hs.pos) AS fp_pos
            |  FROM wm JOIN hs ON hs.doc_id = wm.doc_id
            |    AND hs.pos BETWEEN wm.i AND wm.i + 3 AND hs.hv = wm.m
            |  WHERE wm.cnt = 4 OR (wm.i = 0 AND wm.nh < 4)
            |  GROUP BY 1, 2, 3
            |)
            |SELECT DISTINCT doc_id, CAST(fp_pos AS BIGINT) AS fp_pos,
            |  CAST(m AS BIGINT) AS fp_hash
            |FROM sel""".stripMargin))

  /** Pattern redaction ([[TextOps.scrub]]): vowel runs → '_' (the corpus
    * is pure lowercase letters, so digit/email PII patterns would be
    * vacuous — the REGEX DIALECT validity condition lives at the op). The
    * oracle replays the global regexp_replace in DuckDB (RE2 ≡ Java regex
    * on this character-class subset) and re-derives the position-weighted
    * fingerprint of the scrubbed text with the same list-fold the
    * text_fingerprint oracle uses — one mis-replaced character anywhere
    * diverges scrubbed_fp.
    */
  private val textScrub = Q(
    (s, dir) => TextOps.scrub(docs(s, dir), "[aeiou]{2,}", "_"),
    Some("""SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '[aeiou]{2,}')) AS BIGINT) AS n_redacted,
           |  CAST(length(s) AS BIGINT) AS scrubbed_len,
           |  CAST(list_sum(list_transform(range(1, length(s) + 1),
           |    i -> i * ascii(s[i]))) % 1000000007 AS BIGINT) AS scrubbed_fp
           |FROM (SELECT doc_id, text, regexp_replace(text, '[aeiou]{2,}', '_', 'g') AS s
           |      FROM documents)""".stripMargin))

  /** Exact per-stratum quantiles ([[Quantiles.exactQuantiles]], the
    * per-language text-length distribution at 250/500/750/990‰): the rank
    * rule is explicit — smallest value whose cumulative count reaches
    * ceil(q·total/1000) (percentile_disc semantics) — and the oracle
    * replays it verbatim over the identical (lang, length) value
    * distribution, so BOTH engines run the distribution-first shape (the
    * 100 TB path: one slim value-count shuffle, window over distinct
    * values) rather than each engine's own interpolating percentile.
    * `length()` is the char count in both engines on ASCII text (the
    * shared ASCII-documents condition); q·total stays far inside i64.
    */
  private val statsQuantiles = Q(
    (s, dir) => Quantiles.exactQuantiles(
      docs(s, dir).withColumn("text_len", length(col("text"))),
      "lang", "text_len", Seq(250, 500, 750, 990)),
    Some("""SELECT lang, q AS q_per_mille, v AS text_len
           |FROM (
           |  SELECT lang, v, c,
           |    sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
           |    sum(c) OVER (PARTITION BY lang) AS total
           |  FROM (SELECT lang, CAST(length(text) AS BIGINT) AS v,
           |          CAST(count(*) AS BIGINT) AS c
           |        FROM documents GROUP BY 1, 2)),
           |  (SELECT CAST(unnest([250, 500, 750, 990]) AS BIGINT) AS q)
           |WHERE cum >= (q * total + 999) // 1000
           |  AND cum - c < (q * total + 999) // 1000""".stripMargin))

  /** Per-stratum percentile-rank normalization
    * ([[Quantiles.percentileRanks]] over (lang, length(text))): every
    * doc's per-mille rank `(cum·1000) div total` — the integral
    * cross-stratum score normalization. The oracle replays the identical
    * distribution-join; same conditions as stats_quantiles (stated rank
    * rule, `div` ↔ `//`, ASCII length()) plus: the value→rank join must
    * stay SHUFFLE_HASH with the bounded distribution as build (OpsSpec
    * asserts it).
    */
  private val statsPctRank = Q(
    (s, dir) => Quantiles.percentileRanks(
      docs(s, dir).withColumn("text_len", length(col("text"))),
      "lang", "text_len")
      .select(col("doc_id"), col("lang"), col("text_len"), col("pct_mille")),
    Some("""WITH dist AS (
           |  SELECT lang, v, (cum * 1000) // total AS pct_mille FROM (
           |    SELECT lang, v,
           |      sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
           |      sum(c) OVER (PARTITION BY lang) AS total
           |    FROM (SELECT lang, CAST(length(text) AS BIGINT) AS v,
           |            CAST(count(*) AS BIGINT) AS c
           |          FROM documents GROUP BY 1, 2)))
           |SELECT d.doc_id, d.lang, p.v AS text_len,
           |  CAST(p.pct_mille AS BIGINT) AS pct_mille
           |FROM documents d JOIN dist p
           |  ON d.lang = p.lang AND CAST(length(d.text) AS BIGINT) = p.v""".stripMargin))

  // ---- distributed BPE trainer ([[graft.ops.Bpe]]) --------------------

  /** DuckDB replay of `k` BPE trainer rounds over the generated token
    * table: it0 is the exploded (doc_id, pos, tok) stream rebuilt from
    * [[graft.sources.Tokens.duckTokensCte]]; each round picks the top
    * adjacent pair under the (count DESC, lhs, rhs) total order and
    * rewrites the stream with lead/lag marking — the merge start becomes
    * the fresh id, the consumed right-hand row is dropped. The marking is
    * equivalent to the kernel's greedy left-to-right pass ONLY when
    * lhs ≠ rhs (overlapping matches are impossible then: a consumed row
    * holds rhs, a match start holds lhs); the lhs = rhs run-parity case
    * is NOT expressible with one lag — that regime is the gate validity
    * condition below, and the kernel's handling of it is BpeSpec-tested.
    */
  private def bpeIterCtes(k: Int): String = {
    val sb = new StringBuilder(graft.sources.Tokens.duckTokensCte)
    // every iteration CTE is MATERIALIZED: it$r / t$r are referenced more
    // than once, and DuckDB's default inlining re-evaluates the whole
    // upstream chain per reference — exponential in k (measured: the
    // un-hinted 6-round form ran > 20 min at sf0.01; materialized,
    // seconds)
    sb ++= ",\nit0 AS MATERIALIZED (SELECT doc_id, i AS pos, CAST(tok AS BIGINT) AS tok FROM tokv)"
    for (r <- 0 until k) {
      sb ++= s""",
t$r AS MATERIALIZED (
  SELECT a, b, count(*) AS c FROM (
    SELECT tok AS a, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
    FROM it$r)
  WHERE b IS NOT NULL
  GROUP BY 1, 2 ORDER BY c DESC, a ASC, b ASC LIMIT 1
),
it${r + 1} AS MATERIALIZED (
  SELECT doc_id, pos,
    CASE WHEN tok = (SELECT a FROM t$r) AND nxt = (SELECT b FROM t$r)
         THEN CAST(${Bpe.NewIdBase + r} AS BIGINT) ELSE tok END AS tok
  FROM (SELECT doc_id, pos, tok,
          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
          lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prv
        FROM it$r)
  WHERE NOT coalesce(prv = (SELECT a FROM t$r) AND tok = (SELECT b FROM t$r), FALSE)
)"""
    }
    sb.toString
  }

  private def BpeGateMerges = 6

  /** BPE merge learning ([[Bpe.learnMerges]], 6 rounds over the full
    * generated token table): the gate output is the learned merge table
    * itself — each row's pair count depends on the whole corpus state
    * after every previous merge, so one wrong rewrite anywhere diverges a
    * later round. Validity conditions: (1) every learned merge at gate
    * data has lhs ≠ rhs (verified at sf0.01 AND sf0.1 — all six merges
    * land in the dense mod-64 profile; re-check if testdata regenerates),
    * which is what makes the oracle's lag-marking rewrite ≡ the kernel's
    * greedy pass (see [[bpeIterCtes]]); the lhs = rhs run-parity regime
    * is BpeSpec-tested against a driver replay. (2) Both engines break
    * count ties with the same (count DESC, lhs ASC, rhs ASC) TOTAL order
    * — gate data has real ties at every round, so don't weaken either
    * side's ORDER BY. (3) Fresh ids start at 2^31, above the int32 token
    * domain — no collision with input tokens.
    */
  private val bpeLearn = Q(
    (s, dir) => {
      val toks = graft.sources.Tokens.fromDocuments(s, dir)
        .select(col("doc_id"), col("tokens"))
      val (merges, _) = Bpe.learnMerges(toks, BpeGateMerges)
      s.createDataFrame(merges)
    },
    Some(bpeIterCtes(BpeGateMerges) + "\n" +
      (0 until BpeGateMerges).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
           |  CAST(c AS BIGINT) AS pair_count,
           |  CAST(${Bpe.NewIdBase + r} AS BIGINT) AS new_id FROM t$r""".stripMargin)
        .mkString("\nUNION ALL\n")))

  /** BPE application ([[Bpe.learnMerges]]'s merged corpus — the
    * "tokenize with the trained model" path): per-doc surviving token
    * count plus the position-weighted checksum of the REMAPPED sequence
    * (`long_checksum`: sum((i+1)·tok mod M) mod M), so every merge site
    * and every survivor's position is value-pinned — one wrongly merged
    * or wrongly kept token anywhere diverges bpe_sum. The oracle chains
    * the same 6 replay rounds and folds row_number-densified positions.
    * Same validity conditions as bpe_learn; checksum terms stay in i64
    * because ids < 2^32 and docs < 2^13 tokens (< 2^45 per term).
    */
  private val bpeApply = Q(
    (s, dir) => {
      val toks = graft.sources.Tokens.fromDocuments(s, dir)
        .select(col("doc_id"), col("tokens"))
      val (_, merged) = Bpe.learnMerges(toks, BpeGateMerges)
      merged.select(col("doc_id"),
        size(col("tokens")).cast("long").as("n_tok_after"),
        call_function("long_checksum", col("tokens")).as("bpe_sum"))
    },
    Some(bpeIterCtes(BpeGateMerges) + s"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok_after,
  CAST(sum((rn * tok) % 1000000007) % 1000000007 AS BIGINT) AS bpe_sum
FROM (SELECT doc_id, tok,
        row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      FROM it$BpeGateMerges)
GROUP BY doc_id"""))

  /** Per-document document-frequency profile ([[TextOps.rareTerms]] —
    * the TF-IDF corpus join kept integral): the oracle rebuilds tf/df
    * from the same whitespace split and replays the arg-min via DuckDB's
    * named-struct min (both engines compare (df, term) field-by-field;
    * term compare is byte order — ASCII-documents condition). The
    * `sum(tf·df)` fold pins the whole join result, so a single wrong df
    * anywhere diverges some doc's sum. The tf ⨝ df join must stay
    * SHUFFLE_HASH with df as build (vocab never broadcasts at 100 TB;
    * SMJ would sort the probe stream — OpsSpec asserts it).
    */
  private val textRareTerms = Q(
    (s, dir) => TextOps.rareTerms(docs(s, dir)),
    Some("""WITH tf AS (
           |  SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           |        FROM documents)
           |  GROUP BY 1, 2),
           |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           |       FROM tf GROUP BY 1)
           |SELECT tf.doc_id,
           |  CAST(count(*) AS BIGINT) AS n_distinct_terms,
           |  CAST(sum(tf.tf) AS BIGINT) AS n_terms,
           |  min({'df': df.df, 'term': tf.term}).term AS rarest_term,
           |  min(df.df) AS rarest_df,
           |  CAST(sum(tf.tf * df.df) AS BIGINT) AS tf_df_sum
           |FROM tf JOIN df USING (term)
           |GROUP BY 1""".stripMargin))

  /** Event sessionization ([[Sessions.sessionize]], 12-hour gap — the
    * gate data's median intra-user gap is ~7.7 h, so 12 h yields real
    * multi-event sessions WITH plenty of boundary cuts at every sf): the
    * oracle replays the identical lag → flag → running-sum chain under
    * the (ts, event_id) TOTAL order (don't drop the event_id tie-break
    * on either side), over epoch microseconds (`unix_micros` ↔
    * `epoch_us`, both the parquet int64). The per-session id bounds/sum
    * pin exact membership; all columns integral. The op's whole chain —
    * lag, cumsum, rollup — must keep riding ONE exchange + ONE sort
    * (OpsSpec asserts it); don't split the rollup onto its own
    * (user, session) exchange.
    */
  private val eventsSessions = Q(
    (s, dir) => Sessions.sessionize(
      s.read.parquet(s"$dir/events.parquet"), gapUs = 43200000000L),
    Some("""WITH e AS (
           |  SELECT user_id, event_id, epoch_us(ts) AS t,
           |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
           |      ORDER BY epoch_us(ts), event_id) AS prev
           |  FROM events),
           |s AS (
           |  SELECT user_id, event_id, t,
           |    sum(CASE WHEN prev IS NULL OR t - prev > 43200000000
           |             THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY user_id ORDER BY t, event_id
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      - 1 AS session_idx
           |  FROM e)
           |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(max(t) - min(t) AS BIGINT) AS span_us,
           |  min(event_id) AS min_event_id, max(event_id) AS max_event_id,
           |  CAST(sum(event_id) AS BIGINT) AS event_sum
           |FROM s GROUP BY 1, 2""".stripMargin))

  /** Ordered funnel progression ([[Sessions.funnel]], signup → view →
    * purchase): per user, the deepest stage reached under the STRICT
    * earliest-completion rule (stage i's time = min event time of its
    * type LATER than stage i−1's completion; same-instant does not
    * advance — `>` replays identically in both engines, where `>=` would
    * double-count same-timestamp batches). Validity conditions: session
    * timeZone = UTC (epoch_us ↔ unix_micros, the events_sessions
    * convention) and min() over exact BIGINT micros — no float ever
    * enters. The per-depth frontier rows are unique per (user, depth),
    * so the deepest-row argmax is deterministic on both sides.
    */
  private val eventsFunnel = Q(
    (s, dir) => Sessions.funnel(
      s.read.parquet(s"$dir/events.parquet"),
      Seq("signup", "view", "purchase")),
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
           |f0 AS (SELECT user_id, min(t) AS t0 FROM e
           |       WHERE event_type = 'signup' GROUP BY user_id),
           |f1 AS (SELECT e.user_id, t0, min(t) AS t1 FROM e
           |       JOIN f0 ON e.user_id = f0.user_id
           |       WHERE event_type = 'view' AND t > t0 GROUP BY e.user_id, t0),
           |f2 AS (SELECT e.user_id, t0, t1, min(t) AS t2 FROM e
           |       JOIN f1 ON e.user_id = f1.user_id
           |       WHERE event_type = 'purchase' AND t > t1 GROUP BY e.user_id, t0, t1),
           |d AS (
           |  SELECT user_id, 1 AS sc, t0 AS first_us, t0 AS last_us FROM f0
           |  UNION ALL SELECT user_id, 2, t0, t1 FROM f1
           |  UNION ALL SELECT user_id, 3, t0, t2 FROM f2)
           |SELECT d.user_id, CAST(d.sc AS BIGINT) AS stages_completed,
           |  d.first_us, d.last_us
           |FROM d JOIN (SELECT user_id, max(sc) AS m FROM d GROUP BY user_id) mx
           |  ON d.user_id = mx.user_id AND d.sc = mx.m""".stripMargin))

  /** Hour-over-hour retention ([[Sessions.retention]]): per active UTC
    * hour bucket, distinct active users and how many are active again in
    * the next hour. Bucketing is integral `div` over epoch micros (`//`
    * in DuckDB) — no double division near bucket boundaries; counts are
    * exact BIGINTs over the slim distinct (user, hour) frame.
    */
  private val eventsRetention = Q(
    (s, dir) => Sessions.retention(s.read.parquet(s"$dir/events.parquet")),
    Some("""WITH a AS (
           |  SELECT DISTINCT user_id,
           |    (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us
           |  FROM events),
           |r AS (
           |  SELECT a.hour_us, count(*) AS n_ret FROM a
           |  JOIN a b ON a.user_id = b.user_id
           |    AND b.hour_us = a.hour_us + 3600000000
           |  GROUP BY a.hour_us)
           |SELECT a.hour_us, CAST(count(*) AS BIGINT) AS n_users,
           |  CAST(coalesce(max(r.n_ret), 0) AS BIGINT) AS n_retained
           |FROM a LEFT JOIN r ON a.hour_us = r.hour_us
           |GROUP BY a.hour_us""".stripMargin))

  private val eventsHourly = Q(
    (s, dir) => s.read.parquet(s"$dir/events.parquet")
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 3).as("sum_value")),
    Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           |  event_type, CAST(count(*) AS BIGINT) AS n,
           |  round(sum(value), 3) AS sum_value
           |FROM events GROUP BY 1, 2""".stripMargin))

  val all: Map[String, Q] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_bow" -> dedupBow,
    "ngram_jaccard" -> ngramJaccard,
    "dedup_verified" -> dedupVerified,
    "dedup_clusters" -> dedupClusters,
    "dedup_keepers" -> dedupKeepers,
    "corpus_mix" -> corpusMix,
    "corpus_split" -> corpusSplit,
    "corpus_shuffle" -> corpusShuffle,
    "corpus_sample" -> corpusSample,
    "corpus_topk" -> corpusTopk,
    "decontaminate" -> decontaminate,
    "dedup_spans" -> dedupSpans,
    "dedup_spans_cut" -> dedupSpansCut,
    "corpus_upsample" -> corpusUpsample,
    "text_scrub" -> textScrub,
    "text_winnow" -> textWinnow,
    "text_repetition" -> textRepetition,
    "stats_quantiles" -> statsQuantiles,
    "stats_pct_rank" -> statsPctRank,
    "text_rare_terms" -> textRareTerms,
    "bpe_learn" -> bpeLearn,
    "bpe_apply" -> bpeApply,
    "dedup_minhash" -> dedupMinhash,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embed" -> dedupEmbed,
    "ann_brute_top1" -> annBrute,
    "ann_lsh_topk" -> annLsh,
    "ann_ivf_topk" -> annIvf,
    "text_quality" -> textQuality,
    "text_langid" -> textLangid,
    "text_tokens" -> textTokens,
    "text_filter" -> textFilter,
    "text_fingerprint" -> textFingerprint,
    "media_meta" -> mediaMeta,
    "media_frames" -> mediaFrames,
    "media_resize" -> mediaResize,
    "media_features" -> mediaFeatures,
    "events_hourly" -> eventsHourly,
    "events_sessions" -> eventsSessions,
    "events_funnel" -> eventsFunnel,
    "events_retention" -> eventsRetention
  )
}
