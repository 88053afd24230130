package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: quality scoring,
  * token counting, language-ID heuristic, document fingerprinting. All
  * single-pass, shuffle-free per-row expressions (portable enough for the
  * DuckDB oracle to replay value-exactly).
  */
object TextOps {

  /** Word count by space counting (length − length without spaces + 1):
    * arithmetic both engines replay exactly.
    */
  private def nWords: Column =
    (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).cast("long")

  /** Whole-word occurrences of the stop words "the", "a" and "data",
    * counted on the space-padded text column `padded`.
    */
  private def stopWords: Column = Seq("the", "a", "data").map { word =>
    (length(col("padded")) - length(regexp_replace(col("padded"), s" $word ", ""))) /
      (word.length + 2)
  }.reduce(_ + _)

  /** Quality stats: word/char counts, average word length (×10, integer),
    * stopword density (per 1000 words). Space-counting via length-replace
    * keeps the arithmetic portable across engines.
    */
  def quality(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      nWords.as("n_words"))
      .withColumn("avg_word_len_x10",
        expr("CAST(floor(10.0 * (n_chars - n_words + 1) / n_words) AS BIGINT)"))

  /** Stopword-based language-ID heuristic: density of a tiny English
    * function-word set; `pred` = 'en' over a threshold. (The corpus being
    * synthetic word soup, this measures plumbing, not linguistics.)
    */
  def langid(docs: DataFrame): DataFrame =
    docs
      .withColumn("padded", concat(lit(" "), col("text"), lit(" ")))
      .withColumn("n_stop", stopWords.cast("long"))
      .withColumn("n_words", nWords)
      .select(col("doc_id"), col("lang"), col("n_stop"),
        expr("CASE WHEN n_stop * 1000 / n_words >= 30 THEN 'en_like' ELSE 'other' END").as("pred"))

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation count
    * (letter runs / digit runs / single punctuation).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      nWords.as("n_ws_tokens"),
      regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"))
        .cast("long").as("n_bpe_tokens"))

  /** Position-weighted rolling fingerprint over character codes:
    * sum(i * ascii(text[i])) % p — an order-sensitive content hash that both
    * engines can compute identically. Computed by the native
    * [[graft.functions.CharFingerprint]] kernel (the SQL-lambda mirror is
    * [[fingerprintSql]]; equivalence asserted in OpsSpec — the lambda form
    * was the last interpreted-HOF hot path in the round-1 bench).
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      expr("char_fingerprint(text)").as("fingerprint"))
  }

  /** Training-data quality FILTER — the consumer of the quality metrics:
    * length bounds, average-word-length band, stopword floor. Emits every
    * doc with `kept` and a deterministic `reason` (first failing rule, in
    * fixed order), so filter tuning can audit what each rule costs —
    * filtering silently is how corpora rot. All CASE logic → portable to
    * the oracle.
    */
  def qualityFilter(docs: DataFrame, minWords: Long = 5, maxWords: Long = 100000,
      minAvgWordLenX10: Long = 20, maxAvgWordLenX10: Long = 120,
      minStopPerMille: Long = 5): DataFrame =
    docs
      .withColumn("padded", concat(lit(" "), col("text"), lit(" ")))
      .withColumn("n_words", nWords)
      .withColumn("avg_wl_x10", expr(
        "CAST(floor(10.0 * (length(text) - n_words + 1) / n_words) AS BIGINT)"))
      .withColumn("stop_pm", (stopWords * 1000 / col("n_words")).cast("long"))
      .withColumn("reason", expr(
        s"""CASE
           | WHEN n_words < $minWords THEN 'too_short'
           | WHEN n_words > $maxWords THEN 'too_long'
           | WHEN avg_wl_x10 < $minAvgWordLenX10 THEN 'words_too_short'
           | WHEN avg_wl_x10 > $maxAvgWordLenX10 THEN 'words_too_long'
           | WHEN stop_pm < $minStopPerMille THEN 'no_function_words'
           | ELSE 'kept' END""".stripMargin))
      .select(col("doc_id"), col("n_words"), col("avg_wl_x10"), col("stop_pm"),
        (col("reason") === "kept").cast("long").as("kept"), col("reason"))

  /** Pattern REDACTION — the PII-scrub shape of a training-data pipeline:
    * every match of `pattern` is replaced with `replacement` (emails,
    * phone numbers, IP addresses in production; callers pass their
    * pattern). Emits per-doc audit columns instead of the text itself:
    * `n_redacted` (match count), `scrubbed_len`, and `scrubbed_fp` — the
    * position-weighted char fingerprint of the REDACTED text (the
    * [[fingerprint]] kernel), which pins every byte of the scrub result to
    * a replayable value, so the oracle catches a single mis-replaced
    * character. Row-local and shuffle-free; the regex runs inside
    * whole-stage codegen (regexp_replace/regexp_count are native
    * expressions with compiled-pattern caching).
    *
    * Cross-engine validity: the oracle replays the regex in DuckDB (RE2)
    * against Spark's java.util.regex — identical only for the shared
    * dialect subset (character classes, bounded/unbounded greedy
    * quantifiers, alternation; no backrefs, no lookaround, no possessive
    * quantifiers). Keep gate patterns inside that subset. The gate query
    * scrubs vowel runs (`[aeiou]{2,}`) because the synthetic corpus is
    * pure lowercase letters — digits/emails simply never occur in it.
    */
  def scrub(docs: DataFrame, pattern: String, replacement: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val scrubbed = regexp_replace(col("text"), pattern, replacement)
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(pattern)).cast("long").as("n_redacted"),
      length(scrubbed).cast("long").as("scrubbed_len"),
      call_function("char_fingerprint", scrubbed).as("scrubbed_fp"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03): hash every n-word shingle, slide a window of `w`
    * consecutive hashes, and in each window select the RIGHTMOST minimal
    * hash — the selected (position, hash) set is the document's
    * fingerprint. The local selection rule guarantees any shared run of
    * w + n - 1 words between two documents shares at least one
    * fingerprint, at ~2/(w+1) density — the standard copy-detection
    * index between exact span dedup (catches everything, more output)
    * and minhash (whole-doc only).
    *
    * Spark shape: the [[graft.functions.ShingleHashes]] kernel emits the
    * per-position hash array shuffle-free; the window selection is
    * `min(struct(h, -pos))` over a `rowsBetween(0, w-1)` frame — the
    * struct's lexicographic order makes "rightmost minimal" a plain MIN,
    * so selection rides ONE doc-partitioned exchange + sort, and the
    * distinct fingerprint set is one more slim exchange with map-side
    * partial aggregation. Docs with fewer than w hashes use the one
    * clipped window at position 0 (selection still yields exactly one
    * fingerprint, the classic every-doc-fingerprinted guarantee).
    * Hashes order as SIGNED 64-bit longs — the same convention the
    * minhash signature's lane-min uses, replayed in the oracle via the
    * HUGEINT fold + two's-complement conversion.
    */
  def winnow(docs: DataFrame, n: Int = 5, w: Int = 4): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1: $n")
    require(w >= 1, s"winnow window must be >= 1: $w")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val frame = byDoc.orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    shinglePositions(docs, n)
      // frame windows first: the whole-partition count then rides their
      // (doc_id, pos) sort (its [doc_id] requirement is a prefix) — one
      // exchange, ONE sort for both Window ops
      .withColumn("sel", min(struct(col("h"), (-col("pos")).as("np"))).over(frame))
      .withColumn("cnt", count(lit(1)).over(frame))
      .withColumn("nh", count(lit(1)).over(byDoc))
      .filter(col("cnt") === w || (col("pos") === 0 && col("nh") < w))
      .select(col("doc_id"), (-col("sel.np")).cast("long").as("fp_pos"),
        col("sel.h").as("fp_hash"))
      .distinct()
  }

  /** (doc_id, pos, h): one row per n-word shingle position, `h` its
    * 64-bit content hash from the native [[graft.functions.ShingleHashes]]
    * kernel, emitted shuffle-free — the unit [[winnow]],
    * [[Dedup.dupSpans]] and [[Dedup.cutSpans]] select over.
    */
  private[ops] def shinglePositions(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      posexplode(call_function("shingle_hashes", split(col("text"), " "), lit(n)))
        .as(Seq("pos", "h")))
  }

  /** SQL-lambda mirror of the fingerprint kernel (equivalence-test form). */
  val fingerprintSql: String =
    """aggregate(
      |  transform(sequence(1, length(text)),
      |    i -> CAST(i AS BIGINT) * ascii(substring(text, i, 1))),
      |  0L, (a, b) -> a + b) % 1000000007""".stripMargin

  /** Per-document document-frequency profile — the TF-IDF corpus join
    * without the floats: each document's rarest term (arg-min of
    * (df, term) — the deterministic tie-break), its df, the distinct/total
    * term counts, and the integral `sum(tf·df)` fold that value-pins the
    * ENTIRE (doc, term) ⨝ df join result (one wrong df anywhere diverges
    * some document's sum). Callers wanting real tf-idf weights divide by
    * `ln(N/df)` on top; keeping the gate surface integral is what makes it
    * cross-engine exact.
    *
    * Scale shape: one row-local explode → the (doc_id, term) tf aggregate
    * (map-side combine; cardinality = Σ distinct terms per doc, not corpus
    * tokens) → df is a second slim agg ON TOP of tf (no second corpus
    * scan) → tf ⨝ df on term is pinned SHUFFLE_HASH with the vocab-sized
    * df side as build: a vocabulary does not broadcast at 100 TB, and SMJ
    * would sort the probe stream; stopword-skewed probe partitions stream
    * against a one-row-per-term build map (AQE skew split composes). The
    * final per-doc rollup is one more slim agg. Overflow bound: each
    * `tf·df` term needs tf·df < 2^63/terms-per-doc — satisfied for any
    * corpus below ~2^37 docs at the engine's 2^13-token doc bound.
    */
  def rareTerms(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df.hint("SHUFFLE_HASH"), Seq("term"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_distinct_terms"),
        sum("tf").as("n_terms"),
        min(struct(col("df"), col("term"))).getField("term").as("rarest_term"),
        min("df").as("rarest_df"),
        sum(col("tf") * col("df")).as("tf_df_sum"))
  }

  /** The word n-grams of `words` (pre-split) in order, space-joined; a
    * doc shorter than n words gets the SQL array `short` instead.
    */
  private def gramsOrSql(n: Int, short: String): String = {
    val parts = (1 to n).map(j => s"element_at(words, i + $j)").mkString(", ")
    s"""CASE WHEN size(words) >= $n THEN
       |  transform(sequence(0, size(words) - $n),
       |    i -> concat_ws(' ', $parts))
       |ELSE $short END""".stripMargin
  }

  /** Distinct word n-gram array for `words` (pre-split); docs shorter than
    * n collapse to their whole text as one gram — the unit of
    * [[Dedup]]'s trigram Jaccard and of [[contamination]].
    */
  private[graft] def gramsSql(n: Int): String =
    s"array_distinct(${gramsOrSql(n, "array(concat_ws(' ', words))")})"

  /** Repetition signals (the Gopher-rules family): per-doc duplicate word
    * n-gram statistics — `n_grams` (total instances), `distinct_grams`,
    * `top_gram_count` (instances of the most frequent gram — the
    * most-common-n-gram-fraction numerator) and `dup_grams` (instances
    * beyond first occurrence — the duplicate-n-gram-fraction numerator).
    * Counts stay BIGINT; consumers derive the fractions. Docs shorter than
    * n words emit zeros (no grams to repeat) rather than vanishing.
    *
    * Scale shape: ONE source scan — short docs ride the same explode as
    * gram-bearing ones (their gram array is empty and `explode_outer`
    * keeps them as a single null-gram row that aggregates to zeros), so
    * there is no second scan for a union branch — then two slim
    * aggregations with map-side partial combine (the per-(doc, gram)
    * counts, then the per-doc fold); no join anywhere. The r5 version
    * unioned a separately-scanned short-doc branch: two full text scans
    * for one operator.
    */
  def repetition(docs: DataFrame, n: Int = 2): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1: $n")
    // a NULL text must drop, not read as "short" (legacy size(NULL) = -1
    // would route it to the zeros branch) — the oracle's len(words)
    // comparisons are NULL for such docs, so both engines drop them
    docs.filter(col("text").isNotNull)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        explode_outer(expr(gramsOrSql(n, "CAST(array() AS array<string>)")))
          .as("gram"))
      // null gram ⟺ short doc (concat_ws never yields null), so the
      // conditional folds below reproduce the zeros rows exactly
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        coalesce(sum(when(col("gram").isNotNull, col("c"))), lit(0L))
          .as("n_grams"),
        count(col("gram")).as("distinct_grams"),
        coalesce(max(when(col("gram").isNotNull, col("c"))), lit(0L))
          .as("top_gram_count"))
      .withColumn("dup_grams", col("n_grams") - col("distinct_grams"))
  }

  /** Benchmark DECONTAMINATION: flag corpus docs that share word n-grams
    * with an evaluation set, so they can be dropped before training leaks
    * the benchmark. `probes` is (probe_id, text) — an eval set is small by
    * construction, so its exploded distinct grams are BROADCAST; the
    * corpus side streams map-side through the hash join and only slim
    * (doc_id, probe_id) hits cross the one aggregation shuffle. Returns
    * (doc_id, probe_id, shared_grams = distinct n-grams in common), rows
    * with shared_grams ≥ minShared. Exact and deterministic, so an
    * external SQL engine replays it verbatim.
    */
  def contamination(docs: DataFrame, probes: DataFrame, n: Int = 3,
      minShared: Long = 1, broadcastGramLimit: Long = 1L << 20): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1: $n")
    def explodedGrams(df: DataFrame, idCol: String) = df
      .withColumn("words", split(col("text"), " "))
      .select(col(idCol), explode(expr(gramsSql(n))).as("gram"))
    // size-guarded broadcast (same pattern as the manifest reader),
    // bounding the EXPLODED gram rows — the relation actually broadcast —
    // not the probe doc count (90k long docs under a doc bound could still
    // explode to hundreds of millions of gram rows). The bound is the
    // per-doc gram-count UPPER bound (words − n + 1 ≥ distinct grams),
    // computed in one cheap pass over probe word counts: sound for the
    // guard, and it avoids both a second evaluation of the gram pipeline
    // and a cache the caller could never unpersist. Past the limit the
    // join degrades to a plain shuffle on gram instead of failing.
    val gramBound = probes
      .select(greatest(lit(1), size(split(col("text"), " ")) - (n - 1))
        .cast("long").as("g"))
      .agg(coalesce(sum("g"), lit(0L))).collect()(0).getLong(0)
    val pg = explodedGrams(probes, "probe_id")
    val probeSide = if (gramBound <= broadcastGramLimit) broadcast(pg) else pg
    explodedGrams(docs, "doc_id")
      .join(probeSide, Seq("gram"))
      .groupBy("doc_id", "probe_id")
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
  }
}
