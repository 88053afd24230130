package graft.ops

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators over the `documents`
  * table. All are declarative DataFrame pipelines: candidate generation
  * shuffles only on small bucket keys (band hashes / simhash chunks), never
  * on raw text, so they scale to web corpora; verification joins stay on
  * candidate pairs only.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on content digest; keeper = min doc_id
    * (deterministic). Map-side partial aggregation makes this a single
    * cheap shuffle of (digest, doc_id) pairs.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text").cast("binary")).as("digest"), col("doc_id"))
      .groupBy("digest")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))

  /** Bag-of-words dedup: same pipeline keyed on the sorted word multiset —
    * catches word-order shuffles that exact dedup misses.
    */
  def bagOfWords(docs: DataFrame): DataFrame =
    docs
      .select(
        md5(concat_ws(" ", sort_array(split(col("text"), " "))).cast("binary")).as("digest"),
        col("doc_id"))
      .groupBy("digest")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature: k per-lane min-hashes over 3-word shingles,
    * computed shuffle-free by the native
    * [[graft.functions.MinhashSignature]] expression (one pass over the
    * shingles, all k lanes updated per shingle).
    */
  def withMinhash(docs: DataFrame, k: Int = 32): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.withColumn("minhash",
      call_function("minhash_signature", split(col("text"), " "), lit(k)))
  }

  /** MinHash + LSH candidate pairs: signatures banded into `bands` groups
    * of `k/bands` rows; docs sharing any band bucket become a candidate
    * pair. Shuffles only (band_id, band_hash, doc_id) triples.
    *
    * Bucket skew guard (the 100 TB failure mode: N boilerplate copies →
    * N²/2 pairs per band): buckets larger than `maxBucket` switch from
    * all-pairs to STAR edges against the bucket's min doc_id — O(n) pairs
    * that keep a giant duplicate cluster connected for downstream
    * clustering without the quadratic blow-up. (Dropping oversized buckets
    * outright — the simhash-style cap — would lose real dup clusters here,
    * because a full-band-hash collision IS near-duplication, unlike a
    * 16-bit simhash chunk collision.)
    *
    * maxBucket vs expected cluster size (round-2 ADVICE, documented
    * invariant): for a near-dup CLUSTER larger than maxBucket, star edges
    * guarantee every member connects to the bucket anchor — so
    * [[connectedComponents]] (the downstream consumer) still recovers the
    * full cluster — but the PAIR LIST itself omits non-anchor×non-anchor
    * pairs inside that cluster. [[verifiedPairs]]'s oracle (exact
    * all-pairs ≥ threshold) therefore assumes the gate data's near-dup
    * clusters are ≤ maxBucket docs (today: clusters of 2-4 vs cap 64; the
    * adversarial >cap stress lives in OpsSpec, not the oracle gate).
    * Raise maxBucket — or close pairs transitively from the components —
    * if a corpus with duplicate clusters past the cap must report
    * complete pair lists.
    */
  def minhashCandidates(docs: DataFrame, k: Int = 32, bands: Int = 8,
      maxBucket: Int = 64): DataFrame =
    minhashCandidatesFromSig(withMinhash(docs, k).select("doc_id", "minhash"),
      k, bands, maxBucket)

  /** Candidate generation over a precomputed signature table — callers
    * that also need the signatures (est-jaccard, verify joins) pass them
    * in once instead of re-running the kernel per plan reference.
    */
  def minhashCandidatesFromSig(sig: DataFrame, k: Int = 32, bands: Int = 8,
      maxBucket: Int = 64): DataFrame = {
    val rows = k / bands
    val buckets = sig.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> xxhash64(concat_ws(',', slice(minhash, b * $rows + 1, $rows))))"))
        .as(Seq("band_id", "band_hash")))
    cappedPairs(buckets, "doc_id", Seq("band_id", "band_hash"), maxBucket)
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** `doc_id` → `doc_a`, `vec_id` → `vec_b`, `minhash` → `minhash_a`: the
    * name a column takes on one side of a candidate pair.
    */
  private def pairName(c: String, side: String): String =
    c.stripSuffix("_id") + "_" + side

  /** Bucket-capped candidate pairs, the one generator behind the minhash,
    * simhash and embedding near-dup operators: rows of `buckets` sharing
    * a `keys` bucket pair up as (`id`_a, `id`_b) with a < b, and every
    * `carried` column rides both sides (see [[pairName]]). A bucket with
    * more than `maxBucket` rows emits only STAR edges against its minimum
    * id — O(n) pairs that keep a giant cluster connected — instead of
    * n²/2. A pair sharing several buckets comes back once per bucket;
    * callers filter, then `distinct()`.
    *
    * Single anchor⨝member join (plan-audited shape): an ANCHOR is every
    * member of a small bucket but only the min of an oversized one, and
    * ONE window over `buckets` sizes the buckets — no per-branch window,
    * no union branch. The member side reads no bucket stats, so column
    * pruning plans it straight from `buckets`' source: that source is
    * evaluated once per join side.
    */
  private def cappedPairs(buckets: DataFrame, id: String, keys: Seq[String],
      maxBucket: Int, carried: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val counted = buckets
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("bucket_min", min(id).over(w))
    def side(s: String, rows: DataFrame) =
      rows.select((id +: carried).map(c => col(c).as(pairName(c, s))) ++ keys.map(col): _*)
    side("a", counted.filter(col("bucket_n") <= maxBucket || col(id) === col("bucket_min")))
      .join(side("b", counted), keys)
      .filter(col(pairName(id, "a")) < col(pairName(id, "b")))
  }

  /** Joins `table`'s `value` column onto both ends of every (`id`_a,
    * `id`_b) pair, as `value`_a and `value`_b.
    */
  private def bothSides(pairs: DataFrame, table: DataFrame, id: String,
      value: String): DataFrame =
    Seq("a", "b").foldLeft(pairs) { (acc, s) =>
      acc.join(table.withColumnRenamed(id, pairName(id, s))
        .withColumnRenamed(value, pairName(value, s)), pairName(id, s))
    }

  /** Capped minhash candidates with `sig_agree`, the number of equal
    * signature lanes — the shared front of [[minhashPairs]] and
    * [[verifiedPairs]].
    */
  private def sigAgreeCandidates(docs: DataFrame, k: Int, bands: Int,
      maxBucket: Int): DataFrame = {
    // the signature table is referenced three times below (banding + both
    // pair-side joins); an eager checkpoint runs the kernel over the
    // corpus ONCE and the three references read the slim (doc_id, k×i64)
    // blocks — without it each exchange re-split and re-hashed the full
    // text (three kernel passes, plan-audited). Deterministic recompute
    // is not the concern here (the kernel is pure); wasted passes are.
    val sig = Materialize.eager(withMinhash(docs, k).select("doc_id", "minhash")).df
    bothSides(minhashCandidatesFromSig(sig, k, bands, maxBucket), sig, "doc_id", "minhash")
      // native kernel: the HOF formulation (zip_with+aggregate) is
      // CodegenFallback and recomputed per plan reference (CLAUDE.md)
      .withColumn("sig_agree", call_function("sig_agree", col("minhash_a"), col("minhash_b")))
  }

  /** MinHash + LSH near-dup pairs with estimated Jaccard = matching
    * signature fraction over the candidate set (capped — see
    * [[minhashCandidates]]).
    */
  def minhashPairs(docs: DataFrame, k: Int = 32, bands: Int = 8,
      minEstJaccard: Double = 0.5, maxBucket: Int = 64): DataFrame =
    sigAgreeCandidates(docs, k, bands, maxBucket)
      .withColumn("est_jaccard", col("sig_agree").cast("double") / lit(k))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("doc_a", "doc_b", "est_jaccard")

  /** Distinct word-trigram set per doc (the exact-similarity unit shared
    * by [[ngramJaccard]] and [[verifiedPairs]]).
    */
  private def trigrams(docs: DataFrame): DataFrame = docs
    .withColumn("words", split(col("text"), " "))
    .withColumn("grams", expr(TextOps.gramsSql(3)))

  /** floor(100 · |a ∩ b| / |a ∪ b|) of two gram-set columns, as `jac_pct`. */
  private def jacPct(a: String, b: String): Column = expr(
    s"CAST(floor(100.0 * size(array_intersect($a, $b)) / size(array_union($a, $b))) AS BIGINT)")
    .as("jac_pct")

  /** Exact trigram Jaccard (jac_pct = floor(100 * |∩| / |∪|)) over the
    * given candidate pair set — the verify stage of the near-dup pipeline.
    * Cost is O(|candidates|): the docs' gram sets are joined to the pair
    * list, never cross-joined.
    */
  def jaccardVerify(docs: DataFrame, candidates: DataFrame): DataFrame = {
    val grams = trigrams(docs).select("doc_id", "grams")
    bothSides(candidates.select("doc_a", "doc_b"), grams, "doc_id", "grams")
      .select(col("doc_a"), col("doc_b"), jacPct("grams_a", "grams_b"))
  }

  /** The full near-dup op a user calls at scale: MinHash-LSH candidate
    * generation (capped buckets) → SIGNATURE-estimate prefilter → exact
    * trigram-Jaccard verification → threshold.
    *
    * The prefilter matters on low-diversity corpora (small-vocab content
    * makes many docs share common shingles, so band buckets fill with
    * weakly-similar candidates): comparing two 32-long signatures costs a
    * few hundred ns per pair, vs hash-set intersection of two ~500-string
    * gram sets in the exact stage — a 50k-doc adversarial stress went
    * from >10 min to seconds. The prefilter keeps half the target
    * threshold as slack: P(est < t/2 | true jaccard ≥ t) is ~1e-13 at
    * t = 0.8 (Binomial(32, 0.8) tail), so oracle equality with exact
    * all-pairs is preserved; 16 bands × 2 rows already put candidate-miss
    * probability below 1e-11.
    */
  def verifiedPairs(docs: DataFrame, minJacPct: Long = 80, k: Int = 32,
      bands: Int = 16, maxBucket: Int = 64): DataFrame = {
    val prefiltered = sigAgreeCandidates(docs, k, bands, maxBucket)
      .filter(col("sig_agree").cast("double") >= lit(k * minJacPct / 200.0))
      .select("doc_a", "doc_b")
    jaccardVerify(docs, prefiltered).filter(col("jac_pct") >= minJacPct)
  }

  /** Exact word-trigram Jaccard for candidate pairs gated on (lang,
    * n_chars) equality — kept as the PORTABLE oracle form of the verify
    * stage (both engines can replay it exactly); the production wiring is
    * [[verifiedPairs]], which verifies LSH candidates instead of a
    * group-gated cross product.
    */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    val grams = trigrams(docs).select("doc_id", "lang", "n_chars", "grams")
    grams.as("a")
      .join(grams.as("b"),
        col("a.lang") === col("b.lang") &&
          col("a.n_chars") === col("b.n_chars") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        jacPct("a.grams", "b.grams"))
  }

  /** 64-bit SimHash per doc (Charikar'02), computed shuffle-free by the
    * native [[graft.functions.Simhash64]] expression; near-dup candidates
    * pair on any equal 16-bit chunk (pigeonhole: hamming ≤ 3 ⇒ some chunk
    * equal), then exact hamming via bit_count(xor).
    */
  def simhash(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.withColumn("simhash",
      call_function("simhash64", split(col("text"), " ")))
  }

  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    val chunks = simhash(docs).select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> shiftright(simhash, c * 16) & 65535L)"))
        .as(Seq("chunk_id", "chunk")))
    // Bucket cap (see cappedPairs): a 16-bit chunk shared by >maxBucket
    // docs is usually corpus-wide commonality and would go quadratic, so
    // oversized buckets emit only star candidates against the bucket min —
    // O(n) spurious candidates that the exact hamming recheck filters,
    // while a giant EXACT-dup cluster (hamming 0 to the anchor) is still
    // fully recovered. (The round-1 cap dropped oversized buckets
    // outright, silently losing identical-doc clusters bigger than the cap.)
    cappedPairs(chunks, "doc_id", Seq("chunk_id", "chunk"), maxBucket, "simhash")
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(simhash_a ^ simhash_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over a near-dup pair graph: cluster id = min
    * doc_id reachable (the keeper). Alternating LARGE-STAR / SMALL-STAR
    * edge rewriting (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): each round every node re-attaches its larger
    * neighbors (large-star), then its smaller neighbors and itself
    * (small-star), to the minimum of its neighborhood. The edge set
    * converges to one star per component centered on the component's min
    * node in O(log² n) rounds — ~8 on the adversarial 51.5k-doc stress
    * graph, where min-LABEL propagation (the previous implementation,
    * HashToMin family, even with pointer jumping) needed 55+ rounds: a
    * driver-side replay of that exact graph showed min-propagation
    * crawling hop-by-hop through chained near-dups (A~B, B~C with
    * jac(A,C) < t), while star rewiring contracts whole neighborhoods
    * per round. Every phase shuffles only slim (u, v) long pairs with
    * map-side-combinable min aggregates — no driver-side graph, and
    * per-node fan-out stays linear in degree, so it runs at corpus scale.
    *
    * Each round passes a `Materialize.barrier` (eager): an iterative
    * loop's logical plan otherwise grows multiplicatively per round (the
    * edge set is referenced several times per phase) and Catalyst
    * re-analysis over the compounding tree froze a 50k-doc run before any
    * task ran; the barrier also drops the origin statistics whose join
    * estimate squares every round. Swap for reliable checkpoint() on a
    * real cluster if executor loss during the loop must be survivable.
    *
    * Returns (node, label); nodes absent from `pairs` are their own
    * singleton clusters (callers left-join + coalesce).
    *
    * Hybrid execution: a deduped edge set of fewer than `driverLimit` rows
    * is solved in one pass of driver-side union-find instead of ~8 rounds ×
    * ~6 shuffles of Spark jobs. The collect is typed — a `Dataset[(Long,
    * Long)]` — which drops the GenericRow wrapper, but Spark's tuple
    * encoder constructs GENERIC Tuple2s via reflection (boxed Longs, not
    * the Tuple2$mcJJ$sp specialization), so budget ~80 B per collected
    * edge transiently, plus ~50 B/entry retained in the parent map: the
    * default 2^20 bound peaks around ~130 MB of driver heap, and cost
    * scales linearly when sizing `driverLimit` upward — 2^24 edges ≈
    * 2 GB peak, so keep the bound well inside driver headroom; everything
    * past it takes the distributed path anyway. Union
    * by min root makes each root the component minimum, so both paths
    * produce identical labels (spec-asserted on a random graph). This is
    * the production shape: LSH-capped near-dup graphs are orders of
    * magnitude smaller than their corpus, so most runs resolve in
    * milliseconds on the driver, while anything past the bound takes the
    * distributed star path (stress-proven at 164k edges; pass
    * `driverLimit = 0` to force it). Ids are normalized to BIGINT, so
    * both paths return the same (node, label) LongType schema.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30,
      driverLimit: Long = 1L << 20): DataFrame = {
    // materialize the (possibly expensive) upstream pair pipeline EXACTLY
    // once; nodes and edges below re-read these checkpoint blocks instead
    // of re-running the plan (the naive form evaluated it up to 3×: once
    // per barrier plus once per union branch)
    val p0 = Materialize.barrier(pairs
      .select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b")))
    val nodes = Materialize.barrier(p0.df.select(col("doc_a").as("node"))
      .unionByName(p0.df.select(col("doc_b").as("node")))
      .distinct())
    // canonical direction: u > v (self-pairs contribute singleton nodes only)
    var edges = Materialize.barrier(p0.df
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    p0.release()
    var prevCount = edges.df.count()
    if (prevCount < driverLimit) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      // typed collect: primitive-field Tuple2s, not boxed GenericRows
      // (~6× less driver heap per edge — see sizing note above)
      val longPair = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
      edges.df.select(col("u"), col("v")).as(longPair).collect().foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      edges.release()
      val sess = pairs.sparkSession
      val keys = parent.keys.toArray // snapshot: find() mutates the map
      val labels = sess.createDataFrame(
        keys.toSeq.map(n => (n, find(n)))).toDF("node", "label")
      return nodes.df.join(labels, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: for each center c, every strictly-larger neighbor n
      // re-attaches to m = min(neighborhood ∪ {c}). Each undirected edge
      // is processed once, at its smaller endpoint's neighborhood.
      val bidir = edges.df.select(col("u").as("c"), col("v").as("n"))
        .unionByName(edges.df.select(col("v").as("c"), col("u").as("n")))
      val cMin = bidir.groupBy("c").agg(min("n").as("mn"))
        .select(col("c"), least(col("mn"), col("c")).as("m"))
      val large = bidir.join(cMin, Seq("c"))
        .filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
      // SMALL-STAR: for each center u over its (all-smaller) neighbors S,
      // re-attach S \ {min} and u itself to m = min(S).
      val uMin = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(uMin, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(uMin.select(col("u"), col("m").as("v")))
        .distinct()
      val next = Materialize.barrier(small)
      val nextCount = next.df.count()
      // exact fixpoint test: same cardinality and no new edges ⇒ equal sets
      converged = nextCount == prevCount && next.df.except(edges.df).isEmpty
      edges.release()
      edges = next
      prevCount = nextCount
      iter += 1
    }
    if (!converged) {
      nodes.release()
      edges.release()
      // an unconverged exit would otherwise return silently-wrong cluster
      // ids (round-2 ADVICE). Star rewiring needs O(log² n) rounds, so
      // hitting the default budget means something is genuinely wrong —
      // fail loudly rather than mislabel.
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter rounds; " +
          "raise maxIter (rounds needed grow with log² of the largest " +
          "component, not its diameter)")
    }
    // fixpoint: edges = one star per component, centered on the min node
    nodes.df
      .join(edges.df.groupBy(col("u").as("node")).agg(min("v").as("mn")), Seq("node"), "left")
      .select(col("node"), coalesce(col("mn"), col("node")).as("label"))
  }

  /** The deduplicated corpus, end to end: verified near-dup pairs →
    * connected components → one KEEPER per cluster (its min doc_id — the
    * cluster label), with the cluster's member count attached. This is
    * the operation a training-data pipeline actually runs: filter the
    * corpus to `keepers` output and every near-dup group survives as a
    * single representative. Stages inherit their scale shapes: capped
    * LSH candidates, signature prefilter, exact verify, star-rewrite CC
    * (or its bounded driver path), then one slim (cluster → count)
    * aggregation with map-side combine.
    */
  def keepers(docs: DataFrame, minJacPct: Int = 80): DataFrame = {
    val pairs = verifiedPairs(docs, minJacPct).select("doc_a", "doc_b")
    val cc = connectedComponents(pairs).withColumnRenamed("node", "doc_id")
    docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(coalesce(col("label"), col("doc_id")).as("cluster"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("cluster").as("doc_id"), col("cluster_size"))
  }

  /** Exact duplicate-SPAN detection (the exact-substring dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22 — §3.1's suffix-array duplicate ranges, re-expressed as the
    * shuffle its semantics actually need): every n-word window whose
    * content appears in ≥ `minDocs` distinct documents is reported as
    * (doc_id, pos, n_docs). Document-level near-dup (minhash/simhash)
    * misses boilerplate REGIONS inside otherwise-distinct docs — license
    * headers, navigation chrome, templated paragraphs — which is exactly
    * what span-level detection exists to catch; consumers cut or
    * down-weight the flagged ranges.
    *
    * Scale shape: the native [[graft.functions.ShingleHashes]] kernel
    * emits one 64-bit content hash per window position shuffle-free, so
    * only slim (hash, doc_id, pos) triples ever move — and they move
    * EXACTLY ONCE: the distinct-doc count per hash is `max(dense_rank)`
    * over two h-partitioned windows (rank by doc_id, then its unbounded
    * max — the second window rides the first's sort, since (h, doc_id)
    * ordering prefix-satisfies (h)), so the whole operator is one
    * exchange + one partition-local sort over a single subtree, with no
    * self-join and no second evaluation of the kernel (spec-asserted: one
    * Exchange, no Join). The join formulation (windows ⨝ multi-doc
    * hashes) costs two evaluations of the explode and two-to-three
    * shuffles — column pruning under the count-distinct aggregate defeats
    * exchange reuse. A corpus-wide boilerplate gram lands its whole
    * bucket in one sort partition; sorts spill, so skew degrades
    * gradually rather than OOMing (the same skew any exact grouping on
    * the gram key must absorb).
    *
    * Cross-doc equality is on the 64-bit hash, not the gram text: a
    * collision between distinct grams could over-flag a window (never
    * under-flag). At 64 bits that needs ~2^32 distinct windows in one
    * corpus to start mattering (birthday bound); the gate data's hashes
    * are verified collision-free in OpsSpec and the oracle's row-set
    * equality re-checks it end-to-end.
    */
  def dupSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"window size must be >= 1: $n")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val byHash = Window.partitionBy("h")
    val byHashDoc = byHash.orderBy("doc_id")
    TextOps.shinglePositions(docs, n)
      .withColumn("n_docs",
        max(dense_rank().over(byHashDoc)).over(byHash).cast("long"))
      .filter(col("n_docs") >= minDocs)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("n_docs"))
  }

  /** Duplicate-span REMOVAL — the cut step that completes [[dupSpans]]
    * into the actual dedup of Lee et al. ACL'22 (cut every duplicated
    * range from all but one occurrence, so the corpus keeps exactly one
    * copy of each boilerplate region): every n-word window whose content
    * appears in ≥ `minDocs` distinct docs is cut from every doc EXCEPT
    * the keeper (the minimum doc_id holding that content — the same
    * min-key keeper rule as [[keepers]]). Output is one row per doc
    * with audit columns only: `n_cut` / `n_kept` word counts and
    * `cleaned_fp`, the char-fingerprint of the single-space rejoin of the
    * surviving words — the whole cleaned text pinned to one replayable
    * BIGINT (consumers wanting the text itself apply the same
    * [[graft.functions.CutSpans]] kernel minus the fingerprint).
    *
    * Scale shape, on top of [[dupSpans]]' single-windowed-subtree
    * analysis (slim (hash, doc_id, pos) triples through ONE exchange —
    * the keeper doc comes free as `min(doc_id)` over the same
    * hash-partitioned window, riding the existing sort): cut positions
    * collapse to one sorted array per flagged doc (second slim exchange),
    * and the heavy text side moves exactly once, through a SHUFFLE_HASH
    * join against that slim side (SMJ would sort the text side — the
    * pipeline doc-key-join rationale; spec-asserted). The cut itself is
    * a one-pass native kernel inside whole-stage codegen. Unflagged docs
    * pass through the join as left rows with an empty cut list.
    */
  def cutSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"window size must be >= 1: $n")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val byHash = Window.partitionBy("h")
    val byHashDoc = byHash.orderBy("doc_id")
    val cutLists = TextOps.shinglePositions(docs, n)
      .withColumn("n_docs",
        max(dense_rank().over(byHashDoc)).over(byHash))
      .withColumn("keeper", min(col("doc_id")).over(byHash))
      .filter(col("n_docs") >= minDocs && col("doc_id") =!= col("keeper"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("cut_pos"))
    val cut = call_function("cut_spans", split(col("text"), " "),
      coalesce(col("cut_pos"), typedLit(Array.empty[Long])), lit(n))
    docs.join(cutLists.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        element_at(cut, 1).as("n_cut"),
        element_at(cut, 2).as("n_kept"),
        element_at(cut, 3).as("cleaned_fp"))
  }

  /** Embedding near-dup: cosine ≥ threshold pairs, candidates bucketed by
    * random-hyperplane LSH (see [[Ann.lshIndex]]) so the pair join
    * never goes quadratic in the corpus.
    */
  def embeddingPairs(embeds: DataFrame, threshold: Double = 0.95,
      planes: Int = 8, tables: Int = 4, maxBucket: Int = 256): DataFrame = {
    val unit = Ann.normalized(embeds).select(col("vec_id"), col("unit"))
    // a hyperplane bucket holding >maxBucket vectors (duplicate
    // embeddings, degenerate regions) emits linear star candidates
    // instead of n²/2 (see cappedPairs); the exact cosine recheck filters
    // the extras
    val idx = Ann.lshIndex(unit, planes, tables).select("vec_id", "table_id", "bucket")
    val candidates = cappedPairs(idx, "vec_id", Seq("table_id", "bucket"), maxBucket)
      .select("vec_a", "vec_b")
      .distinct()
    bothSides(candidates, unit, "vec_id", "unit")
      .select(col("vec_a"), col("vec_b"), Ann.dot(col("unit_a"), col("unit_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
