package graft.pipeline

import graft.functions.GraftFunctions
import graft.sinks.ManifestSink
import graft.util.LocalFs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The full encode job (BASELINE.json north_star): stats → codec
  * auto-selection → salted repartition + size-based bin-packing → encode →
  * checkpointed sink with per-partition lineage + metrics.
  *
  * Mirrors the reference's pipeline stages (SURVEY.md §3.1): partition plan
  * (crates/cli/src/parse/partitions.rs), skip-existing
  * (crates/freeze/src/freeze.rs:96-109), per-run report
  * (crates/freeze/src/types/reports.rs) — all as declarative DataFrame ops,
  * no RDDs.
  *
  * Scale design notes (100 TB / 1000 executors):
  *  - the only wide exchanges are one window (per source×salt, bounded key
  *    cardinality = |sources| × saltBuckets) and one repartition by
  *    part_key; encode itself is embarrassingly parallel map work inside
  *    whole-stage codegen;
  *  - saltBuckets scales with input size (auto mode), so no single task
  *    ever windows more than ~2M metadata rows even for a Zipf-hot source
  *    at 10B docs;
  *  - bin-packing bounds tokens (≈ bytes) per output file, so file sizes
  *    stay uniform regardless of skew;
  *  - resume/commit are metadata-only operations against a manifest dataset
  *    that Spark writes distributed (no driver-side collect of partitions);
  *    a resume counts one per-key ledger (the plan's and the current
  *    manifest's doc counts, one hashed full-outer join of slim key
  *    tables), cached in one partition while the commit reports size it
  *    as small — beyond that (thousands of runs at 100 TB) it keeps its
  *    shuffle partitioning.
  *
  * Resume contract: part_keys are positional bins over a cumulative-sum
  * window, so they are only stable across runs if the input snapshot is
  * IDENTICAL. Batch resume therefore guards by comparing per-key doc
  * counts against the committed manifest (fail-fast on drift); growing
  * inputs belong on the streaming path, which scopes keys by batch via
  * `partPrefix`.
  */
object EncodePipeline {

  /** Engine version recorded in every commit report (reports.rs:9-23
    * embeds cryo_version the same way — reproducibility metadata).
    */
  val Version: String = "0.4.0"

  /** Schema of the committed encoded output (the dry-run schema preview —
    * the reference prints planned schemas under `--dry`, README.md:82-84).
    */
  def OutputSchema: org.apache.spark.sql.types.StructType = ManifestSink.DataSchema

  final case class Config(
      outDir: String,
      targetBinTokens: Long = 1L << 20,  // ≈4 MB raw int32 per encode bin
      targetPartitions: Int = 0, // K8 partition-COUNT granularity knob (the
                               // reference offers both chunk_size and
                               // --n-chunks, args.rs:130-136 /
                               // types/chunks/subchunks.rs:12-43). > 0:
                               // derive the bin size from the input at sink
                               // creation — ceil(totalTokens / N) — instead
                               // of using targetBinTokens, giving ~N output
                               // partitions (approximate: per-(source,salt)
                               // binning rounds each group up, so the count
                               // lands in [N, N + groups)). The DERIVED bin
                               // size is what gets pinned, so resumes
                               // reuse it verbatim; on an already-pinned
                               // sink this knob is ignored (geometry is
                               // resume identity).
      saltBuckets: Int = 0,              // 0 = derive from input size
      maxPartitionsPerRun: Int = Int.MaxValue, // bound a run (resume testing / backfill waves)
      partPrefix: String = "", // scopes part_keys (e.g. streaming batch id) so
                               // different input slices can't collide on
                               // positional bin keys
      parquetCodec: String = "zstd", // file-level codec on top of the per-row
                                     // blobs: the lightweight codecs expose
                                     // cross-row structure zstd exploits
                                     // (0.71 B/tok vs 1.42 for zstd on raw)
      label: String = "",     // K4/K5 user chunk label (reference
                              // Partition.label / filename __{suffix},
                              // types/partitions.rs:114-115, files.rs:61-90):
                              // lands in every part_stub — and therefore in
                              // every on-disk partition directory name — as a
                              // trailing "__<label>". Layout-only: part_keys
                              // (and so resume/skip identity) are unaffected,
                              // so differently-labeled runs interoperate on
                              // one sink.
      sortColumns: Seq[String] = Seq("doc_id"), // K4 per-file sort order
                               // (the reference sorts every output file by
                               // the dataset schema's sort columns,
                               // types/dataframes/sort.rs:9-18). Rows within
                               // each partition directory's files are
                               // ordered by these columns; the partition
                               // identity columns (source, part_stub) always
                               // lead the sort so files stay contiguous per
                               // directory regardless of the user order.
                               // EMPTY = `--sort none` (sort.rs:9-18 None
                               // case): skip the user sort entirely — rows
                               // are clustered only by the partition
                               // identity columns (still required, or the
                               // writer would fragment files per dir), in
                               // whatever order the encode shuffle emits.
                               // Saves a per-file comparator pass when
                               // downstream order is irrelevant.
      overwrite: Boolean = false, // reference --overwrite (freeze.rs:96-99,
                               // types/files.rs:16): recompute and
                               // SUPERSEDE committed part_keys instead of
                               // skipping them — the routine re-run after a
                               // codec/config change, without deleting the
                               // sink. The run re-commits every planned key
                               // under a new (higher) run_id; readers
                               // resolve the latest run per part_key, so
                               // they see exactly the new data; fully-
                               // superseded runs become reclaimable via
                               // ManifestSink.gcSuperseded. Geometry stays
                               // pinned (same part_keys ⇒ exact key-level
                               // supersession). Single-run, ALL-OR-NOTHING:
                               // maxPartitionsPerRun is refused under
                               // overwrite (review-caught: a bounded
                               // overwrite re-selects the same leading
                               // keys every run — no completion path, a
                               // permanently mixed sink), and runAll
                               // refuses overwrite (a resume wave after an
                               // overwrite would skip stale keys). Commits
                               // are atomic per run, so a crashed
                               // overwrite supersedes nothing.
      dryRun: Boolean = false, // reference --dry (freeze.rs:43-46): plan the
                               // run — geometry, resume accounting,
                               // planned/skipped/deferred counts, todo
                               // doc/token totals — and return the
                               // RunSummary WITHOUT touching the sink (no
                               // data, manifest, marker, pin, or error
                               // files). committed=0, encodedBytes=0 mark
                               // the summary as a plan, not a result.
      reorgBuffer: Long = 0) {            // F6 batch reorg guard: docs within
                                          // this many doc_ids of the input
                                          // head are DEFERRED (excluded +
                                          // counted), mirroring the
                                          // reference's drop-blocks-near-tip
                                          // (cli blocks.rs:366-390). For a
                                          // continuously-growing input use
                                          // partPrefix/streaming; this guard
                                          // is for one-shot batch runs over a
                                          // snapshot whose tail may still
                                          // reorganize.

    /** F7 required-param validation (args-validation analog; the reference
      * rejects malformed CLI/file params before any work starts).
      */
    def validated: Config = {
      require(outDir.nonEmpty, "outDir must be set")
      require(targetBinTokens > 0, s"targetBinTokens must be positive: $targetBinTokens")
      require(saltBuckets >= 0, s"saltBuckets must be >= 0 (0 = auto): $saltBuckets")
      require(maxPartitionsPerRun > 0, s"maxPartitionsPerRun must be positive")
      require(!partPrefix.contains("/"),
        s"partPrefix must not contain '/' (it is a part_key segment): '$partPrefix'")
      val codecs = Set("zstd", "lz4", "snappy", "gzip", "lzo", "brotli", "none", "uncompressed")
      require(codecs.contains(parquetCodec),
        s"unknown parquet codec '$parquetCodec' (one of ${codecs.mkString(",")})")
      require(reorgBuffer >= 0, s"reorgBuffer must be >= 0: $reorgBuffer")
      // shared allowlist (graft.util.PathSegment): the label becomes part
      // of a directory name, so it must be one clean path-segment fragment
      if (label.nonEmpty) graft.util.PathSegment.validate(label, "label")
      require(targetPartitions >= 0,
        s"targetPartitions must be >= 0 (0 = size bins by targetBinTokens): $targetPartitions")
      require(!(overwrite && maxPartitionsPerRun != Int.MaxValue),
        "overwrite is all-or-nothing: a bounded overwrite re-selects the " +
          "same leading keys every run (no completion path) and would leave " +
          "a permanently mixed-config sink — drop maxPartitionsPerRun")
      val sortable = Set("doc_id", "n_tok", "codec", "salt", "bin", "part_key")
      // empty = --sort none (skip the user sort)
      require(sortColumns.forall(sortable.contains),
        s"sortColumns must be drawn from ${sortable.mkString(",")} " +
          s"(empty = no per-file sort): $sortColumns")
      this
    }

    /** Config echo embedded in commit reports (reports.rs cli_command/args
      * analog): enough to replay the run byte-identically.
      */
    private[pipeline] def reportJson(resolvedSalts: Int,
        resolvedBin: Long = targetBinTokens): String = {
      def esc(s: String) = graft.util.JsonEsc.escape(s)
      s"""{"out_dir":"${esc(outDir)}","target_bin_tokens":$resolvedBin,""" +
        s""""target_partitions":$targetPartitions,""" +
        s""""salt_buckets":$resolvedSalts,"max_partitions_per_run":$maxPartitionsPerRun,""" +
        s""""part_prefix":"${esc(partPrefix)}","parquet_codec":"$parquetCodec",""" +
        s""""overwrite":$overwrite,""" +
        s""""label":"${esc(label)}",""" +
        s""""sort_columns":[${sortColumns.map(c => "\"" + esc(c) + "\"").mkString(",")}],""" +
        s""""reorg_buffer":$reorgBuffer}"""
    }
  }

  final case class RunSummary(
      runId: String,
      planned: Long,
      skipped: Long,
      committed: Long,
      nDocs: Long,
      nTokens: Long,
      rawBytes: Long,
      encodedBytes: Long,
      wallMs: Long,
      priorFailedAttempts: Long = 0,
      deferred: Long = 0) // docs excluded by the reorg buffer this run

  /** Salt-bucket auto-sizing: cap the largest (source, salt) window group
    * at ~2M metadata rows even if one source carries the whole corpus.
    * Pure function of the doc count, so reruns over the same input get the
    * same keys.
    */
  def autoSaltBuckets(nDocs: Long): Int =
    math.max(16L, math.min(8192L, nDocs / 2000000L + 1)).toInt

  private def resolveSalts(tokens: DataFrame, cfg: Config): Int =
    if (cfg.saltBuckets > 0) cfg.saltBuckets
    else autoSaltBuckets(tokens.select("doc_id").count())

  /** Partition planning: salt hot sources, then size-based bin-packing of
    * sequences by running token count within (source, salt), ordered by
    * doc_id (deterministic across parallelism levels — the window order is
    * total because doc_id is unique).
    */
  def plan(tokens: DataFrame, cfg: Config): DataFrame =
    plan(tokens, cfg, resolveSalts(tokens, cfg), cfg.targetBinTokens)

  def plan(tokens: DataFrame, cfg: Config, salts: Int, binTokens: Long): DataFrame = {
    val w = Window.partitionBy("source", "salt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keyParts =
      (if (cfg.partPrefix.nonEmpty) Seq(lit(cfg.partPrefix)) else Seq.empty) ++
        Seq(col("source"), col("salt"), col("bin"))
    // Metadata only: the heavy token arrays must NOT flow through the
    // window shuffle — at 100 TB that would move the whole corpus an extra
    // time just to assign bin numbers. (Window group size is bounded by
    // |sources| × saltBuckets; salts auto-scale so a group's *metadata*
    // fits one task.)
    tokens
      .select("doc_id", "source", "n_tok")
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(salts)).cast("int"))
      .withColumn("bin",
        floor((sum(col("n_tok").cast("long")).over(w) - col("n_tok")) / lit(binTokens)))
      .withColumn("part_key", concat_ws("/", keyParts: _*))
  }

  /** Deterministic zero-padded partition-directory stub (the reference's
    * human-readable chunk file stubs, chunk_ops.rs:25-54): a resuming
    * operator can eyeball exactly which (salt, bin) range a directory
    * covers. Becomes the on-disk dir name via partitionBy.
    */
  private def partStub(cfg: Config) = {
    val stub0 = format_string("salt%03d__bin%08d", col("salt"), col("bin"))
    val stub =
      if (cfg.partPrefix.nonEmpty) concat_ws("__", lit(cfg.partPrefix), stub0)
      else stub0
    // user chunk label (K4/K5): trailing suffix on the stub — and so on the
    // partition directory name — mirroring the reference's filename
    // `__{suffix}` (files.rs:61-90). Layout-only; part_key is untouched.
    if (cfg.label.nonEmpty) concat_ws("__", stub, lit(cfg.label)) else stub
  }

  /** The resume ledger: one row per part_key of the plan or of the
    * CURRENT manifest, with the plan's doc count (`n_planned`) and the
    * manifest's (`n_committed`), null on the side that lacks the key. One
    * hashed full-outer join of two slim per-key tables: no token or blob
    * column, never a sort-merge join. While the count-free
    * [[ManifestSink.resumeKeyEstimate]] stays within `keyLimit` the ledger
    * is one partition, so a count over its cache is one job without an
    * exchange; past it the join keeps its shuffle partitioning. A fresh
    * sink has no manifest: the ledger is the plan's counts, in their own
    * partitioning. Exposed for PlanSpec, which lowers the limit.
    */
  private[graft] def resumeLedger(spark: SparkSession, root: String, plannedParts: DataFrame,
      freshSink: Boolean, keyLimit: Long = ManifestSink.BroadcastKeyLimit): DataFrame = {
    val planCounts = plannedParts.groupBy("part_key").agg(count(lit(1)).as("n_planned"))
    if (freshSink) planCounts.withColumn("n_committed", lit(null).cast("long"))
    else {
      val committed = ManifestSink.currentManifest(spark, root)
        .select(col("part_key"), col("n_docs").as("n_committed"))
      val ledger = planCounts.join(committed.hint("SHUFFLE_HASH"), Seq("part_key"), "full_outer")
      if (ManifestSink.resumeKeyEstimate(root) <= keyLimit) ledger.coalesce(1) else ledger
    }
  }

  /** Manifest rows (in [[ManifestSink.ManifestSchemaCols]] order) of a
    * run's encoded frame: per part_key its doc/token/byte totals, the
    * modal codec (ties go to the larger codec name) and `wall_ms`, each
    * encode task's first-row→last-row span apportioned by the key's token
    * share of the task, ceil'd. One slim per-(part_key, enc_task, codec)
    * aggregate feeds every level: on a frame hash-partitioned by part_key
    * (the pipeline's encoded cache) the per-key group-bys need no
    * exchange, and the only one left is the per-task wall aggregate, which
    * is broadcast back (one row per encode task). Needs part_key, source,
    * salt, bin, run_id, enc_task, codec, n_tok, blob_len and enc_ns.
    */
  private[graft] def manifestRows(encoded: DataFrame): DataFrame = {
    val slim = encoded
      .groupBy("part_key", "source", "salt", "bin", "run_id", "enc_task", "codec")
      .agg(
        count(lit(1)).as("g_docs"),
        sum(col("n_tok").cast("long")).as("g_tokens"),
        sum(col("blob_len")).as("g_bytes"),
        min("enc_ns").as("g_min_ns"),
        max("enc_ns").as("g_max_ns"))
    val taskWall = slim.groupBy("enc_task").agg(
      ((max("g_max_ns") - min("g_min_ns")) / 1000000L).as("task_wall_ms"),
      sum("g_tokens").as("task_tokens"))
    slim.join(broadcast(taskWall), Seq("enc_task"))
      .withColumn("g_wall_ms",
        col("task_wall_ms") * col("g_tokens") / greatest(col("task_tokens"), lit(1L)))
      .groupBy("part_key", "source", "salt", "bin", "run_id", "codec")
      .agg(sum("g_docs").as("c_docs"), sum("g_tokens").as("c_tokens"),
        sum("g_bytes").as("c_bytes"), sum("g_wall_ms").as("c_wall_ms"))
      .groupBy("part_key", "source", "salt", "bin", "run_id")
      .agg(
        sum("c_docs").as("n_docs"),
        sum("c_tokens").as("n_tokens"),
        (sum("c_tokens") * 4).as("raw_bytes"),
        sum("c_bytes").as("encoded_bytes"),
        // ≡ mode(codec) over doc rows (codec with the max doc count), with
        // a deterministic tie: the larger codec name wins the struct
        // comparison
        max(struct(col("c_docs"), col("codec"))).getField("codec").as("codec"),
        ceil(sum("c_wall_ms")).cast("long").as("wall_ms"))
      .select(ManifestSink.ManifestSchemaCols.map(col): _*)
  }

  /** Execute one run: encode + commit all not-yet-committed partitions
    * (bounded by cfg.maxPartitionsPerRun). Returns the run summary.
    *
    * The run is a chain of named steps, each passing its result to the
    * next: defer the reorg tail, resolve or pin the geometry, account, then
    * either the dry run's totals or encode, write and commit. Every Spark
    * action of a run is called on the line that names its benchmark phase
    * (PhaseOf in perfbench/src/graftbench/Trace.scala places a job by that
    * line), never through a helper.
    */
  def run(spark: SparkSession, tokens0: DataFrame, cfg0: Config): RunSummary = {
    val cfg = cfg0.validated
    GraftFunctions.register(spark)
    val t0 = System.nanoTime()
    // monotonic index (max committed + 1, ManifestSink.nextRunId): the
    // lexicographic run order is what overwrite supersession resolves on
    val runId = ManifestSink.nextRunId(cfg.outDir)
    // in-flight marker BEFORE any work (reference incomplete_<ts>.json,
    // reports.rs:41-48): a marker that survives == an attempt killed
    // mid-run (SIGKILL/OOM) whose orphan data — invisible to readers — is
    // worth garbage-collecting. Dry runs write nothing.
    if (!cfg.dryRun)
      ManifestSink.begin(cfg.outDir, runId,
        s"""{"run_id":"$runId","started_unix_ms":${System.currentTimeMillis},""" +
          s""""engine_version":"$Version","config":${cfg.reportJson(cfg.saltBuckets)}}""")
    // every cache the run makes; the finally below releases them on every
    // exit (the write step has joined its manifest thread by then), so
    // long-lived sessions strand no blocks
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persisted(df: DataFrame): DataFrame = {
      cached += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {
      val (tokens, nDeferred) = deferTail(tokens0, cfg)
      val (salts, binTokens) = geometry(tokens, cfg)
      val Accounting(countPlan, nPlanned, nTodo, todoParts) =
        account(spark, tokens, cfg, salts, binTokens, persisted)
      // totals are (parts, docs, tokens, raw bytes, encoded bytes)
      def summary(t: Row): RunSummary = RunSummary(runId,
        if (countPlan) nPlanned else t.getLong(0), nPlanned - nTodo, t.getLong(0), t.getLong(1),
        t.getLong(2), t.getLong(3), t.getLong(4), (System.nanoTime() - t0) / 1000000,
        ManifestSink.readErrorReports(cfg.outDir).size.toLong, nDeferred)
      if (cfg.dryRun) {
        // --dry (freeze.rs:43-46): return the full plan accounting — the
        // same planned/skipped/deferred and todo doc/token totals the real
        // run would report — computed from the slim plan metadata only. The
        // heavy arrays are never read, encode never runs, the sink is never
        // touched (schema preview is the static [[OutputSchema]]).
        val todo = todoParts()
          .agg(count(lit(1)), coalesce(sum(col("n_tok").cast("long")), lit(0L))).collect()(0)
        summary(Row(0L, todo.getLong(0), todo.getLong(1), todo.getLong(1) * 4, 0L))
      } else {
        // nothing left to do (every planned part committed, the drift guard
        // passed): commit the empty run without encoding, writing or
        // aggregating anything — the manifest alone decided it
        val totals =
          if (countPlan && nTodo == 0) Row(0L, 0L, 0L, 0L, 0L)
          else write(spark, persisted(encode(tokens, todoParts(), runId)), cfg, runId)
        commit(cfg, runId, salts, binTokens, summary(totals))
      }
    } catch {
      case e: Throwable =>
        // durable error accounting (reports.rs analog): the failed attempt
        // is recorded; its data stays invisible (no commit marker). A dry
        // run must stay write-free even on failure.
        if (!cfg.dryRun)
          ManifestSink.abort(cfg.outDir, runId,
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
        throw e
    } finally cached.foreach(_.unpersist())
  }

  /** F6 batch reorg guard: docs within `reorgBuffer` of the input head
    * (max doc_id) are excluded from this run's plan and counted as
    * deferred — the batch analog of the reference's
    * drop-blocks-near-chain-tip (cli blocks.rs:366-390). They are NOT
    * failures: once settled, the tail runs as a SCOPED follow-up — filter
    * the input to doc_id > cutoff and run with a fresh `partPrefix`, the
    * same per-batch key scoping streaming uses. (An UNscoped re-run over
    * the grown snapshot cannot pick them up: positional bin keys make the
    * trailing committed bin re-plan with more docs, which the resume drift
    * guard rightly refuses — without it the resume would silently skip the
    * tail docs that fall inside an already-committed bin. The pickup spec
    * in PipelineSpec demonstrates the scoped route end to end.) Returns
    * the input to plan and the deferred doc count.
    */
  private def deferTail(tokens: DataFrame, cfg: Config): (DataFrame, Long) =
    Option.when(cfg.reorgBuffer > 0)(tokens.agg(max(col("doc_id"))).collect()(0))
      .filterNot(_.isNullAt(0)) // an empty input has no head
      .fold((tokens, 0L)) { head =>
        val cutoff = head.getLong(0) - cfg.reorgBuffer
        (tokens.filter(col("doc_id") <= cutoff), tokens.filter(col("doc_id") > cutoff).count())
      }

  /** The run's (salt count, bin size). part_keys are positional (source,
    * salt, bin) coordinates: every run against this sink must use the same
    * geometry or identical docs land under fresh keys and resume sees
    * nothing to skip (silent dupes). The first SUCCESSFUL run pins it
    * (ManifestSink.commit); later runs validate — and auto-salt mode reuses
    * the pin, so input growth can't shift the salt count mid-sink.
    * targetPartitions mode derives its bin size at sink creation; on an
    * already-pinned sink the pin IS the geometry (resume identity), so only
    * an EXPLICIT targetBinTokens conflict is an error.
    */
  private def geometry(tokens: DataFrame, cfg: Config): (Int, Long) =
    ManifestSink.pinnedGeometry(cfg.outDir, cfg.saltBuckets,
      if (cfg.targetPartitions == 0) cfg.targetBinTokens else 0L).getOrElse(
      // --n-chunks (subchunks.rs:12-43): bin size from the input total,
      // ceil so the count never overshoots N by more than the group
      // rounding; the derived value is pinned at commit like any other
      (resolveSalts(tokens, cfg),
        if (cfg.targetPartitions > 0) {
          val total = tokens.agg(coalesce(sum(col("n_tok").cast("long")), lit(0L)))
            .collect()(0).getLong(0)
          math.max(1L, (total + cfg.targetPartitions - 1) / cfg.targetPartitions)
        } else cfg.targetBinTokens))

  /** What a run's accounting decided. `countPlan` false: the plan was not
    * counted (`nPlanned` = `nTodo` = 0) and the run's totals give its
    * planned count. `todoParts` builds the slim plan of the parts to encode;
    * only the dry run and the encode call it, so a no-op resume never
    * analyzes that frame.
    */
  private final case class Accounting(countPlan: Boolean, nPlanned: Long, nTodo: Long,
      todoParts: () => DataFrame)

  /** The resume accounting: the ledger, its counts, both guards and the
    * selection of the parts to encode.
    *
    * Every resume number is a filter of one persisted per-key ledger
    * ([[resumeLedger]]): committed, planned, todo, the drift guard and the
    * overwrite coverage guard. The first count builds it; on a sink the
    * commit reports size as small it is one partition, so every later
    * count is one job over its cache. Its manifest side is the CURRENT view
    * (latest run per part_key): after an overwrite the drift guard compares
    * against the winning run's doc counts, not a double-counting sum over
    * history. A fresh sink has nothing to count, so it runs no job here.
    */
  private def account(spark: SparkSession, tokens: DataFrame, cfg: Config, salts: Int,
      binTokens: Long, persisted: DataFrame => DataFrame): Accounting = {
    val freshSink = ManifestSink.committedRunIds(cfg.outDir).isEmpty
    // Per-doc partition assignments (slim metadata) are persisted so the
    // ledger and the key join never re-derive the input; the heavy arrays
    // are read exactly once per run, in the encode pass (the reference's
    // plan-then-collect shape, freeze.rs:26-125). A first run on a fresh
    // sink that writes every planned part needs no accounting up front:
    // the plan feeds the encode join directly, and the run's totals give
    // the planned count (every planned key holds at least one doc, so it
    // equals the committed count).
    val bounded = cfg.maxPartitionsPerRun != Int.MaxValue
    val countPlan = !freshSink || cfg.dryRun || bounded
    def cache(df: DataFrame): DataFrame = if (countPlan) persisted(df) else df
    val plannedParts = cache(plan(tokens, cfg, salts, binTokens))
    val ledger = cache(resumeLedger(spark, cfg.outDir, plannedParts, freshSink))
    val committedKeysDf = ledger.filter(col("n_committed").isNotNull)
    val nCommitted = if (freshSink) 0L else committedKeysDf.count()
    val plannedKeys = ledger.filter(col("n_planned").isNotNull)
    val nPlanned = if (countPlan) plannedKeys.count() else 0L // summary uses the totals
    // resume: skip already-committed partitions (freeze.rs:96-109 analog);
    // overwrite (freeze.rs:96-99 --overwrite) recomputes them all instead —
    // the re-committed keys supersede via the reader's latest-run-per-key
    // resolution, so no skip and no drift guard (re-encoding after an
    // input/config change is the point)
    if (cfg.overwrite && nCommitted > 0) {
      // coverage guard (review-caught): overwrite supersedes KEY BY KEY,
      // so a committed key absent from the new plan would silently stay
      // live — ghost rows from deleted docs, duplicates from docs that
      // shifted into earlier bins. The advertised use case (re-encode
      // after a codec/config change over the SAME snapshot, or a grown
      // snapshot) always plans a superset of the committed keys; a
      // shrunk/reshaped input must go to a fresh outDir. On a
      // prefix-scoped sink (streaming batches), an overwrite with a
      // partPrefix only claims THAT prefix's keys, so the guard scopes
      // to them — other prefixes are different input slices, not ghost
      // risks. An UNprefixed overwrite still guards every committed key
      // (loud on a mixed sink: re-run with the matching partPrefix).
      val uncovered = committedKeysDf.filter(col("n_planned").isNull &&
        (lit(cfg.partPrefix.isEmpty) || col("part_key").startsWith(cfg.partPrefix + "/"))).count()
      if (uncovered > 0)
        throw new IllegalStateException(
          s"overwrite coverage guard: $uncovered committed part_key(s) " +
            (if (cfg.partPrefix.nonEmpty) s"under prefix '${cfg.partPrefix}' " else "") +
            "are absent from the new plan. Overwrite supersedes key by key, " +
            "so those keys' old rows would silently stay visible next to " +
            "the re-encoded corpus. Either the input shrank/re-binned " +
            "(re-encode into a fresh outDir) or this is a prefix-scoped " +
            "sink (re-run with the matching partPrefix).")
    }
    val todoKeys =
      if (cfg.overwrite) plannedKeys else plannedKeys.filter(col("n_committed").isNull)
    // fresh sink (nothing committed): every planned key is todo, so the
    // todo count equals the planned count — skip the extra job
    val nTodo = if (cfg.overwrite || nCommitted == 0) nPlanned else todoKeys.count()

    if (nTodo < nPlanned) {
      // positional bin keys are only stable for an identical input
      // snapshot: if the input grew, docs appended to a committed trailing
      // bin would be silently skipped forever. Fail fast on doc-count
      // drift for any key we are about to skip (a key on one side only
      // compares null, so it never counts).
      val drift = ledger.filter(col("n_planned") =!= col("n_committed")).count()
      if (drift > 0)
        throw new IllegalStateException(
          s"resume guard: $drift committed part_key(s) have a different doc " +
            "count in the current input. Positional bin keys require an " +
            "identical input snapshot; re-encode into a fresh outDir or " +
            "route incremental input through partPrefix (streaming path).")
    }

    // Every planned part is todo on a fresh sink, an overwrite, or a
    // resume that skips nothing: the plan itself is then the todo table,
    // and the semi-join (an identity there) is left out. (An uncounted run
    // has nTodo == nPlanned == 0.)
    val todoParts = () =>
      if (nTodo == nPlanned && !bounded) plannedParts
      else {
        val selected =
          if (bounded) todoKeys.orderBy("part_key").limit(cfg.maxPartitionsPerRun) else todoKeys
        val todoSide =
          if (math.min(nTodo, cfg.maxPartitionsPerRun.toLong) <= ManifestSink.BroadcastKeyLimit)
            broadcast(selected)
          else selected
        plannedParts.join(todoSide, Seq("part_key"), "left_semi")
      }
    Accounting(countPlan, nPlanned, nTodo, todoParts)
  }

  /** The encoded frame of the todo parts. The run persists it: both sides
    * of the write step read it.
    *
    * Shuffle economics (100 TB view): the raw arrays cross exactly ONE
    * exchange (the doc_id join against the slim key table); encoding runs
    * map-side in the same stage, so the repartition-by-partition-key that
    * controls file layout moves only the compressed blobs (~2.5-5× less).
    * SHUFFLE_HASH on the slim side: a sort-merge join would SORT the heavy
    * array side (observed 4× pipeline regression when the planner flipped
    * to SMJ); hashing the per-partition metadata keeps the arrays sort-free
    * through their single exchange.
    *
    * enc_task/enc_ns are evaluated in the same map-side projection as the
    * encode itself (below the exchange), so per-task first-row→last-row
    * spans measure REAL encode wall time (round 1 wrote a driver-side
    * constant here). blob_len is computed there too: the manifest
    * aggregate ([[manifestRows]]) then reads an 8-byte column from the
    * columnar cache instead of deserializing every blob's bytes a second
    * time just to take length() (phase-profiled at ~30% of the warm
    * pipeline wall before this). The column is cache-only — the data-write
    * select never includes it, so the sink schema is unchanged.
    */
  private def encode(tokens: DataFrame, todoParts: DataFrame, runId: String): DataFrame =
    tokens
      .join(todoParts.select("doc_id", "salt", "bin", "part_key").hint("SHUFFLE_HASH"),
        Seq("doc_id"))
      .withColumn("blob", expr("encode_auto(tokens)"))
      .withColumn("blob_len", length(col("blob")).cast("long"))
      .withColumn("codec", expr("codec_of(blob)"))
      .withColumn("enc_task", spark_partition_id())
      .withColumn("enc_ns", expr("now_nanos()"))
      .withColumn("run_id", lit(runId))
      .drop("tokens")
      .repartition(col("part_key"))

  /** Writes the encoded frame's data and manifest concurrently and returns
    * the run's totals, (parts, docs, tokens, raw bytes, encoded bytes).
    *
    * The manifest side (derivation, manifest write, totals) runs on its own
    * driver thread while this one writes the data: both read the encoded
    * cache, which Spark builds once for whichever asks first. The first
    * failure on either side cancels the other's jobs by this write's tag,
    * which leaves the caller's job group alone; the step waits for the
    * manifest thread on every exit, then rethrows that first failure.
    */
  private def write(spark: SparkSession, encoded: DataFrame, cfg: Config,
      runId: String): Row = {
    val sc = spark.sparkContext
    val writeTag = s"graft-encode-${java.util.UUID.randomUUID}"
    val failure = new java.util.concurrent.atomic.AtomicReference[Option[Throwable]](None)
    def fail(e: Throwable): Unit =
      if (failure.compareAndSet(None, Some(e)))
        sc.cancelJobsWithTag(writeTag, s"encode run $runId failed")
    val totals = new java.util.concurrent.CompletableFuture[Row]
    sc.addJobTag(writeTag) // inherited by the manifest thread
    val manifestSide = new Thread(() =>
      try {
        // per-partition lineage + metrics rows (reports.rs / summaries.rs
        // analog)
        manifestRows(encoded)
          .write.mode("append").partitionBy("run_id")
          .options(LocalFs.WriteOptions)
          .parquet(ManifestSink.manifestDir(cfg.outDir))
        // the totals read back the few small files just written (run ids
        // are unique per attempt, so they hold this attempt's rows only):
        // no cached copy of the manifest, one single-task job. None: the
        // run had no rows (only an uncounted run gets here with an empty
        // input).
        totals.complete(ManifestSink.runManifest(spark, cfg.outDir, runId)
          .fold(Row(0L, 0L, 0L, 0L, 0L))(_.coalesce(1)
            .agg(count(lit(1)), coalesce(sum("n_docs"), lit(0L)),
              coalesce(sum("n_tokens"), lit(0L)), coalesce(sum("raw_bytes"), lit(0L)),
              coalesce(sum("encoded_bytes"), lit(0L))).collect()(0)))
      } catch { case e: Throwable => fail(e) },
      s"graft-manifest-$runId")
    manifestSide.setDaemon(true)
    // a failed run keeps cancelling while it waits: a cancel that lands
    // between two of the manifest side's jobs misses the next one
    def awaitManifestSide(): Unit =
      while (manifestSide.isAlive) {
        if (failure.get.nonEmpty) sc.cancelJobsWithTag(writeTag)
        manifestSide.join(100)
      }
    try {
      manifestSide.start()
      try {
        encoded
          .withColumn("part_stub", partStub(cfg))
          .select("part_key", "run_id", "doc_id", "source", "salt", "bin",
            "n_tok", "codec", "blob", "part_stub")
          // per-file sort (the reference sorts every output file by the
          // schema's sort columns, types/dataframes/sort.rs:9-18): rows
          // within each partition directory's files follow cfg.sortColumns
          // (default doc_id), behind the partition identity columns
          // empty sortColumns = --sort none: only the partition identity
          // columns are clustered (required for contiguous per-dir files)
          .sortWithinPartitions("source", ("part_stub" +: cfg.sortColumns): _*)
          .write.mode("append").partitionBy("source", "part_stub")
          .options(LocalFs.WriteOptions)
          .option("compression", cfg.parquetCodec)
          .parquet(ManifestSink.dataDir(cfg.outDir))
      } catch { case e: Throwable => fail(e) }
      awaitManifestSide()
    } finally {
      // (only an interrupted wait gets here with the manifest side alive;
      // the cache it reads must outlive it)
      awaitManifestSide()
      sc.removeJobTag(writeTag)
    }
    failure.get.foreach(e => throw e)
    totals.join()
  }

  /** The commit tail of every non-dry run: the geometry pin and the atomic
    * publish of the commit report. The report holds the run accounting,
    * the engine version and the validated config that produced it
    * (reports.rs:9-23's cryo_version/cli_command/args parity) — a reader of
    * `commits/<id>.json` can replay the run.
    */
  private def commit(cfg: Config, runId: String, salts: Int, binTokens: Long,
      s: RunSummary): RunSummary = {
    ManifestSink.commit(cfg.outDir, runId, salts, binTokens,
      s"""{"run_id":"${s.runId}","planned":${s.planned},"skipped":${s.skipped},
         |"committed":${s.committed},"n_docs":${s.nDocs},"n_tokens":${s.nTokens},
         |"raw_bytes":${s.rawBytes},"encoded_bytes":${s.encodedBytes},
         |"wall_ms":${s.wallMs},"prior_failed_attempts":${s.priorFailedAttempts},
         |"deferred":${s.deferred},"engine_version":"$Version",
         |"config":${cfg.reportJson(salts, binTokens)}}""".stripMargin.replace("\n", ""))
    s
  }

  /** Run to completion (multiple bounded runs if maxPartitionsPerRun set). */
  def runAll(spark: SparkSession, tokens: DataFrame, cfg: Config): Seq[RunSummary] = {
    // a resume wave after a bounded overwrite wave would skip ALL
    // committed keys — including the stale ones the overwrite hadn't
    // reached yet — and silently leave them un-recomputed
    require(!cfg.overwrite,
      "overwrite is a single-run operation (all planned keys recomputed in " +
        "one run); call run() directly")
    val out = scala.collection.mutable.ArrayBuffer.empty[RunSummary]
    var done = false
    while (!done) {
      val s = run(spark, tokens, cfg)
      out += s
      done = s.committed == 0 || s.skipped + s.committed >= s.planned
    }
    out.toSeq
  }

  /** Snapshot read of committed encoded rows with decoded token arrays. */
  def readDecoded(spark: SparkSession, outDir: String): DataFrame = {
    GraftFunctions.register(spark)
    ManifestSink.readCommitted(spark, outDir)
      .withColumn("tokens", expr("decode_tokens(blob)"))
  }

  /** Roundtrip verification: per-row token-array equality against the
    * original (north-rule invariant). Returns the number of violating rows
    * (0 = bit-identical everywhere).
    */
  def verifyRoundtrip(spark: SparkSession, original: DataFrame, outDir: String): Long = {
    val decoded = readDecoded(spark, outDir).select(col("doc_id"), col("tokens").as("decoded"))
    original.select("doc_id", "tokens")
      .join(decoded, Seq("doc_id"), "full_outer")
      .filter(not(col("tokens") <=> col("decoded")))
      .count()
  }
}
