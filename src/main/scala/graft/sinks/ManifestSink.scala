package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-semantics checkpointed sink over plain parquet (no Iceberg
  * runtime jars ship in this sandbox — SURVEY.md §7 preamble): snapshot
  * isolation + atomic commit + resume, mirroring the reference's trio of
  * tmp-write+rename (crates/freeze/src/types/dataframes/export.rs:13-23),
  * skip-existing partitions (crates/freeze/src/freeze.rs:96-109) and run
  * reports (crates/freeze/src/types/reports.rs:41-89).
  *
  * Layout under the sink root:
  * {{{
  * data/source=<s>/part-*.parquet      encoded rows (+ part_key, run_id cols)
  * manifest/run_id=<id>/part-*.parquet per-partition lineage + metrics rows
  * commits/<id>.json                   atomic run marker (tmp + rename)
  * inflight/<id>.json, errors/<id>.json attempt started / attempt failed
  * }}}
  *
  * Invariants:
  *  - a run's data and manifest rows are invisible until `commits/<id>.json`
  *    exists (written last, atomically) — snapshot isolation;
  *  - readers join data against committed (part_key, run_id) pairs, so a
  *    crashed run's orphan files are never read and a re-run of the same
  *    partition cannot produce duplicates;
  *  - resume = skip the planned part_keys the current manifest holds.
  *
  * A run's lifecycle is [[begin]], then [[commit]] or [[abort]]; the marker
  * files, the geometry pin and their order are this object's alone.
  */
object ManifestSink {

  val ManifestSchemaCols: Seq[String] = Seq(
    "part_key", "source", "salt", "bin", "run_id",
    "n_docs", "n_tokens", "raw_bytes", "encoded_bytes", "codec", "wall_ms")

  /** Schema of committed encoded-data rows (also the pipeline's dry-run
    * schema preview — the reference prints planned schemas under `--dry`,
    * README.md:82-84). Column order is the order [[readCommitted]] actually
    * serves: parquet partition discovery appends the partition columns
    * (source, part_stub) after the file columns.
    */
  val DataSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("part_key", StringType), StructField("run_id", StringType),
      StructField("doc_id", LongType),
      StructField("salt", IntegerType), StructField("bin", LongType),
      StructField("n_tok", IntegerType), StructField("codec", StringType),
      StructField("blob", BinaryType),
      StructField("source", StringType), StructField("part_stub", StringType)))
  }

  /** Fixed schema of manifest rows as a read serves them: file columns in
    * [[ManifestSchemaCols]] order, then the `run_id` partition column. Reads
    * pass it, so no footer-inference job runs; PipelineSpec pins it to the
    * schema Spark infers from a manifest the pipeline wrote.
    */
  val ManifestSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("part_key", StringType), StructField("source", StringType),
      StructField("salt", IntegerType), StructField("bin", LongType),
      StructField("n_docs", LongType), StructField("n_tokens", LongType),
      StructField("raw_bytes", LongType), StructField("encoded_bytes", LongType),
      StructField("codec", StringType), StructField("wall_ms", LongType),
      StructField("run_id", StringType)))
  }

  def dataDir(root: String): String = s"$root/data"
  def manifestDir(root: String): String = s"$root/manifest"
  private def commitsDir(root: String): Path = Paths.get(root, "commits")

  // ---- marker files: commits/, inflight/ and errors/ each hold one
  // `<runId>.json` per run, published by tmp-write + atomic rename
  // (export.rs:13-23 semantics), so a listing never sees a partial file ----

  /** Atomically publish `dir/<runId>.json` (replacing any earlier one). */
  private def writeMarker(dir: Path, runId: String, json: String): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s"_tmp_$runId.json")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"$runId.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The published markers in `dir` (`*.json`, never an unrenamed `_tmp`);
    * empty if `dir` does not exist.
    */
  private def markers(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".json") && !n.startsWith("_tmp")
    }.toList
    finally s.close()
  }

  /** A marker's run id: its file is named `<runId>.json`. */
  private def runIdOf(marker: Path): String =
    marker.getFileName.toString.stripSuffix(".json")

  private def readUtf8(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Ids of committed runs (tiny listing; one marker file per run). */
  def committedRunIds(root: String): Seq[String] =
    markers(commitsDir(root)).map(runIdOf).sorted

  /** Next run id for this sink: `run-<idx>-<uuid8>` with a MONOTONIC index
    * (max committed index + 1, never reusing a lower index after
    * [[gcSuperseded]] deletes old markers). The index gives committed runs
    * a lexicographic total order, which is what makes "latest run wins a
    * part_key" ([[currentManifest]]) well defined — overwrite supersession
    * rides on it. Bounds: indices stay zero-padded to 5 digits, so the
    * order holds through 100k committed runs per sink (documented bound;
    * a sink outliving it needs a fresh root). Concurrent runs can draw the
    * same index — their order then falls to the uuid suffix, which is
    * deterministic but arbitrary; concurrent OVERWRITE runs against one
    * sink are unsupported (same posture as the plan-geometry pin race).
    */
  def nextRunId(root: String): String = {
    val re = """run-(\d+)-.*""".r
    val maxIdx = committedRunIds(root).foldLeft(-1) {
      case (m, re(i)) => math.max(m, i.toInt)
      case (m, _) => m
    }
    f"run-${maxIdx + 1}%05d-${java.util.UUID.randomUUID.toString.take(8)}"
  }

  /** Above this many committed runs the manifest filter switches from a
    * static `isin` literal (O(runs) expression tree) to a semi-join
    * against a runs DataFrame.
    */
  val IsinRunLimit: Int = 64

  /** Above this many keys a key-table join (todo semi-join, snapshot
    * read) hashes a shuffle instead of broadcasting, and a resume's
    * per-key ledger keeps its shuffle partitioning instead of one partition.
    */
  val BroadcastKeyLimit: Long = 1L << 20

  /** Rows of `df` whose run_id is in `runs`. A short list — the common
    * case — is a static `isin` literal (on a run_id partition column it
    * prunes dirs); past `limit` runs that In-tree grows O(runs), a
    * plan-size/analysis killer at thousands of runs, so the filter becomes
    * a semi-join against the runs instead. The runs side is one short
    * string per run — broadcastable at any realistic run count — and the
    * join still prunes partition dirs dynamically.
    */
  private def whereRunIn(df: DataFrame, runs: Seq[String], limit: Int): DataFrame =
    if (runs.size <= limit) df.filter(col("run_id").isin(runs: _*))
    else {
      import df.sparkSession.implicits._
      df.join(broadcast(runs.toDF("run_id")), Seq("run_id"), "left_semi")
    }

  /** Committed manifest rows (lineage + metrics table; reference K9/K10),
    * run-filtered by [[whereRunIn]].
    */
  def committedManifest(spark: SparkSession, root: String,
      isinRunLimit: Int = IsinRunLimit): DataFrame = {
    val runs = committedRunIds(root)
    // no manifest dir: only empty runs were committed (they write no files)
    if (runs.isEmpty || !Files.isDirectory(Paths.get(manifestDir(root)))) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ManifestSchema)
    } else {
      whereRunIn(spark.read.schema(ManifestSchema).parquet(manifestDir(root)),
        runs, isinRunLimit)
    }
  }

  /** `manifest/run_id=<id>`: one run's manifest partition directory. */
  private def runManifestDir(root: String, runId: String): Path =
    Paths.get(manifestDir(root), s"run_id=$runId")

  /** One run's manifest rows, committed or not (the pipeline totals its
    * own attempt from them before committing); None when the run wrote no
    * manifest rows. Builds the read only — it issues no job.
    */
  def runManifest(spark: SparkSession, root: String, runId: String): Option[DataFrame] = {
    val d = runManifestDir(root, runId)
    if (!Files.isDirectory(d)) None
    else Some(spark.read.schema(ManifestSchema)
      .option("basePath", manifestDir(root)).parquet(d.toString))
  }

  /** CURRENT manifest rows: per part_key, the row of the latest committed
    * run (max run_id under the [[nextRunId]] lexicographic order). On an
    * append-only sink this is identical to [[committedManifest]] (resume
    * keeps part_keys unique across runs); after an overwrite run it is the
    * supersession view — the re-committed keys resolve to the overwriting
    * run, the rest to their original run. One slim metadata shuffle
    * (groupBy part_key with a struct-max, never a window/sort), so the
    * cost stays manifest-scale at any corpus size. Deterministic even if
    * two runs collide on (part_key, run_id) — the struct max tie-breaks on
    * the remaining columns field-by-field.
    */
  def currentManifest(spark: SparkSession, root: String,
      isinRunLimit: Int = IsinRunLimit): DataFrame = {
    val man = committedManifest(spark, root, isinRunLimit)
    // run_id leads the struct so the max ranks on it first
    val valCols = ManifestSchemaCols.filterNot(c => c == "part_key" || c == "run_id")
    man.groupBy("part_key")
      .agg(max(struct((col("run_id") +: valCols.map(col)): _*)).as("w"))
      .select(col("part_key") +:
        ManifestSchemaCols.filterNot(_ == "part_key").map(c => col(s"w.$c").as(c)): _*)
      // restore the canonical column order
      .select(ManifestSchemaCols.map(col): _*)
  }

  /** Committed run ids every one of whose manifest part_keys has been
    * re-committed by a later (overwrite) run — fully superseded: no reader
    * can see any of their rows, so their bytes are reclaimable via
    * [[gcSuperseded]]. Runs with zero manifest rows (empty commits) are
    * never classified superseded — their commit report is history, not
    * data. Driver-side set sizes are bounded by the run count.
    */
  def supersededRunIds(spark: SparkSession, root: String): Seq[String] = {
    if (committedRunIds(root).size <= 1) return Seq.empty
    val all = committedManifest(spark, root).select("run_id").distinct()
      .collect().map(_.getString(0)).toSet
    val live = currentManifest(spark, root).select("run_id").distinct()
      .collect().map(_.getString(0)).toSet
    (all -- live).toSeq.sorted
  }

  /** Reclaim fully-superseded runs' bytes through [[reap]]: data files,
    * manifest dirs, and finally the commit markers. The marker goes last,
    * so readers (who resolve winners per part_key) never observe a
    * half-deleted state. Idempotent.
    *
    * Also reaps half-collected runs: a kill inside an earlier call can
    * leave a run whose commit report claims committed > 0 but whose
    * manifest dir is gone (or left EMPTY by a kill mid-deleteTree — zero
    * manifest rows either way). Such a run can never be classified
    * superseded again, so its marker (and any data files a kill before the
    * data pass left behind) would leak forever. Deliberately-empty commits
    * (report says "committed":0) are kept — they are run history, not
    * residue. The two sets are disjoint (a superseded run has manifest
    * rows), so one pass reaps their union.
    */
  def gcSuperseded(spark: SparkSession, root: String): GcReport = {
    val superseded = supersededRunIds(spark, root)
    def manifestRowless(id: String): Boolean = {
      val d = runManifestDir(root, id)
      if (!Files.isDirectory(d)) return true
      val s = Files.list(d)
      try !s.findFirst().isPresent finally s.close()
    }
    val halfCollected = committedRunIds(root).filter { id =>
      CommittedField.findFirstMatchIn(readUtf8(commitsDir(root).resolve(s"$id.json")))
        .exists(_.group(1).toLong > 0) && manifestRowless(id)
    }
    reap(spark, root, (superseded ++ halfCollected).sorted, commitsDir(root))
  }

  /** Committed encoded rows (snapshot read): data semi-joined against the
    * CURRENT (part_key, run_id) pairs — latest committed run per part_key
    * ([[currentManifest]]) — so orphans from crashed runs are invisible,
    * re-encoded partitions appear exactly once, and an overwrite run's
    * rows shadow the runs it superseded.
    *
    * Size-guarded like the resume ledger (both directions of
    * freeze.rs:96-109's skip-existing semantics): the committed pair set
    * grows without bound over a sink's lifetime, so past
    * `broadcastKeyLimit` pairs the semi-join degrades from a broadcast to
    * a SHUFFLE_HASH join — hash side is still the slim key table, and the
    * heavy blob side is never sorted (an SMJ here would sort the arrays:
    * the documented 4× pipeline regression). The pair count is bounded by
    * [[committedKeyBound]], read from the commit reports, not counted.
    */
  def readCommitted(spark: SparkSession, root: String,
      broadcastKeyLimit: Long = BroadcastKeyLimit): DataFrame = {
    if (!Files.isDirectory(Paths.get(dataDir(root)))) {
      // nothing ever (successfully) written — e.g. every attempt so far
      // errored before its first file landed
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], DataSchema)
    } else {
      val committed = currentManifest(spark, root).select("part_key", "run_id")
      val side =
        if (committedKeyBound(root) <= broadcastKeyLimit) broadcast(committed)
        else committed.hint("SHUFFLE_HASH")
      // explicit schema: a dataDir whose files were all garbage-collected
      // (dirs remain) must read as empty, not fail schema inference
      spark.read.schema(DataSchema).parquet(dataDir(root))
        .join(side, Seq("part_key", "run_id"), "left_semi")
    }
  }

  private val CommittedField = """"committed":(\d+)""".r

  /** Upper bound on the CURRENT part_key count from the commit reports
    * alone: each current key is counted in its winning run's report, so the
    * sum of the `"committed"` counts bounds it (superseded keys only loosen
    * it). A report without the field makes the bound Long.MaxValue.
    */
  def committedKeyBound(root: String): Long = keyBound(readCommitSummaries(root))

  /** [[committedKeyBound]] over commit reports already read. */
  private def keyBound(reports: Seq[String]): Long = {
    val counts = reports.map(js => CommittedField.findFirstMatchIn(js).map(_.group(1).toLong))
    if (counts.forall(_.isDefined)) counts.flatten.sum else Long.MaxValue
  }

  private val PlannedField = """"planned":(\d+)""".r

  /** Count-free size estimate of a resume's per-key ledger: the
    * [[committedKeyBound]] plus the newest commit report's `"planned"`
    * count (this run's key count when its input is that run's).
    * Long.MaxValue when a report lacks either field. Reads the commit
    * reports once.
    */
  def resumeKeyEstimate(root: String): Long = {
    val reports = readCommitSummaries(root)
    val planned = reports.lastOption
      .flatMap(PlannedField.findFirstMatchIn(_)).fold(Long.MaxValue)(_.group(1).toLong)
    (BigInt(planned) + keyBound(reports)).min(Long.MaxValue).toLong
  }

  def readCommitSummaries(root: String): Seq[String] =
    committedRunIds(root).map(id => readUtf8(commitsDir(root).resolve(s"$id.json")))

  // ---- pinned plan geometry: part_keys are positional (source, salt,
  // bin) coordinates, so EVERY run against a sink must use the same salt
  // count and bin size — otherwise identical docs land under fresh keys
  // and the resume can't see they were already committed
  // (silent duplication). The first run pins the geometry; later runs
  // validate against it (and auto-salt mode reuses the pin, which also
  // keeps auto salts stable if the input grows past a sizing boundary).

  private def configPath(root: String): Path = Paths.get(root, "_plan_config.json")

  /** Pin (saltBuckets, targetBinTokens) once per sink root (atomic,
    * write-once: a concurrent/crashed first run leaves either nothing or
    * the one value — there is deliberately NO overwrite path, because any
    * automatic "replace the pin while the sink looks empty" decision is a
    * check-then-act race: a concurrent first run can commit between the
    * emptiness check and the replace, and the replacing run's post-pin
    * re-validation would then pass against its OWN pin while two
    * geometries sit committed. Un-bricking a stale pin is an explicit
    * operator action — [[clearStalePin]]).
    */
  private def pinPlanConfig(root: String, saltBuckets: Int, targetBinTokens: Long): Unit = {
    val p = configPath(root)
    if (Files.exists(p)) return
    Files.createDirectories(p.getParent)
    // per-caller tmp name: a SHARED tmp would let two concurrent first
    // runs clobber each other's staged bytes and surface the pin race as
    // an uncaught NoSuchFileException instead of the handled
    // FileAlreadyExistsException
    val tmp = p.resolveSibling(
      s"_tmp_plan_config_${java.util.UUID.randomUUID.toString.take(8)}.json")
    Files.write(tmp,
      s"""{"salt_buckets":$saltBuckets,"target_bin_tokens":$targetBinTokens}"""
        .getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp) }
  }

  /** Remove a pin left by a run that crashed between pin and commit
    * (round-3 ADVICE: an empty sink must not permanently refuse explicit
    * geometry). Refuses when the sink holds committed runs — then the pin
    * is load-bearing resume identity, not stale. Explicitly
    * operator-invoked, never called from the run path, so the write-once
    * pin race guarantees stay intact for concurrent runs.
    *
    * QUIESCENCE REQUIREMENT: call this only while no encode run is in
    * flight against the sink. The emptiness check and the delete are not
    * atomic — a concurrent first run could commit in between, and its
    * now-load-bearing pin would be removed. The post-delete re-check
    * below narrows that window to a loud error instead of silence, but
    * cannot close it; this is an admin tool, like [[gcOrphans]].
    */
  def clearStalePin(root: String): Unit = {
    val committed = committedRunIds(root)
    require(committed.isEmpty,
      s"refusing to clear the plan-geometry pin of $root: ${committed.size} " +
        "committed run(s) depend on it. Changing geometry on a sink with " +
        "visible data would duplicate committed content — use a fresh outDir.")
    Files.deleteIfExists(configPath(root))
    val after = committedRunIds(root)
    if (after.nonEmpty)
      throw new IllegalStateException(
        s"a run committed to $root concurrently with clearStalePin — its " +
          "geometry pin was just removed while becoming load-bearing. " +
          "Re-pin it from that run's commit report config BEFORE running " +
          "anything else against this sink (clearStalePin requires sink " +
          "quiescence).")
  }

  /** The sink's pinned geometry, checked against the one a run asks for:
    * `saltBuckets` 0 (auto) or `binTokens` 0 (derived from the input)
    * accepts the pin, any other mismatch fails fast. None on a sink that
    * has never committed; the run then resolves its own geometry, which
    * [[commit]] pins.
    */
  def pinnedGeometry(root: String, saltBuckets: Int, binTokens: Long): Option[(Int, Long)] =
    pinnedPlanConfig(root).map { case pin @ (pinSalts, pinBin) =>
      // hint the remediation when the pin is stale (crash between pin and
      // commit on a sink with zero visible data): the fix is the EXPLICIT
      // clearStalePin — an automatic overwrite here would be a
      // check-then-act race against a concurrent first run (two geometries
      // could both commit)
      def staleHint =
        if (committedRunIds(root).isEmpty)
          " (this sink has no committed runs, so the pin is stale — a " +
            "prior run crashed between pin and commit; clear it with " +
            "ManifestSink.clearStalePin and re-run)"
        else ""
      if (binTokens > 0 && pinBin != binTokens)
        throw new IllegalStateException(
          s"sink $root was created with targetBinTokens=$pinBin; " +
            s"config says $binTokens. Changing bin geometry on " +
            "an existing sink would duplicate committed content — use a " +
            s"fresh outDir$staleHint.")
      if (saltBuckets > 0 && saltBuckets != pinSalts)
        throw new IllegalStateException(
          s"sink $root was created with saltBuckets=$pinSalts; " +
            s"config says $saltBuckets. Use a fresh outDir$staleHint.")
      pin
    }

  /** (saltBuckets, targetBinTokens) pinned at sink creation, if any. */
  def pinnedPlanConfig(root: String): Option[(Int, Long)] = {
    val p = configPath(root)
    if (!Files.exists(p)) return None
    val s = readUtf8(p)
    val re = """\{"salt_buckets":(\d+),"target_bin_tokens":(\d+)\}""".r
    s match {
      case re(sb, tb) => Some((sb.toInt, tb.toLong))
      case _ => throw new IllegalStateException(s"corrupt plan config at $p: $s")
    }
  }

  // ---- in-flight run markers (reports.rs:41-48,81-86 analog: cryo writes
  // `incomplete_<ts>.json` at run START and renames it on success, so a
  // SIGKILL'd process still leaves a durable trace that a run was
  // attempted). graft writes `inflight/<runId>.json` before any work and
  // removes it when the attempt reaches a terminal state (commit marker or
  // error report) — so the ONLY way a marker survives is a run that died
  // without either, exactly the orphan-data case an operator wants to see.
  // Correctness never depends on it (orphan data is invisible regardless);
  // this is observability. ----

  private def inflightDir(root: String): Path = Paths.get(root, "inflight")

  /** Start a run attempt: durably write its in-flight marker (atomic
    * tmp+rename) before any work.
    */
  def begin(root: String, runId: String, json: String): Unit =
    writeMarker(inflightDir(root), runId, json)

  /** Publish a run whose data and manifest writes succeeded.
    *
    * Pins the plan geometry at COMMIT time, not run start: a first run
    * that fails before committing anything must not permanently pin
    * salt/bin config on an empty sink (round-2 ADVICE). The pin is
    * write-once, so it is re-checked after pinning: if a concurrent first
    * run with different geometry won the pin race, this run's data stays
    * invisible (no marker). Then the commit marker is published atomically
    * — everything before it is invisible until it lands.
    *
    * The commit marker is the attempt's terminal state, so the in-flight
    * marker is cleared last, best-effort (NonFatal only — VM errors and
    * interrupts still propagate): the run is already committed and
    * visible, so an IO error deleting an observability marker must not
    * fail it (nor record a bogus failure report for it). A marker left
    * that way names a committed run, which [[gcOrphans]] reaps.
    */
  def commit(root: String, runId: String, saltBuckets: Int, binTokens: Long,
      reportJson: String): Unit = {
    pinPlanConfig(root, saltBuckets, binTokens)
    pinnedPlanConfig(root) match {
      case Some((ps, pb)) if ps == saltBuckets && pb == binTokens => ()
      case other => throw new IllegalStateException(
        s"plan-geometry pin race lost: sink pinned $other but this run " +
          s"used (saltBuckets=$saltBuckets, targetBinTokens=$binTokens); " +
          "not committing (data stays invisible). Re-run to resume.")
    }
    writeMarker(commitsDir(root), runId, reportJson)
    try clearInflight(root, runId)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** End a failed run attempt: its error report is the terminal state and
    * supersedes the in-flight marker, which is cleared only once the report
    * is written — a run that cannot record its failure keeps its marker,
    * like a killed one. Never throws: the caller rethrows the run's own
    * failure.
    */
  def abort(root: String, runId: String, message: String): Unit =
    try {
      recordError(root, runId, message)
      clearInflight(root, runId)
    } catch { case _: Throwable => () }

  private def clearInflight(root: String, runId: String): Unit =
    Files.deleteIfExists(inflightDir(root).resolve(s"$runId.json"))

  /** JSON bodies of markers whose runs never reached a terminal state —
    * each is an attempt that died (kill/OOM/power) mid-run and may have
    * left orphan (invisible) data files worth garbage-collecting.
    */
  def readInflightMarkers(root: String): Seq[String] =
    markers(inflightDir(root)).map(readUtf8).sorted

  final case class GcReport(
      dataFilesDeleted: Int,
      manifestDirsDeleted: Int,
      markersCleared: Int,
      tempDirsDeleted: Int)

  /** Garbage-collect the on-disk residue of DEAD run attempts — the
    * follow-through on the in-flight markers: correctness never needs this
    * (orphans are invisible to readers), but a sink that survives many
    * kills accumulates unreachable bytes.
    *
    * A run id is dead when it has an error report, or an in-flight marker
    * older than `olderThanMs`, and no commit marker. The age threshold is
    * the liveness guard: a RUNNING attempt also has (only) an in-flight
    * marker, so never call this with a threshold shorter than your longest
    * plausible run — the default (24 h) is safe for anything this engine
    * does. Per dead id, deletes its data files (found by a column-pruned
    * distributed scan of the data set's run_id column — the only way to
    * map files to runs, since data partitions by (source, part_stub), not
    * run), its `manifest/run_id=` directory, and its in-flight marker.
    * Error reports are KEPT — they are the durable failure history behind
    * `RunSummary.priorFailedAttempts`. Also sweeps committer `_temporary`
    * directories older than the threshold (a kill mid-write strands one).
    */
  def gcOrphans(spark: SparkSession, root: String,
      olderThanMs: Long = 24L * 3600 * 1000): GcReport = {
    val now = System.currentTimeMillis
    val committed = committedRunIds(root).toSet
    val tsRe = """"started_unix_ms":(\d+)""".r
    val erroredIds = markers(errorsDir(root)).map(runIdOf)
    val inflight = markers(inflightDir(root))
    val staleInflightIds = inflight.filter { m =>
      // fail-safe direction: a marker whose timestamp is missing or
      // unparsable is treated as NOT old (never collected) — the
      // alternative would garbage-collect a possibly-LIVE attempt
      tsRe.findFirstMatchIn(readUtf8(m)).map(_.group(1).toLong)
        .exists(ts => now - ts >= olderThanMs)
    }.map(runIdOf)
    val dead = (erroredIds ++ staleInflightIds).toSet -- committed
    val reaped = reap(spark, root, dead.toSeq.sorted, inflightDir(root))
    // a marker whose run_id IS committed is leftover from a failed
    // best-effort clear after a successful commit — terminal state
    // exists, so reap it here (the `dead` set excludes committed ids and
    // would never reach it)
    val leftovers = inflight.filter(m => committed(runIdOf(m))).count(Files.deleteIfExists)
    var tempDirs = 0
    Seq(dataDir(root), manifestDir(root)).foreach { d =>
      val t = Paths.get(d, "_temporary")
      if (Files.isDirectory(t) &&
          now - Files.getLastModifiedTime(t).toMillis >= olderThanMs) {
        deleteTree(t); tempDirs += 1
      }
    }
    reaped.copy(markersCleared = reaped.markersCleared + leftovers,
      tempDirsDeleted = tempDirs)
  }

  /** Delete runs' on-disk residue in crash-safe order: their data files,
    * then their `manifest/run_id=` dirs, then their markers in `markerDir`.
    * A kill part-way leaves the markers, so the next GC call finds the
    * same runs and finishes the job. Shared by [[gcOrphans]] (dead
    * attempts) and [[gcSuperseded]] (overwritten and half-collected runs).
    */
  private def reap(spark: SparkSession, root: String, ids: Seq[String],
      markerDir: Path): GcReport = {
    val dataFiles = deleteDataFilesForRuns(spark, root, ids)
    val manifestDirs = ids.map(runManifestDir(root, _)).count { d =>
      Files.isDirectory(d) && { deleteTree(d); true }
    }
    val markersCleared = ids.count(id => Files.deleteIfExists(markerDir.resolve(s"$id.json")))
    GcReport(dataFiles, manifestDirs, markersCleared, 0)
  }

  /** Delete the data files of the given run ids (found by a column-pruned
    * distributed scan of the data set's run_id column — the only way to
    * map files to runs, since data partitions by (source, part_stub), not
    * run). Returns the number of files deleted.
    */
  private def deleteDataFilesForRuns(spark: SparkSession, root: String,
      deadSeq: Seq[String]): Int = {
    var dataFiles = 0
    if (deadSeq.nonEmpty && Files.isDirectory(Paths.get(dataDir(root)))) {
      // explicit schema: no inference, so a dataDir holding only
      // _temporary residue (or nothing — GC is idempotent and the dead
      // set never shrinks, error reports being permanent) reads as empty
      // instead of throwing
      // the errored-id set grows without bound over a sink's lifetime
      val matched = whereRunIn(spark.read.schema(DataSchema).parquet(dataDir(root)),
        deadSeq, IsinRunLimit)
      val files = matched.select(input_file_name()).distinct().collect()
        .map(_.getString(0))
      files.foreach { f =>
        // Spark 4's input_file_name returns a URI form (URL-encoded);
        // decode through java.net.URI so escapable path chars resolve
        val p =
          try java.nio.file.Paths.get(new java.net.URI(f))
          catch { case _: Exception => Paths.get(f.stripPrefix("file:")) }
        if (Files.deleteIfExists(p)) dataFiles += 1
      }
    }
    dataFiles
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(q => Files.deleteIfExists(q))
    finally s.close()
  }

  // ---- error accounting (reports.rs:9-127 analog: a run's failure is
  // recorded durably, not just thrown; its data stays invisible because
  // the commit marker was never written) ----

  private def errorsDir(root: String): Path = Paths.get(root, "errors")

  /** Durably record a failed run attempt (atomic tmp+rename like commits). */
  private def recordError(root: String, runId: String, message: String): Unit = {
    // truncate the RAW message first, then escape: truncating after
    // escaping could cut mid escape pair (trailing lone backslash from an
    // escaped quote) and produce an invalid JSON report
    val safe = graft.util.JsonEsc.escape(message.take(500))
    writeMarker(errorsDir(root), runId, s"""{"run_id":"$runId","error":"$safe"}""")
  }

  /** JSON bodies of recorded failed attempts (empty if none). */
  def readErrorReports(root: String): Seq[String] =
    markers(errorsDir(root)).map(readUtf8).sorted
}
