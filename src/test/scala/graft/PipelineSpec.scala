package graft

import graft.pipeline.EncodePipeline
import graft.sinks.ManifestSink
import graft.sources.Tokens
import graft.util.LocalFs
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** E2E pipeline tests (SURVEY.md §5 plan #4): roundtrip equality via join on
  * doc_id, resumability (partial commit → rerun → no duplicates, skips
  * recorded — mirrors crates/freeze/src/freeze.rs:96-99), lineage/metrics
  * rows present, compression beats the raw-bytes baseline, and bit-identical
  * output across input parallelism levels.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sink").toString

  /** Drop a run's in-flight marker as if the run had ended elsewhere. */
  private def clearInflight(root: String, runId: String): Unit =
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "inflight", s"$runId.json"))

  private val cfgBase = EncodePipeline.Config(outDir = "", targetBinTokens = 4096,
    saltBuckets = 4)

  /** Every node of an executed plan, through adaptive stages, and through
    * a cached relation's own plan where `intoCache` says so.
    */
  private def nodes(p: SparkPlan, intoCache: InMemoryTableScanExec => Boolean): Seq[SparkPlan] =
    p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, intoCache)
      case q: QueryStageExec => nodes(q.plan, intoCache)
      case m: InMemoryTableScanExec if intoCache(m) => nodes(m.relation.cachedPlan, intoCache)
      case _ => p.children.flatMap(nodes(_, intoCache))
    })

  /** The cache of a run's encoded frame (the only one holding enc_ns). */
  private def isEncodedCache(m: InMemoryTableScanExec): Boolean =
    m.relation.output.exists(_.name == "enc_ns")

  /** The queries of one run: the executed plan and the command of its data
    * and manifest writes, keyed by the output dir name ("data",
    * "manifest"), and the name and executed plan of every action it ran,
    * in order.
    */
  private class Writes(val plans: Map[String, SparkPlan],
      val cmds: Map[String, InsertIntoHadoopFsRelationCommand],
      val actions: Seq[(String, SparkPlan)])

  private def writePlans(body: => Unit): Writes = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add((funcName, qe))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the listener is called from the listener bus, after the action
    // returns; the bus keeps order, so a marker action before and after the
    // body brackets exactly the body's actions
    def marker(): QueryExecution = {
      val m = spark.range(1).toDF()
      m.collect()
      m.queryExecution
    }
    spark.listenerManager.register(listener)
    val run = try {
      val start = marker()
      body
      val end = marker()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_._2 eq end) && System.nanoTime() < deadline) Thread.sleep(20)
      seen.asScala.toSeq.dropWhile(_._2 ne start).drop(1).takeWhile(_._2 ne end)
    } finally spark.listenerManager.unregister(listener)
    val writes = run.flatMap { case (_, qe) =>
      nodes(qe.executedPlan, _ => false).collect {
        case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _) =>
          i.outputPath.getName -> (i, qe.executedPlan)
      }
    }.toMap
    new Writes(writes.map { case (k, v) => k -> v._2 }, writes.map { case (k, v) => k -> v._1 },
      run.map { case (f, qe) => (f, qe.executedPlan) })
  }

  test("full run: roundtrip bit-identity, lineage, compression") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 800)
    val s = EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = out))
    assert(s.committed > 0 && s.skipped == 0 && s.committed == s.planned)
    assert(s.nDocs == 800)
    // north-rule per-row invariant
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    // lineage + metrics table
    val mf = ManifestSink.committedManifest(spark, out)
    assert(mf.count() == s.committed)
    val sums = mf.agg(sum("n_docs"), sum("raw_bytes"), sum("encoded_bytes")).collect()(0)
    assert(sums.getLong(0) == 800)
    assert(sums.getLong(2) < sums.getLong(1), "encoded must beat raw int32 bytes")
    // run report published atomically
    assert(ManifestSink.readCommitSummaries(out).nonEmpty)
    // readers pass a fixed manifest schema instead of inferring it: it must
    // be the schema Spark infers from what the pipeline wrote
    assert(spark.read.parquet(ManifestSink.manifestDir(out)).schema ==
      ManifestSink.ManifestSchema)
  }

  test("resume: bounded runs commit incrementally with zero duplicates") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 500)
    val cfg = cfgBase.copy(outDir = out, maxPartitionsPerRun = 3,
      targetBinTokens = 16384, saltBuckets = 2)
    val first = EncodePipeline.run(spark, tokens, cfg)
    assert(first.committed == 3 && first.planned > 3)
    val rest = EncodePipeline.runAll(spark, tokens, cfg)
    assert(rest.map(_.committed).sum == first.planned - 3)
    // skip accounting mirrors freeze.rs n_skipped
    assert(rest.last.skipped + rest.last.committed == first.planned)
    // no duplicates, full coverage
    val read = ManifestSink.readCommitted(spark, out)
    assert(read.count() == 500)
    assert(read.select("doc_id").distinct().count() == 500)
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    // a full rerun is a no-op: everything skipped
    val again = EncodePipeline.run(spark, tokens, cfg.copy(maxPartitionsPerRun = Int.MaxValue))
    assert(again.committed == 0 && again.skipped == again.planned)
    assert(ManifestSink.readCommitted(spark, out).count() == 500)
  }

  test("a resume's planned, skipped and committed match the plan and the current manifest") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 500)
    val cfg = cfgBase.copy(outDir = out, maxPartitionsPerRun = 2,
      targetBinTokens = 16384, saltBuckets = 2)
    EncodePipeline.run(spark, tokens, cfg)
    // (planned keys, planned keys the current manifest holds)
    def expected(): (Long, Long) = {
      val planned = EncodePipeline.plan(tokens, cfg).select("part_key").distinct()
      val current = ManifestSink.currentManifest(spark, out).select("part_key")
      (planned.count(), planned.join(current, Seq("part_key"), "left_semi").count())
    }
    val (p1, k1) = expected()
    assert(k1 == 2 && p1 - k1 > 2, (p1, k1))
    val bounded = EncodePipeline.run(spark, tokens, cfg)
    assert((bounded.planned, bounded.skipped, bounded.committed) == (p1, k1, 2L))
    val (p2, k2) = expected()
    assert(p2 == p1 && k2 == k1 + 2, (p2, k2))
    val rest = EncodePipeline.run(spark, tokens, cfg.copy(maxPartitionsPerRun = Int.MaxValue))
    assert((rest.planned, rest.skipped, rest.committed) == (p2, k2, p2 - k2))
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
  }

  test("no-op resume commits an empty run and leaves data and manifest files untouched") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 200)
    val cfg = cfgBase.copy(outDir = out)
    val first = EncodePipeline.run(spark, tokens, cfg)
    def files(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      Seq(ManifestSink.dataDir(out), ManifestSink.manifestDir(out)).flatMap { d =>
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { p =>
          p.toString -> (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
        }.toList
        finally w.close()
      }.toMap
    }
    val before = files()
    assert(before.keys.exists(_.endsWith(".parquet")))
    val s = EncodePipeline.run(spark, tokens, cfg)
    assert(s.planned == first.planned && s.skipped == s.planned)
    assert(s.committed == 0 && s.nDocs == 0 && s.nTokens == 0 &&
      s.rawBytes == 0 && s.encodedBytes == 0)
    assert(s.deferred == 0 && s.priorFailedAttempts == 0)
    // the empty commit marker is written, its report carries the summary,
    // and the attempt reached its terminal state
    assert(ManifestSink.committedRunIds(out) == Seq(first.runId, s.runId))
    val report = ManifestSink.readCommitSummaries(out).last
    Seq(s""""run_id":"${s.runId}"""", s""""planned":${s.planned}""",
      s""""skipped":${s.planned}""", """"committed":0""", """"n_docs":0""",
      """"n_tokens":0""", """"raw_bytes":0""", """"encoded_bytes":0""")
      .foreach(f => assert(report.contains(f), report))
    assert(ManifestSink.readInflightMarkers(out).isEmpty)
    // nothing under data/ or manifest/ was created or rewritten
    assert(files() == before)
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
  }

  test("a no-op resume runs four counts and no write; the last three read only the cached ledger") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 300)
    val cfg = cfgBase.copy(outDir = out)
    EncodePipeline.run(spark, tokens, cfg)
    var s: EncodePipeline.RunSummary = null
    val resume = writePlans { s = EncodePipeline.run(spark, tokens, cfg) }
    assert(s.committed == 0 && s.skipped == s.planned && s.planned > 0)
    assert(resume.plans.isEmpty && resume.cmds.isEmpty, resume.plans.keySet)
    // committed, planned, todo and the drift guard
    assert(resume.actions.map(_._1) == Seq.fill(4)("count"), resume.actions.map(_._1))
    resume.actions.drop(1).foreach { case (_, plan) =>
      val all = nodes(plan, _ => false)
      assert(!all.exists(_.isInstanceOf[Exchange]), plan)
      val leaves = all.collect {
        case l: LeafExecNode if !l.isInstanceOf[AdaptiveSparkPlanExec] &&
          !l.isInstanceOf[QueryStageExec] => l
      }
      assert(leaves.nonEmpty && leaves.forall {
        case m: InMemoryTableScanExec =>
          Set("part_key", "n_planned", "n_committed") == m.relation.output.map(_.name).toSet
        case _ => false
      }, plan)
    }
  }

  test("the resume guard runs before the no-op exit: all keys committed, counts drifted") {
    val out = freshDir()
    // one bin per (source, salt): dropping a doc keeps the key set, so the
    // anti-join leaves nothing to do while one key's doc count drifts
    val cfg = cfgBase.copy(outDir = out, targetBinTokens = 1L << 30, saltBuckets = 2)
    EncodePipeline.run(spark, Tokens.synthetic(spark, 200), cfg)
    val dropped = Tokens.synthetic(spark, 200).filter(col("doc_id") =!= 0)
    // a dry run plans the same resume, so it raises the same guard
    val dryErr = intercept[IllegalStateException](
      EncodePipeline.run(spark, dropped, cfg.copy(dryRun = true)))
    val e = intercept[IllegalStateException](EncodePipeline.run(spark, dropped, cfg))
    assert(e.getMessage.contains("resume guard"), e.getMessage)
    assert(dryErr.getMessage == e.getMessage, dryErr.getMessage)
    assert(ManifestSink.committedRunIds(out).size == 1)
  }

  test("no-op resumes and guard failures release every cache they make") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 200)
    val cfg = cfgBase.copy(outDir = out, targetBinTokens = 1L << 30, saltBuckets = 2)
    EncodePipeline.run(spark, tokens, cfg)
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 5).foreach { _ =>
      assert(EncodePipeline.run(spark, tokens, cfg).committed == 0)
    }
    intercept[IllegalStateException] {
      EncodePipeline.run(spark, tokens.filter(col("doc_id") =!= 0), cfg)
    }
    // the overwrite coverage guard reads the ledger too: one source's keys
    // leave every other source's committed keys uncovered
    val e = intercept[IllegalStateException] {
      EncodePipeline.run(spark, tokens.filter(col("source") === "web"), cfg.copy(overwrite = true))
    }
    assert(e.getMessage.contains("coverage guard"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("each benchmark phase anchor sits on exactly one line of EncodePipeline.scala") {
    def lines(path: String) = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path)).asScala.toSeq
    // perfbench's PhaseOf maps a job to a phase by the line of its action;
    // its anchors are `"<phase>" -> "<string literal>"` pairs
    val Anchor = """\s*"(\w+)" -> "((?:[^"\\]|\\.)*)",?\)?""".r
    val anchors = lines("perfbench/src/graftbench/Trace.scala").collect {
      case Anchor(phase, lit) => phase -> lit.replace("\\\"", "\"")
    }
    assert(anchors.map(_._1) == Seq("salt", "committed_read", "plan", "resume_join",
      "drift_guard", "data_write", "manifest_write", "totals"), anchors)
    val src = lines("src/main/scala/graft/pipeline/EncodePipeline.scala")
    anchors.foreach { case (phase, a) =>
      assert(src.count(_.contains(a)) == 1, s"$phase anchor `$a`")
    }
  }

  test("orphans from uncommitted runs stay invisible") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 200)
    EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = out))
    val before = ManifestSink.readCommitted(spark, out).count()
    // simulate a crashed run: data + manifest written, no commit marker
    graft.functions.GraftFunctions.register(spark)
    tokens
      .join(EncodePipeline.plan(tokens, cfgBase.copy(outDir = out))
        .select("doc_id", "salt", "bin", "part_key"), Seq("doc_id"))
      .limit(50)
      .withColumn("blob", expr("encode_auto(tokens)"))
      .withColumn("codec", expr("codec_of(blob)"))
      .withColumn("run_id", lit("run-99999-deadbeef"))
      .withColumn("part_stub",
        format_string("salt%03d__bin%08d", col("salt"), col("bin")))
      .drop("tokens")
      .select("part_key", "run_id", "doc_id", "source", "salt", "bin", "n_tok", "codec", "blob", "part_stub")
      .write.mode("append").partitionBy("source", "part_stub")
      .parquet(ManifestSink.dataDir(out))
    assert(ManifestSink.readCommitted(spark, out).count() == before)
  }

  test("encoded bytes are identical across input parallelism levels") {
    val out4 = freshDir(); val out1 = freshDir()
    val t4 = Tokens.synthetic(spark, 300, numPartitions = 8)
    val t1 = Tokens.synthetic(spark, 300, numPartitions = 1)
    EncodePipeline.run(spark, t4, cfgBase.copy(outDir = out4))
    EncodePipeline.run(spark, t1, cfgBase.copy(outDir = out1))
    def fingerprint(dir: String): Array[org.apache.spark.sql.Row] =
      ManifestSink.readCommitted(spark, dir)
        .select(col("doc_id"), col("part_key"), xxhash64(col("blob")).as("h"))
        .orderBy("doc_id").collect()
    assert(fingerprint(out4).sameElements(fingerprint(out1)))
  }

  test("sink layout: deterministic zero-padded partition dirs; files sorted by doc_id") {
    val outA = freshDir(); val outB = freshDir()
    val tokens = Tokens.synthetic(spark, 400)
    EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = outA))
    EncodePipeline.run(spark, Tokens.synthetic(spark, 400, numPartitions = 7),
      cfgBase.copy(outDir = outB))
    def stubDirs(root: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(ManifestSink.dataDir(root)))
        .iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p))
        .map(_.getFileName.toString)
        .filter(_.startsWith("part_stub="))
        .toSet
    }
    // identical input (any parallelism) → identical human-readable dirs
    val a = stubDirs(outA)
    assert(a == stubDirs(outB) && a.nonEmpty)
    assert(a.forall(_.matches("part_stub=salt\\d{3}__bin\\d{8}")), a.take(3))
    // rows within each physical file are doc_id-sorted (reference sorts
    // every output file, types/dataframes/sort.rs:9-18)
    val perFile = spark.read.parquet(ManifestSink.dataDir(outA))
      .select(input_file_name().as("f"), col("doc_id"))
      .collect().groupBy(_.getString(0)).values
    perFile.foreach { rows =>
      val ids = rows.map(_.getLong(1)).toSeq
      assert(ids == ids.sorted, s"unsorted file: ${ids.take(5)}")
    }
    // K4: user-configurable sort columns (reference sorts by the schema's
    // sort columns — sort.rs:9-18): files ordered by (n_tok, doc_id)
    val outC = freshDir()
    EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = outC, sortColumns = Seq("n_tok", "doc_id")))
    val perFileC = spark.read.parquet(ManifestSink.dataDir(outC))
      .select(input_file_name().as("f"), col("n_tok"), col("doc_id"))
      .collect().groupBy(_.getString(0)).values
    perFileC.foreach { rows =>
      val keys = rows.map(r => (r.getInt(1), r.getLong(2))).toSeq
      assert(keys == keys.sorted, s"unsorted by (n_tok, doc_id): ${keys.take(5)}")
    }
    // sort is layout-only: same content, roundtrip intact
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, outC) == 0)
    intercept[IllegalArgumentException] {
      EncodePipeline.Config(outDir = outC, sortColumns = Seq("blob")).validated
    }
  }

  test("error accounting: a failed run is durably recorded; data invisible; retry clean") {
    val out = freshDir()
    val good = Tokens.synthetic(spark, 120)
    // poison one row so the encode stage throws mid-run
    val poisoned = good.withColumn("tokens",
      when($"doc_id" === 42, expr("CAST(raise_error('poison pill') AS array<int>)"))
        .otherwise($"tokens"))
    val sc = spark.sparkContext
    val cachesBefore = sc.getPersistentRDDs.size
    intercept[Exception] {
      EncodePipeline.run(spark, poisoned, cfgBase.copy(outDir = out))
    }
    val errs = ManifestSink.readErrorReports(out)
    assert(errs.size == 1 && errs.head.contains("run-"), errs)
    assert(ManifestSink.readInflightMarkers(out).isEmpty)
    // the run waited for both of its concurrent writes: no job of it is
    // left running (the status store hears of job ends through the
    // listener bus), and it released every cache it made
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, sc.statusTracker.getActiveJobIds.toSeq)
    assert(sc.getPersistentRDDs.size == cachesBefore)
    // nothing committed, orphans invisible
    assert(ManifestSink.readCommitted(spark, out).count() == 0)
    // retry with clean input succeeds and reports the prior failure
    val s = EncodePipeline.run(spark, good, cfgBase.copy(outDir = out))
    assert(s.committed == s.planned && s.nDocs == 120)
    assert(s.priorFailedAttempts == 1)
    assert(EncodePipeline.verifyRoundtrip(spark, good, out) == 0)
  }

  test("write plans: a fresh run skips the resume joins; the manifest shuffles only on enc_task") {
    val tokens = Tokens.synthetic(spark, 400)
    val freshRun = writePlans {
      EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = freshDir()))
    }
    val fresh = freshRun.plans
    assert(fresh.keySet == Set("data", "manifest"), fresh.keySet)
    // both writes send their `file:` paths through the library's local
    // file system
    freshRun.cmds.values.foreach(c => assert(LocalFs.WriteOptions.forall { case (k, v) =>
      c.options.get(k).contains(v) }, c.options))
    // the encode join lives in the encoded cache the data write reads
    val joins = nodes(fresh("data"), _ => true).collect { case j: BaseJoinExec => j.joinType }
    assert(joins.nonEmpty && !joins.exists(t => t == LeftSemi || t == LeftAnti), joins)
    // the manifest's own shuffles, not the encode's inside its cache
    val shuffles = nodes(fresh("manifest"), m => !isEncodedCache(m))
      .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(shuffles.size <= 1 && shuffles.forall {
      case h: HashPartitioning => h.references.toSeq.map(_.name) == Seq("enc_task")
      case _ => false
    }, shuffles)

    // a bounded resume still selects its parts through the broadcast semi-join
    val out = freshDir()
    val cfg = cfgBase.copy(outDir = out, maxPartitionsPerRun = 2)
    EncodePipeline.run(spark, tokens, cfg)
    val bounded = writePlans(EncodePipeline.run(spark, tokens, cfg)).plans
    assert(nodes(bounded("data"), _ => true).exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftSemi
      case _ => false
    })
  }

  test("a fresh unbounded run counts nothing; its planned count is its committed count") {
    val tokens = Tokens.synthetic(spark, 400)
    val out = freshDir()
    val cfg = cfgBase.copy(outDir = out)
    var s: EncodePipeline.RunSummary = null
    val fresh = writePlans { s = EncodePipeline.run(spark, tokens, cfg) }
    assert(fresh.plans.keySet == Set("data", "manifest"), fresh.plans.keySet)
    assert(!fresh.actions.map(_._1).contains("count"), fresh.actions.map(_._1))
    val nKeys = EncodePipeline.plan(tokens, cfg).select("part_key").distinct().count()
    assert(s.planned == nKeys && s.committed == nKeys && s.skipped == 0 && s.nDocs == 400)
    assert(ManifestSink.readCommitSummaries(out).exists(_.contains(s"\"planned\":$nKeys,")))
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    // the resume that follows counts its plan and skips every key
    val again = EncodePipeline.run(spark, tokens, cfg)
    assert(again.planned == nKeys && again.skipped == nKeys && again.committed == 0)

    // an empty input commits an empty run, and the sink takes a real run after it
    val emptyOut = freshDir()
    val empty = EncodePipeline.run(spark, tokens.filter(lit(false)), cfg.copy(outDir = emptyOut))
    assert(empty.planned == 0 && empty.committed == 0 && empty.nDocs == 0)
    assert(ManifestSink.committedRunIds(emptyOut).size == 1)
    assert(ManifestSink.readCommitted(spark, emptyOut).count() == 0)
    val after = EncodePipeline.run(spark, tokens, cfg.copy(outDir = emptyOut))
    assert(after.planned == nKeys && after.committed == nKeys)
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, emptyOut) == 0)
  }

  test("strict resume guard: grown input fails fast instead of silently skipping") {
    val out = freshDir()
    EncodePipeline.run(spark, Tokens.synthetic(spark, 300), cfgBase.copy(outDir = out))
    // same generator, more docs: trailing bins of committed (source, salt)
    // groups now contain extra docs under the SAME part_key
    val grown = Tokens.synthetic(spark, 450)
    val e = intercept[IllegalStateException] {
      EncodePipeline.run(spark, grown, cfgBase.copy(outDir = out))
    }
    assert(e.getMessage.contains("resume guard"))
    // the documented escape hatches: fresh outDir, or partPrefix scoping
    val s = EncodePipeline.run(spark, grown,
      cfgBase.copy(outDir = out, partPrefix = "wave2"))
    assert(s.committed == s.planned)
  }

  test("salt buckets auto-scale with input size and stay deterministic") {
    assert(EncodePipeline.autoSaltBuckets(1000) == 16)
    assert(EncodePipeline.autoSaltBuckets(100000000L) == 51)
    assert(EncodePipeline.autoSaltBuckets(10000000000L) == 5001)
    assert(EncodePipeline.autoSaltBuckets(Long.MaxValue / 2) == 8192)
    // auto mode (saltBuckets = 0) plans identically across parallelism
    val t1 = Tokens.synthetic(spark, 300, numPartitions = 1)
    val t7 = Tokens.synthetic(spark, 300, numPartitions = 7)
    val cfg = cfgBase.copy(outDir = "unused", saltBuckets = 0)
    val p1 = EncodePipeline.plan(t1, cfg).select("doc_id", "part_key").orderBy("doc_id").collect()
    val p7 = EncodePipeline.plan(t7, cfg).select("doc_id", "part_key").orderBy("doc_id").collect()
    assert(p1.sameElements(p7))
  }

  test("manifest wall_ms is a real measurement (positive, bounded by run wall)") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 2000)
    val s = EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = out,
      targetBinTokens = 16384))
    val mf = ManifestSink.committedManifest(spark, out)
    val w = mf.agg(max("wall_ms"), sum("wall_ms")).collect()(0)
    // per-partition walls are real per-task spans apportioned by tokens:
    // none can exceed the whole run's wall clock
    assert(w.getLong(0) <= s.wallMs, s"wall ${w.getLong(0)} vs run ${s.wallMs}")
    // and at least one partition saw measurable time
    assert(w.getLong(1) > 0)
  }

  test("manifest rows: per-key totals, modal codec with its tie rule, token-share wall_ms") {
    // two encode tasks: task 0 spans 10 ms over 40 tokens, task 1 spans
    // 4 ms over 20 tokens; k2 has docs in both, and its codec counts tie
    // only once both tasks are summed (dict 2 + 0, rle 1 + 1)
    val ms = 1000000L
    val rows = Seq(
      // part_key, source, salt, bin, enc_task, codec, n_tok, blob_len, enc_ns
      ("k1", "a", 0, 0L, 0, "dict", 10, 5L, 1000 * ms),
      ("k1", "a", 0, 0L, 0, "dict", 10, 5L, 1002 * ms),
      ("k1", "a", 0, 0L, 0, "dict", 10, 5L, 1010 * ms),
      ("k2", "a", 1, 0L, 0, "dict", 4, 3L, 1003 * ms),
      ("k2", "a", 1, 0L, 0, "dict", 4, 3L, 1004 * ms),
      ("k2", "a", 1, 0L, 0, "rle", 2, 4L, 1005 * ms),
      ("k2", "a", 1, 0L, 1, "rle", 5, 6L, 2001 * ms),
      ("k3", "b", 0, 1L, 1, "bitpack", 7, 9L, 2000 * ms),
      ("k3", "b", 0, 1L, 1, "bitpack", 8, 11L, 2004 * ms))
    val encoded = rows.toDF("part_key", "source", "salt", "bin", "enc_task", "codec",
      "n_tok", "blob_len", "enc_ns").withColumn("run_id", lit("run-00001"))
    val got = EncodePipeline.manifestRows(encoded).orderBy("part_key").collect().toSeq
    assert(got.head.schema.fieldNames.toSeq == ManifestSink.ManifestSchemaCols)
    // wall_ms = ceil(Σ task_wall_ms × key tokens in task / task tokens):
    // k1 ceil(10·30/40 = 7.5) = 8; k2 ceil(10·10/40 + 4·5/20 = 3.5) = 4;
    // k3 ceil(4·15/20 = 3) = 3
    assert(got == Seq(
      Row("k1", "a", 0, 0L, "run-00001", 3L, 30L, 120L, 15L, "dict", 8L),
      Row("k2", "a", 1, 0L, "run-00001", 4L, 15L, 60L, 16L, "rle", 4L),
      Row("k3", "b", 0, 1L, "run-00001", 2L, 15L, 60L, 20L, "bitpack", 3L)))
  }

  test("plan geometry is pinned per sink: conflicting salt/bin configs fail fast") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 200)
    EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = out)) // salts=4
    // same geometry resumes cleanly (everything skipped)
    val again = EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = out))
    assert(again.committed == 0 && again.skipped == again.planned)
    // different salt count: refused (fresh keys would duplicate content)
    val e1 = intercept[IllegalStateException] {
      EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = out, saltBuckets = 8))
    }
    assert(e1.getMessage.contains("saltBuckets"))
    // different bin size: refused
    val e2 = intercept[IllegalStateException] {
      EncodePipeline.run(spark, tokens,
        cfgBase.copy(outDir = out, targetBinTokens = 8192))
    }
    assert(e2.getMessage.contains("targetBinTokens"))
    // auto mode (saltBuckets = 0) adopts the pinned geometry
    val auto = EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, saltBuckets = 0))
    assert(auto.committed == 0 && auto.skipped == auto.planned)
  }

  test("config validation rejects malformed parameters up front") {
    val t = Tokens.synthetic(spark, 10)
    def bad(c: EncodePipeline.Config) =
      intercept[IllegalArgumentException](EncodePipeline.run(spark, t, c))
    bad(cfgBase.copy(outDir = ""))
    bad(cfgBase.copy(outDir = "x", targetBinTokens = 0))
    bad(cfgBase.copy(outDir = "x", saltBuckets = -1))
    bad(cfgBase.copy(outDir = "x", partPrefix = "a/b"))
    bad(cfgBase.copy(outDir = "x", parquetCodec = "rot13"))
  }

  test("skew: giant hot-source arrays spread over salted bins") {
    val tokens = Tokens.synthetic(spark, 1000)
    val planned = EncodePipeline.plan(tokens, cfgBase.copy(outDir = "unused"))
    val web = planned.filter($"source" === "web")
    // hot source splits across multiple salt buckets
    assert(web.select("salt").distinct().count() == 4)
    // bins respect the target: no bin (except single-doc giants) exceeds
    // target + one max doc
    val maxDoc = tokens.agg(max("n_tok")).collect()(0).getInt(0).toLong
    val over = planned.groupBy("part_key")
      .agg(sum($"n_tok".cast("long")).as("tok"))
      .filter($"tok" > 4096L + maxDoc)
      .count()
    assert(over == 0)
  }

  test("error reports stay valid JSON when truncation lands on an escape") {
    val out = freshDir()
    // a quote exactly at the 500-char truncation point: escaping-then-
    // truncating used to cut the escape pair in half (trailing lone
    // backslash → invalid JSON); truncate-then-escape keeps it whole
    val nasty = ("a" * 499) + "\"" + "tail beyond the cut \\ \" \n"
    ManifestSink.abort(out, "run-test", nasty)
    val reports = ManifestSink.readErrorReports(out)
    assert(reports.size == 1)
    import spark.implicits._
    val parsed = spark.read.json(Seq(reports.head).toDS)
    assert(!parsed.columns.contains("_corrupt_record"), reports.head)
    val err = parsed.select("error").collect()(0).getString(0)
    assert(err.length == 500 && err.endsWith("\""), err.takeRight(5))
  }

  test("failed first run does not pin plan geometry (pin lands at first commit)") {
    val out = freshDir()
    val good = Tokens.synthetic(spark, 100)
    val poisoned = good.withColumn("tokens",
      when($"doc_id" === 7, expr("CAST(raise_error('poison pill') AS array<int>)"))
        .otherwise($"tokens"))
    intercept[Exception] {
      EncodePipeline.run(spark, poisoned, cfgBase.copy(outDir = out))
    }
    // round-2 ADVICE: an immediately-failing first run used to permanently
    // pin salt/bin config on an EMPTY sink and refuse later explicit configs
    assert(ManifestSink.pinnedPlanConfig(out).isEmpty)
    val s = EncodePipeline.run(spark, good,
      cfgBase.copy(outDir = out, saltBuckets = 8, targetBinTokens = 8192))
    assert(s.committed == s.planned)
    assert(ManifestSink.pinnedPlanConfig(out).contains((8, 8192L)))
  }

  test("commit report embeds engine version + replayable config (K9 parity)") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 150)
    EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = out, partPrefix = "w1"))
    val js = ManifestSink.readCommitSummaries(out)
    assert(js.size == 1, js)
    assert(js.head.contains(s""""engine_version":"${EncodePipeline.Version}""""), js.head)
    // replayable: reconstruct the Config from the report and re-run — the
    // geometry matches, so resume must skip everything
    import spark.implicits._
    val c = spark.read.json(Seq(js.head).toDS).select("config.*").collect()(0)
    val cfg2 = EncodePipeline.Config(
      outDir = c.getAs[String]("out_dir"),
      targetBinTokens = c.getAs[Long]("target_bin_tokens"),
      saltBuckets = c.getAs[Long]("salt_buckets").toInt,
      maxPartitionsPerRun = c.getAs[Long]("max_partitions_per_run").toInt,
      partPrefix = c.getAs[String]("part_prefix"),
      parquetCodec = c.getAs[String]("parquet_codec"),
      reorgBuffer = c.getAs[Long]("reorg_buffer"))
    val again = EncodePipeline.run(spark, tokens, cfg2)
    assert(again.committed == 0 && again.skipped == again.planned)
  }

  test("reorg buffer: docs near the input head are deferred, not failed (F6)") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 200)
    val head = tokens.agg(max($"doc_id")).collect()(0).getLong(0)
    val nNear = tokens.filter($"doc_id" > head - 25).count()
    assert(nNear > 0)
    val s = EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, reorgBuffer = 25))
    assert(s.deferred == nNear, s"deferred ${s.deferred} vs $nNear")
    assert(s.nDocs == 200 - nNear)
    // deferred docs are excluded from the sink, and recorded in the report
    val stored = ManifestSink.readCommitted(spark, out)
    assert(stored.agg(max($"doc_id")).collect()(0).getLong(0) <= head - 25)
    assert(ManifestSink.readCommitSummaries(out).head.contains(s""""deferred":$nNear"""))
    // identical snapshot re-run: clean resume, same deferral, no drift
    val again = EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, reorgBuffer = 25))
    assert(again.committed == 0 && again.skipped == again.planned
      && again.deferred == nNear)
    intercept[IllegalArgumentException] {
      EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = out, reorgBuffer = -1))
    }
    // pickup of the settled tail: a SCOPED follow-up run (fresh partPrefix,
    // input filtered to the deferred docs) — positional bin keys over a
    // grown plan are not incrementally resumable, so the tail gets its own
    // key namespace, exactly like a streaming micro-batch
    val tail = tokens.filter($"doc_id" > head - 25)
    val s3 = EncodePipeline.run(spark, tail,
      cfgBase.copy(outDir = out, partPrefix = "tail1"))
    assert(s3.nDocs == nNear && s3.deferred == 0)
    val all = ManifestSink.readCommitted(spark, out)
    assert(all.count() == 200 && all.select("doc_id").distinct().count() == 200)
  }

  test("multi-output fan-out shares one cached input scan (J4)") {
    import graft.pipeline.MultiOut
    val root = freshDir()
    val tokens = Tokens.synthetic(spark, 300)
    // capture each output's analyzed-with-cache plan: every one must read
    // the shared InMemoryRelation, not re-run the input scan
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    def cap(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      (df: org.apache.spark.sql.DataFrame) => {
        val d = f(df); plans += d.queryExecution.withCachedData.toString; d
      }
    val outs = Seq(
      MultiOut.Output("encoded", cap(df =>
        df.select($"doc_id", expr("encode_auto(tokens)").as("blob")))),
      MultiOut.Output("stats", cap(df =>
        df.groupBy($"source").agg(count(lit(1)).as("n")))),
      MultiOut.Output("vocab", cap(df =>
        df.select(explode($"tokens").as("token")).distinct())))
    val res = MultiOut.run(spark, tokens, root, outs)
    assert(res.map(_.name) == Seq("encoded", "stats", "vocab"))
    assert(res.forall(_.rows > 0), res)
    res.foreach(c => assert(new java.io.File(c.dir).isDirectory, c.dir))
    assert(plans.size == 3)
    plans.foreach(p => assert(p.contains("InMemoryRelation"), p.take(400)))
    // the standard fan-out: encoded blobs decode bit-identical, vocab exact
    val root2 = freshDir()
    val std = MultiOut.standard(spark, tokens, root2)
    assert(std.map(_.name) == Seq("encoded", "stats", "vocab"))
    val enc = spark.read.parquet(s"$root2/encoded")
      .withColumn("decoded", expr("decode_tokens(blob)"))
    val bad = tokens.select($"doc_id", $"tokens")
      .join(enc.select($"doc_id", $"decoded"), Seq("doc_id"), "full_outer")
      .filter(not($"tokens" <=> $"decoded")).count()
    assert(bad == 0, s"$bad decode mismatches")
    val v = spark.read.parquet(s"$root2/vocab")
    val expect = tokens.select(explode($"tokens").as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    assert(v.exceptAll(expect).count() == 0 && expect.exceptAll(v).count() == 0)
    intercept[IllegalArgumentException] {
      MultiOut.run(spark, tokens, root, Seq(
        MultiOut.Output("a", identity), MultiOut.Output("a", identity)))
    }
  }

  test("in-flight marker: written at start, cleared at terminal state, survives a kill (K9)") {
    val out = freshDir()
    val good = Tokens.synthetic(spark, 120)
    // committed run: marker is gone (commit marker IS the terminal state)
    EncodePipeline.run(spark, good, cfgBase.copy(outDir = out))
    assert(ManifestSink.readInflightMarkers(out).isEmpty)
    // errored run: error report supersedes the marker
    val poisoned = good.withColumn("tokens",
      when($"doc_id" === 42, expr("CAST(raise_error('poison pill') AS array<int>)"))
        .otherwise($"tokens"))
    val out2 = freshDir()
    intercept[Exception] {
      EncodePipeline.run(spark, poisoned, cfgBase.copy(outDir = out2))
    }
    assert(ManifestSink.readErrorReports(out2).size == 1)
    assert(ManifestSink.readInflightMarkers(out2).isEmpty)
    // kill-analog: a run that dies reaching NO terminal state (no commit,
    // no error report) must leave the marker. Emulated by making the
    // errors dir unwritable (a file squats on its path), so the error-path
    // bookkeeping dies exactly like a SIGKILL'd JVM would — silently,
    // after the marker was written.
    val out3 = freshDir()
    java.nio.file.Files.write(java.nio.file.Paths.get(out3, "errors"),
      "squatter".getBytes)
    intercept[Exception] {
      EncodePipeline.run(spark, poisoned, cfgBase.copy(outDir = out3))
    }
    val markers = ManifestSink.readInflightMarkers(out3)
    assert(markers.size == 1 && markers.head.contains("run-"), markers)
    assert(markers.head.contains("started_unix_ms"), markers)
    // orphan data stays invisible regardless — the marker is observability,
    // not a correctness mechanism
    assert(ManifestSink.readCommitted(spark, out3).count() == 0)
  }

  test("gcOrphans deletes dead runs' files, keeps error history, spares live data (K9)") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 150)
    EncodePipeline.run(spark, tokens, cfgBase.copy(outDir = out))
    val committedRows = ManifestSink.readCommitted(spark, out).count()
    // forge a killed run: data files landed (the data job committed), but
    // the attempt died before its commit marker — exactly what a SIGKILL
    // between data write and publish leaves behind
    val deadId = "run-99999-deadbeef"
    ManifestSink.readCommitted(spark, out).limit(5)
      .withColumn("run_id", lit(deadId))
      .select("part_key", "run_id", "doc_id", "salt", "bin", "n_tok",
        "codec", "blob", "source", "part_stub")
      .write.mode("append").partitionBy("source", "part_stub")
      .parquet(ManifestSink.dataDir(out))
    ManifestSink.begin(out, deadId,
      s"""{"run_id":"$deadId","started_unix_ms":0}""")
    // plus an errored attempt (no files — its write job aborted)
    val poisoned = tokens.withColumn("tokens",
      when($"doc_id" === 3, expr("CAST(raise_error('poison pill') AS array<int>)"))
        .otherwise($"tokens"))
    intercept[Exception] {
      EncodePipeline.run(spark, poisoned, cfgBase.copy(outDir = out, partPrefix = "w2"))
    }
    // orphans on disk, invisible to readers
    val rawRows = spark.read.parquet(ManifestSink.dataDir(out)).count()
    assert(rawRows == committedRows + 5)
    assert(ManifestSink.readCommitted(spark, out).count() == committedRows)
    val gc = ManifestSink.gcOrphans(spark, out, olderThanMs = 0)
    assert(gc.dataFilesDeleted >= 1, gc)
    assert(gc.markersCleared == 1, gc)
    // dead bytes gone; committed data and its roundtrip untouched
    assert(spark.read.parquet(ManifestSink.dataDir(out)).count() == committedRows)
    assert(ManifestSink.readCommitted(spark, out).count() == committedRows)
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    // error reports are durable failure history — GC keeps them
    assert(ManifestSink.readErrorReports(out).nonEmpty)
    assert(ManifestSink.readInflightMarkers(out).isEmpty)
    // a LIVE attempt (fresh marker) is never collected at the default age
    ManifestSink.begin(out, "run-00042-live",
      s"""{"run_id":"run-00042-live","started_unix_ms":${System.currentTimeMillis}}""")
    val gc2 = ManifestSink.gcOrphans(spark, out)
    assert(gc2.markersCleared == 0 && gc2.dataFilesDeleted == 0, gc2)
    assert(ManifestSink.readInflightMarkers(out).size == 1)
    clearInflight(out, "run-00042-live")
    // fail-safe timestamp parsing: a marker with no parsable
    // started_unix_ms is treated as NOT old — never collected
    ManifestSink.begin(out, "run-00077-nots",
      """{"run_id":"run-00077-nots"}""")
    ManifestSink.gcOrphans(spark, out, olderThanMs = 0)
    assert(ManifestSink.readInflightMarkers(out).exists(_.contains("run-00077-nots")))
    clearInflight(out, "run-00077-nots")
    // a leftover marker for a COMMITTED run (a failed best-effort clear
    // after commit) IS reaped — its terminal state exists
    val committedId = ManifestSink.committedRunIds(out).head
    ManifestSink.begin(out, committedId,
      s"""{"run_id":"$committedId","started_unix_ms":0}""")
    val gc4 = ManifestSink.gcOrphans(spark, out, olderThanMs = 0)
    assert(gc4.markersCleared == 1, gc4)
    assert(ManifestSink.readInflightMarkers(out).isEmpty)
  }

  test("dry run: real plan accounting, zero writes (reference --dry)") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 300)
    val dry = EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, dryRun = true, reorgBuffer = 25))
    // ZERO writes: the sink root is exactly as createTempDirectory left it
    assert(new java.io.File(out).listFiles().isEmpty,
      new java.io.File(out).listFiles().mkString(","))
    assert(ManifestSink.pinnedPlanConfig(out).isEmpty)
    // the dry summary predicts the real run exactly
    val real = EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, reorgBuffer = 25))
    assert(dry.planned == real.planned && dry.skipped == real.skipped
      && dry.deferred == real.deferred && dry.nDocs == real.nDocs
      && dry.nTokens == real.nTokens && dry.rawBytes == real.rawBytes)
    assert(dry.committed == 0 && dry.encodedBytes == 0)
    // schema preview matches what the sink actually serves
    assert(EncodePipeline.OutputSchema.fieldNames.toSeq ==
      ManifestSink.readCommitted(spark, out).schema.fieldNames.toSeq)
    // dry run against the now-committed sink sees everything skipped
    val dry2 = EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, dryRun = true, reorgBuffer = 25))
    assert(dry2.skipped == real.planned && dry2.nDocs == 0 && dry2.nTokens == 0)
  }

  test("stale pin on an empty sink: explicit clearStalePin unbricks it (no racy auto-overwrite)") {
    val out = freshDir()
    // crash-between-pin-and-commit analog: a pin exists, zero committed runs
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "_plan_config.json"),
      """{"salt_buckets":99,"target_bin_tokens":12345}""".getBytes)
    // the conflicting run still fails fast (an AUTOMATIC overwrite would be
    // a check-then-act race against a concurrent first run) — but the
    // error now names the remediation
    val e = intercept[IllegalStateException] {
      EncodePipeline.run(spark, Tokens.synthetic(spark, 100),
        cfgBase.copy(outDir = out, saltBuckets = 8, targetBinTokens = 8192))
    }
    assert(e.getMessage.contains("clearStalePin"), e.getMessage)
    // the explicit operator action clears it; the re-run pins fresh
    ManifestSink.clearStalePin(out)
    val s = EncodePipeline.run(spark, Tokens.synthetic(spark, 100),
      cfgBase.copy(outDir = out, saltBuckets = 8, targetBinTokens = 8192))
    assert(s.committed == s.planned && s.committed > 0)
    assert(ManifestSink.pinnedPlanConfig(out).contains((8, 8192L)))
    // once runs are committed the pin is load-bearing: clearing refuses
    intercept[IllegalArgumentException](ManifestSink.clearStalePin(out))
  }

  test("user chunk label lands in partition dirs; layout-only (K4/K5)") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 200)
    EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, maxPartitionsPerRun = 2, label = "wave1"))
    val dirs1 = new java.io.File(ManifestSink.dataDir(out)).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.isDirectory)
      .map(_.getName).toSeq
    assert(dirs1.nonEmpty && dirs1.forall(_.endsWith("__wave1")), dirs1)
    // labels are layout-only: a differently-labeled resume skips committed
    // part_keys (identity unchanged) and its new dirs carry the new label
    val s2 = EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, label = "wave2"))
    assert(s2.skipped == 2)
    val dirs2 = new java.io.File(ManifestSink.dataDir(out)).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.isDirectory)
      .map(_.getName).toSeq
    assert(dirs2.exists(_.endsWith("__wave2")))
    assert(dirs2.count(_.endsWith("__wave1")) == dirs1.size)
    // read path is label-agnostic: full corpus, bit-identical roundtrip
    assert(ManifestSink.readCommitted(spark, out).count() == 200)
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    intercept[IllegalArgumentException] {
      EncodePipeline.Config(outDir = out, label = "a/b").validated
    }
  }

  test("overwrite: re-commits committed keys under a new run_id; readers see exactly the new data (K6 --overwrite)") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 300)
    val cfg = cfgBase.copy(outDir = out)
    val s1 = EncodePipeline.run(spark, tokens, cfg)
    assert(s1.committed == s1.planned && s1.committed > 1)
    val blobs1 = ManifestSink.readCommitted(spark, out)
      .select(col("doc_id"), xxhash64(col("blob")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // the routine operator need: re-encode after a config change, same sink
    val s2 = EncodePipeline.run(spark, tokens,
      cfg.copy(overwrite = true, parquetCodec = "snappy"))
    assert(s2.runId > s1.runId, s"supersession order: ${s2.runId} !> ${s1.runId}")
    assert(s2.skipped == 0 && s2.committed == s1.planned,
      "overwrite recomputes every planned key, skipping none")

    // readers: exactly the new run's rows — same corpus, zero duplicates,
    // every row carrying the overwriting run_id
    val read = ManifestSink.readCommitted(spark, out)
    assert(read.count() == 300)
    assert(read.select("doc_id").distinct().count() == 300)
    assert(read.select("run_id").distinct().collect().map(_.getString(0)).toSeq
      == Seq(s2.runId))
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    // identical input + deterministic codecs: blob content is unchanged
    val blobs2 = read.select(col("doc_id"), xxhash64(col("blob")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(blobs2 == blobs1)
    // current manifest resolves every key to the overwriting run; the full
    // manifest keeps both runs' history
    val cur = ManifestSink.currentManifest(spark, out)
    assert(cur.select("run_id").distinct().collect().map(_.getString(0)).toSeq
      == Seq(s2.runId))
    assert(cur.agg(sum("n_docs")).collect()(0).getLong(0) == 300)
    assert(ManifestSink.committedManifest(spark, out)
      .select("run_id").distinct().count() == 2)

    // a normal resume run after the overwrite sees nothing to do (the
    // drift guard compares against the WINNING run's counts)
    val s3 = EncodePipeline.run(spark, tokens, cfg)
    assert(s3.committed == 0 && s3.skipped == s3.planned)
    // readCommitted's broadcast guard reads an upper bound off the commit
    // reports; superseded keys loosen it, never push it below the truth
    def boundHolds(): Unit = {
      val current = ManifestSink.currentManifest(spark, out).count()
      assert(ManifestSink.committedKeyBound(out) >= current,
        s"bound ${ManifestSink.committedKeyBound(out)} < $current current keys")
    }
    boundHolds()

    // the superseded first run is reclaimable; readers are unaffected
    assert(ManifestSink.supersededRunIds(spark, out) == Seq(s1.runId))
    val gc = ManifestSink.gcSuperseded(spark, out)
    boundHolds()
    assert(gc.dataFilesDeleted > 0 && gc.manifestDirsDeleted == 1)
    assert(ManifestSink.supersededRunIds(spark, out).isEmpty)
    assert(!ManifestSink.committedRunIds(out).contains(s1.runId))
    assert(ManifestSink.readCommitted(spark, out).count() == 300)
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    // run ids stay monotonic after GC freed the low index (nextRunId is
    // max+1, never count-based — an id reuse would corrupt supersession)
    val s4 = EncodePipeline.run(spark, tokens, cfg.copy(overwrite = true))
    assert(s4.runId > s2.runId)
    boundHolds()

    // overwrite is single-run: runAll refuses it
    intercept[IllegalArgumentException] {
      EncodePipeline.runAll(spark, tokens, cfg.copy(overwrite = true))
    }
  }

  test("sort none: empty sortColumns skips the per-file user sort (K4 --sort none)") {
    val out = freshDir()
    // many mappers + few big bins: the encode shuffle interleaves mapper
    // blocks inside each partition dir, so without the user sort the files
    // cannot all come out doc_id-ascending
    val tokens = Tokens.synthetic(spark, 400, numPartitions = 8)
    val s = EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, targetBinTokens = 1L << 20, saltBuckets = 2,
        sortColumns = Seq.empty))
    assert(s.committed > 0 && s.nDocs == 400)
    // layout still partition-clustered (one dir set, files under their
    // stubs), content exact — only the row ORDER inside files is free
    assert(ManifestSink.readCommitted(spark, out).count() == 400)
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    val perFile = spark.read.parquet(ManifestSink.dataDir(out))
      .select(input_file_name().as("f"), col("doc_id"))
      .collect().groupBy(_.getString(0)).values
    val anyUnsorted = perFile.exists { rows =>
      val ids = rows.map(_.getLong(1)).toSeq
      ids.size > 1 && ids != ids.sorted
    }
    assert(anyUnsorted, "expected at least one file in shuffle order (sort skipped)")
    // the report records the empty sort for replay
    assert(ManifestSink.readCommitSummaries(out).head.contains(""""sort_columns":[]"""))
  }

  test("targetPartitions: partition-count knob derives and pins the bin size (K8 --n-chunks)") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 400)
    val n = 6
    val s = EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, saltBuckets = 2, targetPartitions = n))
    // approximate-N semantics: per-(source,salt) binning rounds each group
    // up, so the count lands in [N, N + groups)
    val groups = tokens.select("source").distinct().count() * 2
    assert(s.committed >= n && s.committed < n + groups,
      s"committed ${s.committed} for targetPartitions=$n (${groups} groups)")
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    // the DERIVED bin size is pinned: ceil(totalTokens / N)
    val total = tokens.agg(sum(col("n_tok").cast("long"))).collect()(0).getLong(0)
    val expectBin = (total + n - 1) / n
    assert(ManifestSink.pinnedPlanConfig(out).contains((2, expectBin)))
    // resume under the same knob reuses the pin: everything skips
    val again = EncodePipeline.run(spark, tokens,
      cfgBase.copy(outDir = out, saltBuckets = 2, targetPartitions = n))
    assert(again.committed == 0 && again.skipped == again.planned)
    // and the report's target_bin_tokens is the derived value (replayable)
    assert(ManifestSink.readCommitSummaries(out).head
      .contains(s""""target_bin_tokens":$expectBin"""))
    intercept[IllegalArgumentException] {
      EncodePipeline.Config(outDir = out, targetPartitions = -1).validated
    }
  }

  test("prefix-scoped overwrite: supersedes only its own prefix; unprefixed overwrite guards loudly") {
    val out = freshDir()
    val w1 = Tokens.synthetic(spark, 120)
    val w2 = Tokens.synthetic(spark, 200).filter(col("doc_id") >= 120)
    val cfg = cfgBase.copy(outDir = out)
    val a = EncodePipeline.run(spark, w1, cfg.copy(partPrefix = "b1"))
    val b = EncodePipeline.run(spark, w2, cfg.copy(partPrefix = "b2"))
    assert(ManifestSink.readCommitted(spark, out).count() == 200)
    // scoped overwrite touches only its own prefix's keys: b2's data is
    // not a ghost risk and must not trip the coverage guard
    val a2 = EncodePipeline.run(spark, w1,
      cfg.copy(partPrefix = "b1", overwrite = true))
    assert(a2.skipped == 0)
    assert(ManifestSink.readCommitted(spark, out).count() == 200)
    assert(ManifestSink.supersededRunIds(spark, out) == Seq(a.runId))
    assert(ManifestSink.readCommitted(spark, out)
      .filter(col("run_id") === b.runId).count() > 0, "b2 untouched")
    // an UNprefixed overwrite on the mixed sink cannot claim the prefixed
    // keys — the guard fires instead of silently ghosting them
    val e = intercept[IllegalStateException] {
      EncodePipeline.run(spark, w1, cfg.copy(overwrite = true))
    }
    assert(e.getMessage.contains("coverage guard"), e.getMessage)
  }

  test("gcSuperseded crash window: half-collected markers reaped, empty commits kept") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 150)
    val cfg = cfgBase.copy(outDir = out)
    val s1 = EncodePipeline.run(spark, tokens, cfg)
    val s2 = EncodePipeline.run(spark, tokens, cfg.copy(overwrite = true))
    val s3 = EncodePipeline.run(spark, tokens, cfg.copy(overwrite = true))
    // simulate a GC killed between the manifest-dir delete and the marker
    // delete: s1's manifest dir is gone, its marker left
    val mdir = java.nio.file.Paths.get(ManifestSink.manifestDir(out), s"run_id=${s1.runId}")
    val walk = java.nio.file.Files.walk(mdir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
    // s1 now has zero manifest rows, so supersession can't classify it;
    // s2, overwritten by s3, is superseded
    assert(ManifestSink.supersededRunIds(spark, out) == Seq(s2.runId))
    val doomedFiles = spark.read.parquet(ManifestSink.dataDir(out))
      .filter(col("run_id").isin(s1.runId, s2.runId))
      .select(input_file_name()).distinct().count()
    assert(doomedFiles > 0)
    // ...but the sweep recognizes s1's shape (report says committed > 0,
    // manifest dir absent) and reaps its leaked marker AND its stranded
    // data files (nothing else could ever reclaim them: no marker, no
    // error report, no inflight marker) in the same pass as s2: both
    // markers, s2's manifest dir, both runs' data files
    val gcr = ManifestSink.gcSuperseded(spark, out)
    assert(gcr == ManifestSink.GcReport(dataFilesDeleted = doomedFiles.toInt,
      manifestDirsDeleted = 1, markersCleared = 2, tempDirsDeleted = 0), gcr.toString)
    assert(ManifestSink.committedRunIds(out) == Seq(s3.runId))
    assert(ManifestSink.readCommitted(spark, out).count() == 150)
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    // a deliberately-empty commit (committed = 0) is history, not residue
    val s4 = EncodePipeline.run(spark, tokens, cfg)
    assert(s4.committed == 0)
    ManifestSink.gcSuperseded(spark, out)
    assert(ManifestSink.committedRunIds(out).contains(s4.runId))
    assert(ManifestSink.committedRunIds(out).contains(s3.runId))
  }

  test("overwrite is all-or-nothing: bounded overwrite refused; shrunk input fails the coverage guard") {
    val out = freshDir()
    val tokens = Tokens.synthetic(spark, 300)
    val cfg = cfgBase.copy(outDir = out)
    val s1 = EncodePipeline.run(spark, tokens, cfg)
    assert(s1.planned > 2)
    // a bounded overwrite re-selects the same leading keys every run —
    // no completion path — so the composition is refused up front
    intercept[IllegalArgumentException] {
      EncodePipeline.run(spark, tokens,
        cfg.copy(overwrite = true, maxPartitionsPerRun = 2))
    }
    // coverage guard: an input that lost its tail plans FEWER keys; the
    // absent committed keys' old rows would silently stay visible next to
    // the re-encoded corpus, so the run must fail loudly instead
    val shrunk = tokens.filter(col("doc_id") < 100)
    val e = intercept[IllegalStateException] {
      EncodePipeline.run(spark, shrunk, cfg.copy(overwrite = true))
    }
    assert(e.getMessage.contains("coverage guard"), e.getMessage)
    // nothing superseded, nothing lost: the sink still reads run 1 exactly
    assert(ManifestSink.readCommitted(spark, out).count() == 300)
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    // a GROWN input is covered (planned ⊇ committed): overwrite proceeds
    val grown = Tokens.synthetic(spark, 400)
    val s2 = EncodePipeline.run(spark, grown, cfg.copy(overwrite = true))
    assert(s2.skipped == 0 && s2.nDocs == 400)
    assert(ManifestSink.readCommitted(spark, out).count() == 400)
    assert(EncodePipeline.verifyRoundtrip(spark, grown, out) == 0)
    assert(ManifestSink.supersededRunIds(spark, out) == Seq(s1.runId))
  }
}
