package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality assertions (the "is this the plan you'd want at 100 TB"
  * checks): filters and projections must reach the parquet scan, small
  * sides must broadcast, and hot paths must stay inside whole-stage
  * codegen.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private val dir = "/root/testdata/sf0.01"

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter_source pushes the source predicate into the parquet scan") {
    val plan = formatted(SparkEntry.queries("filter_source")(spark, dir))
    assert(plan.contains("PushedFilters: [") && plan.contains("In(source"), plan)
  }

  test("project_prune reads only the needed column from parquet") {
    val plan = formatted(SparkEntry.queries("project_prune")(spark, dir))
    // n_tok is derived from doc_id; text/lang/n_chars must not be read
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"), plan)
  }

  test("codec roundtrip query reads only doc_id (tokens are derived)") {
    val plan = formatted(SparkEntry.queries("codec_auto_roundtrip")(spark, dir))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"), plan)
    // per-row derive→encode→decode→checksum is pure map work: no exchange
    // anywhere in the plan
    assert(!plan.contains("Exchange"), plan)
    // and since round 2 the WHOLE chain fuses into one codegen stage: the
    // generator, codecs and checksum are all native `doGenCode` kernels
    // (the round-1 interpreted-HOF checksum used to break the fusion)
    val simple = SparkEntry.queries("codec_auto_roundtrip")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(simple.contains("*(1) Project"), simple)
  }

  test("resume ledger: one hashed join of slim key tables, one partition under its guard") {
    import graft.pipeline.EncodePipeline
    import graft.sinks.ManifestSink
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val tokens = graft.sources.Tokens.synthetic(spark, 100)
    val out = java.nio.file.Files.createTempDirectory("graft-plan").toString
    val cfg = EncodePipeline.Config(outDir = out, targetBinTokens = 4096)
    EncodePipeline.run(spark, tokens, cfg)
    val planned = EncodePipeline.plan(tokens, cfg)
    def ledger(limit: Long) = EncodePipeline.resumeLedger(spark, out, planned,
      freshSink = false, keyLimit = limit)
    def tree(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => tree(a.executedPlan)
      case _ => p.children.flatMap(tree)
    })
    // the planned partition count (inside adaptive execution, the plan it
    // starts from)
    def partitions(df: org.apache.spark.sql.DataFrame) = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).outputPartitioning.numPartitions
    val small = ledger(ManifestSink.BroadcastKeyLimit)
    val nodes = tree(small.queryExecution.executedPlan)
    // the join is hashed on part_key, never sort-merge
    val joins = nodes.collect { case j: ShuffledHashJoinExec => j }
    assert(joins.size == 1, formatted(small))
    assert(joins.head.leftKeys.flatMap(_.references.map(_.name)) == Seq("part_key"))
    assert(!formatted(small).contains("SortMergeJoin"), formatted(small))
    // slim: no operator reads or carries a token or blob column
    val columns = nodes.flatMap(n => n.output ++ n.references).map(_.name).toSet
    assert(!columns.contains("tokens") && !columns.contains("blob"), columns)
    // the guard reads its estimate off the commit reports (no count job):
    // committed keys plus the newest run's planned keys; at the estimate
    // the ledger is one partition, one key under it the join keeps its
    // shuffle partitioning
    val nKeys = ManifestSink.currentManifest(spark, out).count()
    val estimate = ManifestSink.resumeKeyEstimate(out)
    assert(estimate == 2 * nKeys)
    assert(partitions(small) == 1 && partitions(ledger(estimate)) == 1)
    val big = ledger(estimate - 1)
    assert(partitions(big) > 1, formatted(big))
    assert(formatted(big).contains("ShuffledHashJoin") && !formatted(big).contains("SortMergeJoin"))
    // both sides hold the same rows: every key planned and committed
    Seq(small, big).foreach { l =>
      assert(l.count() == nKeys)
      assert(l.filter(col("n_planned") === col("n_committed")).count() == nKeys)
    }
    // a fresh sink has no reports: the plan's counts in their own partitioning
    val fresh = EncodePipeline.resumeLedger(spark, "unused", planned, freshSink = true)
    assert(partitions(fresh) > 1 && !formatted(fresh).contains("Join"), formatted(fresh))
  }

  test("snapshot reader: broadcast under the key limit, hashed shuffle past it, never SMJ") {
    val tokens = graft.sources.Tokens.synthetic(spark, 150)
    val out = java.nio.file.Files.createTempDirectory("graft-plan-read").toString
    graft.pipeline.EncodePipeline.run(spark, tokens,
      graft.pipeline.EncodePipeline.Config(outDir = out, targetBinTokens = 4096))
    // small committed-key set → broadcast semi-join
    val small = formatted(graft.sinks.ManifestSink.readCommitted(spark, out))
    assert(small.contains("BroadcastHashJoin"), small)
    assert(small.contains("LeftSemi"), small)
    // past the limit (simulated with limit=0): shuffled HASH join — an SMJ
    // here would sort the heavy blob side (the documented 4× regression)
    val big = formatted(
      graft.sinks.ManifestSink.readCommitted(spark, out, broadcastKeyLimit = 0))
    assert(big.contains("ShuffledHashJoin"), big)
    assert(big.contains("LeftSemi"), big)
    assert(!big.contains("SortMergeJoin"), big)
    // the guard reads its key count off the commit reports (no count job):
    // on a single-run sink the bound is exact, and the limit cuts at it
    val bound = graft.sinks.ManifestSink.committedKeyBound(out)
    assert(bound == graft.sinks.ManifestSink.currentManifest(spark, out).count())
    assert(formatted(graft.sinks.ManifestSink.readCommitted(spark, out,
      broadcastKeyLimit = bound)).contains("BroadcastHashJoin"))
    val below = formatted(graft.sinks.ManifestSink.readCommitted(spark, out,
      broadcastKeyLimit = bound - 1))
    assert(below.contains("ShuffledHashJoin") && !below.contains("BroadcastHashJoin"), below)
    // run filter: a static isin literal for few runs (no join in the plan),
    // a semi-join against the runs table past the run limit
    val isin = formatted(graft.sinks.ManifestSink.committedManifest(spark, out))
    assert(!isin.contains("Join"), isin)
    val joined = formatted(
      graft.sinks.ManifestSink.committedManifest(spark, out, isinRunLimit = 0))
    assert(joined.contains("LeftSemi") && joined.contains("BroadcastHashJoin"), joined)
  }

  test("encode join hashes the metadata side and never sorts the arrays") {
    val spark0 = spark
    graft.functions.GraftFunctions.register(spark0)
    val tokens = graft.sources.Tokens.synthetic(spark0, 200)
    val cfg = graft.pipeline.EncodePipeline.Config(outDir = "unused")
    val docKeys = graft.pipeline.EncodePipeline.plan(tokens, cfg)
      .select("doc_id", "salt", "bin", "part_key")
    val joined = tokens.join(docKeys.hint("SHUFFLE_HASH"), Seq("doc_id"))
      .withColumn("blob", expr("encode_auto(tokens)"))
      .drop("tokens")
      .repartition(col("part_key"))
    val plan = formatted(joined)
    assert(plan.contains("ShuffledHashJoin"), plan)
    // a SortMergeJoin would sort the heavy array side before the exchange
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("scan_tokens aggregation is two-phase (partial before the exchange)") {
    val plan = formatted(SparkEntry.queries("scan_tokens")(spark, dir))
    // HashAggregate(partial) -> Exchange -> HashAggregate(final): map-side
    // combine bounds the shuffle by |sources|, not |docs|
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0, plan)
    assert(plan.contains("partial_"), plan)
  }

  test("trace_frames: generator runs in place — no exchange, codegen'd scan side") {
    val plan = formatted(SparkEntry.queries("trace_frames")(spark, dir))
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("dedup_verified: capped candidate path never sort-merge-joins the gram sets") {
    val plan = formatted(SparkEntry.queries("dedup_verified")(spark, dir))
    assert(!plan.contains("SortMergeJoin"), plan)
    // one bucket-stats window, not one per branch (the anchor⨝member shape)
    assert("Window".r.findAllIn(
      SparkEntry.queries("dedup_verified")(spark, dir)
        .queryExecution.executedPlan.toString).length == 1, plan)
    // the same single-window shape asserted on the candidate stage directly
    val sig = graft.ops.Dedup.withMinhash(
      spark.read.parquet(s"$dir/documents.parquet")).select("doc_id", "minhash")
    val candPlan = graft.ops.Dedup.minhashCandidatesFromSig(sig)
      .queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(candPlan).length == 1, candPlan)
  }

  test("ivf assignment broadcasts the centroid model") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Ann.ivfTopK(e, e.filter(col("vec_id") < 5), k = 2,
      nCentroids = 4, nProbes = 2, iters = 1)
    val plan = formatted(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("ann brute force broadcasts the probe side") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Ann.bruteForceTopK(e, e.filter(col("vec_id") < 20), k = 1)
    val plan = formatted(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }
}
