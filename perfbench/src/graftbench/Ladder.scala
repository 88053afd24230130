package graftbench

import graft.codec.{CodecSelector, Codecs}
import graft.pipeline.EncodePipeline
import graft.sinks.ManifestSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The per-layer ladder of a traced run: codec → sources → functions →
  * pipeline → sinks → ops, each timed around calls into that module's
  * public functions from here, with the Tracer folding the Spark jobs of
  * each call. Every traced run measures every layer on the seed's token
  * window, warming a layer first where the workload's own set-up did not.
  * The `streaming`, `plans` and `util` modules are not measured.
  */
object Ladder {
  /** Row profiles of Tokens.synthetic, indexed by doc_id % 6. */
  val Profiles: Seq[String] = Seq("runs", "lowcard", "narrow", "sorted", "stringy", "random")

  val PipelinePhases: Seq[String] = Seq("salt", "committed_read", "plan",
    "resume_join", "drift_guard", "data_write", "manifest_write", "totals")

  val MetricNames: Seq[String] =
    Seq("encode_ns_per_tok", "decode_ns_per_tok", "blob_bytes_per_tok").flatMap(m =>
      Profiles.map(p => s"codec.$m.$p")) ++
    Seq("sources.synthetic_tok_s",
      "functions.encode_auto_tok_s", "functions.decode_tokens_tok_s") ++
    PipelinePhases.map(p => s"pipeline.${p}_s") ++
    Seq("pipeline.driver_s", "pipeline.dry_run_s",
      "pipeline.jobs", "pipeline.tasks", "pipeline.shuffle_write_mb",
      "pipeline.spill_mb", "pipeline.gc_s", "pipeline.task_skew", "pipeline.codegen_classes",
      "pipeline.blob_bytes_per_tok",
      "sinks.current_manifest_s", "sinks.read_committed_s", "sinks.data_files",
      "sinks.committed_runs", "sinks.disk_bytes_per_tok") ++
    Ops.Operators.map(o => s"ops.${o}_s") ++
    Seq("ops.jobs", "ops.shuffle_write_mb", "ops.retained_mb_after_gc",
      "trace.overhead_s")

  /** Docs of the window's head collected for the pure-JVM codec layer. */
  val CodecSampleDocs = 600
  val Reps = 3

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

final class Ladder(spark: SparkSession, report: Report, tracer: Tracer,
    input: DataFrame, inputSums: Main.Sums, work: String, seed: Long, docs: Long,
    coldClasses: Option[Double], opsPass: Boolean => Unit) {
  import Ladder._
  import Main.secs

  /** (layer, start, end) in driver epoch ms, kept for the trace file. */
  private val layers = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def layer[A](name: String)(f: => A): A = {
    val t0 = System.currentTimeMillis()
    try f finally layers += ((name, t0, System.currentTimeMillis()))
  }

  /** Runs every layer, then writes the spans it kept in memory. */
  def run(traceFile: java.nio.file.Path): Unit = {
    layer("codec")(codec())
    layer("sources")(sources())
    layer("functions")(functions())
    val sink = layer("pipeline")(pipeline())
    layer("sinks")(sinks(sink))
    layer("ops")(ops())
    tracer.dump(traceFile, layers.toSeq)
  }

  private def exhaust(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def medianOf(reps: Int)(f: => Double): Double = Report.median((1 to reps).map(_ => f))

  /** Pure JVM, one thread, warmed: CodecSelector.encodeAuto and
    * Codecs.decode over arrays from the window's head, per row profile.
    */
  private def codec(): Unit = {
    val lo = Main.windowStart(seed)
    val rows = input.filter(col("doc_id") < lo + CodecSampleDocs)
      .select("doc_id", "tokens").collect()
    for ((p, i) <- Profiles.zipWithIndex) {
      val arrs = rows.filter(r => Math.floorMod(r.getLong(0), 6L) == i)
        .map(_.getSeq[Int](1).toArray)
      val toks = arrs.map(_.length.toLong).sum
      var blobs = arrs.map(CodecSelector.encodeAuto)
      val back = blobs.map(Codecs.decode)
      Check.that(arrs.indices.forall(j => java.util.Arrays.equals(arrs(j), back(j))),
        s"codec roundtrip on profile $p")
      // time whole passes over the profile's arrays until ~50 ms has run
      def nsPerTok(f: => Unit): Double = {
        for (_ <- 1 to 3) f
        medianOf(5) {
          val t0 = System.nanoTime()
          var n = 0L
          while (System.nanoTime() - t0 < 50000000L) { f; n += 1 }
          (System.nanoTime() - t0).toDouble / (n * toks)
        }
      }
      report.add(s"codec.encode_ns_per_tok.$p", "ns/tok",
        nsPerTok { blobs = arrs.map(CodecSelector.encodeAuto) })
      report.add(s"codec.decode_ns_per_tok.$p", "ns/tok",
        nsPerTok { blobs.foreach(Codecs.decode) })
      report.add(s"codec.blob_bytes_per_tok.$p", "B/tok", blobs.map(_.length.toLong).sum.toDouble / toks)
    }
  }

  /** Tokens.synthetic over the seed's window, materialized through noop. */
  private def sources(): Unit = {
    val v = medianOf(Reps) {
      val t0 = System.nanoTime()
      exhaust(Main.tokenWindow(spark, seed, docs))
      inputSums.tokens / secs(t0)
    }
    report.add("sources.synthetic_tok_s", "tok/s", v)
  }

  /** encode_auto / decode_tokens inside their codegen stage, over a cached
    * frame at local[4].
    */
  private def functions(): Unit = {
    val enc = input.select(expr("encode_auto(tokens)"))
    exhaust(enc)
    report.add("functions.encode_auto_tok_s", "tok/s", medianOf(Reps) {
      val t0 = System.nanoTime(); exhaust(enc); inputSums.tokens / secs(t0)
    })
    val blobs = input.select(expr("encode_auto(tokens)").as("blob")).cache()
    blobs.count()
    val dec = blobs.select(expr("decode_tokens(blob)"))
    exhaust(dec)
    report.add("functions.decode_tokens_tok_s", "tok/s", medianOf(Reps) {
      val t0 = System.nanoTime(); exhaust(dec); inputSums.tokens / secs(t0)
    })
    blobs.unpersist(true)
  }

  /** A traced fresh run and a traced no-op resume of it, folded by phase,
    * between two untraced fresh runs (the traced run minus their mean is
    * the tracing overhead, with the warm-up trend cancelled); then a dry
    * run. Returns the traced run's sink.
    */
  private def pipeline(): String = {
    val phases = new PhaseOf(System.getProperty("user.dir"))
    def untraced(): Double = {
      val plain = s"$work/sinks/ladder-plain"
      val t = System.nanoTime()
      EncodePipeline.run(spark, input, Main.pipelineConfig(plain))
      try secs(t) finally Main.deleteTree(plain)
    }
    var before = 0.0
    // the set-up's first fresh encode counted the run's classes, unless the
    // workload (ops_session) had none: then this is the first
    val compiled = Main.compilesDuring { before = untraced() }
    report.add("pipeline.codegen_classes", "count", coldClasses.getOrElse(compiled))
    val sink = s"$work/sinks/ladder"
    val gc0 = gcSeconds()
    tracer.attach()
    val t0 = System.currentTimeMillis()
    val fresh = EncodePipeline.run(spark, input, Main.pipelineConfig(sink))
    val t1 = System.currentTimeMillis()
    val resume = EncodePipeline.run(spark, input, Main.pipelineConfig(sink))
    val t2 = System.currentTimeMillis()
    val gc = gcSeconds() - gc0
    val f1 = tracer.fold(t0, t1, phases(_))
    val f2 = tracer.fold(t1, t2, phases(_))
    tracer.detach()
    report.add("trace.overhead_s", "s", (t1 - t0) / 1e3 - (before + untraced()) / 2)
    Check.that(fresh.committed == fresh.planned && fresh.nTokens == inputSums.tokens,
      s"ladder fresh run: $fresh")
    Check.that(resume.committed == 0 && resume.skipped == resume.planned,
      s"ladder no-op resume: $resume")

    for (p <- PipelinePhases :+ "other") {
      val ms = f1.phaseMs.getOrElse(p, 0L) + f2.phaseMs.getOrElse(p, 0L)
      report.add(s"pipeline.${p}_s", "s", ms / 1e3)
    }
    report.add("pipeline.driver_s", "s", (f1.driverMs + f2.driverMs) / 1e3)
    report.add("pipeline.jobs", "count", (f1.jobs.size + f2.jobs.size).toDouble)
    report.add("pipeline.tasks", "count", (f1.tasks.size + f2.tasks.size).toDouble)
    report.add("pipeline.shuffle_write_mb", "MB", f1.shuffleWriteMb + f2.shuffleWriteMb)
    report.add("pipeline.spill_mb", "MB", f1.spillMb + f2.spillMb)
    report.add("pipeline.gc_s", "s", gc)
    // skew of the fresh run's data-write job: its last job is the write
    val writeJob = f1.jobs.filter(j => f1.phaseOfJob(j.jobId) == "data_write").sortBy(_.jobId).lastOption
    val durs = writeJob.toSeq.flatMap(j => f1.tasks.filter(_.jobId == j.jobId).map(_.durationMs.toDouble))
    report.add("pipeline.task_skew", "ratio",
      if (durs.isEmpty) 0.0 else durs.max / math.max(1.0, Report.median(durs)))
    report.add("pipeline.blob_bytes_per_tok", "B/tok", fresh.encodedBytes.toDouble / fresh.nTokens)
    // a job the anchors do not place would make its phase look faster
    val unplaced = (f1.jobs ++ f2.jobs).filter(j =>
      f1.phaseOfJob.getOrElse(j.jobId, f2.phaseOfJob.getOrElse(j.jobId, "")) == "other")
    val otherMs = f1.phaseMs.getOrElse("other", 0L) + f2.phaseMs.getOrElse("other", 0L)
    report.op("pipeline attribution") {
      Check.that(unplaced.isEmpty && otherMs == 0, s"${otherMs} ms in executions and jobs " +
        "outside every PhaseOf anchor: " + unplaced.map(_.callSite).distinct.mkString("; "))
    }
    val named = PipelinePhases.map(p => f1.phaseMs.getOrElse(p, 0L)).sum
    println(f"[graftbench] fresh run: wall ${f1.wallMs / 1e3}%.3f s, phases + driver cover " +
      f"${100.0 * (named + f1.driverMs) / math.max(1L, f1.wallMs)}%.1f%% (other ${f1.phaseMs.getOrElse("other", 0L) / 1e3}%.3f s)")

    val td = System.nanoTime()
    val dry = EncodePipeline.run(spark, input, Main.pipelineConfig(s"$work/sinks/ladder-dry", dryRun = true))
    report.add("pipeline.dry_run_s", "s", secs(td))
    Check.that(dry.committed == 0 && dry.planned == fresh.planned, s"dry run plans the same parts: $dry")
    sink
  }

  /** Manifest and committed-data reads of the ladder's sink (no decode). */
  private def sinks(sink: String): Unit = {
    report.add("sinks.current_manifest_s", "s", medianOf(Reps) {
      val t = System.nanoTime(); ManifestSink.currentManifest(spark, sink).count(); secs(t)
    })
    report.add("sinks.read_committed_s", "s", medianOf(Reps) {
      val t = System.nanoTime()
      val n = ManifestSink.readCommitted(spark, sink).count()
      Check.that(n == inputSums.docs, s"readCommitted rows $n == ${inputSums.docs}")
      secs(t)
    })
    val (files, bytes) = Main.parquetBytes(ManifestSink.dataDir(sink))
    report.add("sinks.data_files", "count", files.toDouble)
    report.add("sinks.committed_runs", "count", ManifestSink.committedRunIds(sink).size.toDouble)
    report.add("sinks.disk_bytes_per_tok", "B/tok", bytes.toDouble / inputSums.tokens)
  }

  /** Storage memory the block manager holds, after a forced GC has let the
    * ContextCleaner drop what nothing references any more. The ladder's own
    * input cache is dropped first, so what remains is what the library
    * left behind.
    */
  private def retainedMbAfterGc(): Double = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(500) }
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }
      .sum / 1048576.0
  }

  /** One traced pass over the ten operators: the session's first unless
    * the workload is ops_session, whose set-up warmed them.
    */
  private def ops(): Unit = {
    input.unpersist(true)
    tracer.attach()
    val t0 = System.currentTimeMillis()
    opsPass(true)
    val f = tracer.fold(t0, System.currentTimeMillis(), _ => "ops")
    tracer.detach()
    report.add("ops.jobs", "count", f.jobs.size.toDouble)
    report.add("ops.shuffle_write_mb", "MB", f.shuffleWriteMb)
    report.add("ops.retained_mb_after_gc", "MB", retainedMbAfterGc())
  }
}
