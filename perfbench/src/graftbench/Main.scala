package graftbench

import graft.functions.GraftFunctions
import graft.pipeline.EncodePipeline
import graft.sinks.ManifestSink
import graft.sources.Tokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** graft's benchmark: three closed-loop workloads (one client; each
  * operation starts when the previous one ends) in one JVM at local[4].
  *
  *  - encode_fresh: the write path. EncodePipeline.run of the seed's token
  *    window into a fresh sink.
  *  - sink_reread: the same sink layer read back. A no-op resume over an
  *    already committed sink, then a decoded read, from a pristine copy.
  *  - ops_session: one long-lived session running ten operators through
  *    SparkEntry.queries; almost no codec or pipeline work.
  *
  * With --trace 0 it reports the end-to-end metrics; with --trace 1 it runs
  * the per-layer ladder (Ladder) with a SparkListener attached.
  */
object Main {

  val Cores = 4
  val ShufflePartitions = 8
  /** Spark's generated-code cache. At its default of 100 entries it thrashes
    * on this pipeline: one EncodePipeline.run generates about 105 classes,
    * so every run compiled 55–77 of them again and the JIT never settled
    * (op times kept a ±10% churn for minutes). With room for the whole
    * working set a warm run compiles none; pipeline.codegen_classes keeps
    * the run's class count visible.
    */
  val CodegenCacheEntries = 1000
  /** Docs per token window: the seed picks [w·10^7, w·10^7 + docs). */
  val FullDocs = 8000L
  val TinyDocs = 300L
  val WindowStride = 10000000L
  /** Seeds map onto this many windows, which bounds the id range scanned. */
  val Windows = 16
  val MinOps = 4
  /** Untimed operations before the loop (sink_reread's pristine encode
    * comes on top of its own). Op times fall for about eight operations of
    * a JVM while the JIT compiles the driver-side paths; five take off the
    * steepest part, and a run's time budget allows no more.
    */
  val Warmups = 5

  /** End-to-end metrics of the token workloads (ops_session has no sink,
    * so it reports only the first two).
    */
  val EndToEnd = Seq("op_s", "setup_s", "blob_bytes_per_tok", "disk_bytes_per_tok")

  final case class Args(root: String, work: String, workload: String,
      seed: Long, seconds: Double, trace: Boolean, selfcheck: Boolean, train: Boolean)

  private def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(kv("--root"), kv("--work"), kv.getOrElse("--workload", ""),
      kv.getOrElse("--seed", "0").toLong, kv.getOrElse("--seconds", "12").toDouble,
      kv.getOrElse("--trace", "0") == "1", a.contains("--selfcheck"), a.contains("--train"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    val code =
      try {
        if (a.selfcheck) SelfCheck.run(spark, a)
        else if (a.train) train(spark, a.work)
        else new Bench(spark, a, jvmStartMs).run()
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally spark.stop()
    System.exit(code)
  }

  /** What the build's class-data archive records: a fresh encode, a no-op
    * resume and a decoded read of the tiny window.
    */
  def train(spark: SparkSession, work: String): Int = {
    val input = tokenWindow(spark, 0, TinyDocs).cache()
    val want = sums(input)
    val sink = s"$work/sinks/train"
    for (_ <- 1 to 2) EncodePipeline.run(spark, input, pipelineConfig(sink))
    if (decodedSums(spark, sink) == want) 0 else 1
  }

  // ---------------------------------------------------------------- inputs

  final case class Sums(docs: Long, tokens: Long, checksum: Long)

  def windowStart(seed: Long): Long = Math.floorMod(seed, Windows.toLong) * WindowStride

  /** Tokens.synthetic rows with doc_id in the seed's window, hash-spread
    * over the shuffle partitions (the window sits in one range split).
    */
  def tokenWindow(spark: SparkSession, seed: Long, nDocs: Long): DataFrame = {
    val lo = windowStart(seed)
    Tokens.synthetic(spark, lo + nDocs)
      .filter(col("doc_id") >= lo)
      .repartition(ShufflePartitions, col("doc_id"))
  }

  /** The library's default pipeline configuration. */
  def pipelineConfig(outDir: String, dryRun: Boolean = false): EncodePipeline.Config =
    EncodePipeline.Config(outDir = outDir, dryRun = dryRun)

  def sums(df: DataFrame): Sums = {
    val r = df.agg(count(lit(1)), coalesce(sum(size(col("tokens")).cast("long")), lit(0L)),
      coalesce(sum(expr("token_checksum(tokens)")), lit(0L))).collect()(0)
    Sums(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The decoded read of a sink: readDecoded, token count and checksum. */
  def decodedSums(spark: SparkSession, sink: String): Sums =
    sums(EncodePipeline.readDecoded(spark, sink))

  def parquetBytes(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f => f.getFileName.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f: Path =>
      val t = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Classes Spark's code generator has compiled in this JVM so far. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `f` and returns the classes compiled meanwhile. */
  def compilesDuring(f: => Unit): Double = {
    val c0 = codegenCompiles()
    f
    (codegenCompiles() - c0).toDouble
  }
}

/** One benchmark process: set-up, then the timed closed loop (or, traced,
  * the per-layer ladder).
  */
final class Bench(spark: SparkSession, a: Main.Args, jvmStartMs: Long,
    docs: Long = Main.FullDocs) {
  import Main._

  private val work = a.work
  private val report = new Report(
    s"workload=${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"master=local[$Cores] shuffle_partitions=$ShufflePartitions " +
      s"codegen_cache_entries=$CodegenCacheEntries " +
      s"window=[${windowStart(a.seed)}, ${windowStart(a.seed) + docs}) closed_loop_clients=1")
  private var sinkSeq = 0
  private def freshSink(): String = { sinkSeq += 1; s"$work/sinks/s$sinkSeq" }

  // set-up products
  private var input: DataFrame = _
  private var inputSums: Sums = _
  private var pristine: String = _
  private var pristineRuns = 0
  private var pristineBytes = (0.0, 0.0)
  /** Classes compiled by the set-up's first fresh encode (the run's own
    * generated classes, less those the input build had compiled already).
    */
  private var coldClasses: Option[Double] = None
  private val opsDir = Paths.get(a.root, Ops.DataDir).toString

  /** Builds and caches the token workloads' input and its sums. */
  private def prepare(): Unit = {
    input = tokenWindow(spark, a.seed, docs).cache()
    inputSums = sums(input)
  }

  def run(): Int = {
    // set-up, split in the report lines: JVM and session, input, warm-up
    var mark = jvmStartMs
    def step(name: String): Unit = {
      val now = System.currentTimeMillis()
      report.add(s"setup.${name}_s", "s", (now - mark) / 1e3)
      mark = now
    }
    step("session")
    if (a.workload != "ops_session") prepare()
    step("input")
    // opFn(record): one operation; warm-ups record nothing
    val opFn: Boolean => Unit = a.workload match {
      case "encode_fresh" =>
        coldClasses = Some(compilesDuring(encodeOnce(record = false)))
        for (_ <- 2 to Warmups) encodeOnce(record = false)
        encodeOnce
      case "sink_reread" =>
        pristine = s"$work/sinks/pristine"
        var pristineBlobBytes = Double.NaN
        coldClasses = Some(compilesDuring(report.op("build pristine sink") {
          val s = EncodePipeline.run(spark, input, Main.pipelineConfig(pristine))
          Check.that(s.committed == s.planned && s.nTokens == inputSums.tokens,
            s"pristine sink commit: $s")
          pristineBlobBytes = s.encodedBytes.toDouble
        }))
        pristineRuns = ManifestSink.committedRunIds(pristine).size
        pristineBytes = (pristineBlobBytes / inputSums.tokens,
          parquetBytes(ManifestSink.dataDir(pristine))._2.toDouble / inputSums.tokens)
        for (_ <- 1 to Warmups) rereadOnce(record = false)
        rereadOnce
      case "ops_session" =>
        opsPass(record = false)
        opsPass
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    step("warmup")
    // set-up, as measured: from JVM start to the first timed operation
    report.add("setup_s", "s", (System.currentTimeMillis() - jvmStartMs) / 1e3)

    if (a.trace) {
      val tracer = new Tracer(spark.sparkContext)
      traced(tracer)
    } else {
      val t0 = System.nanoTime()
      var n = 0
      while (n < MinOps || secs(t0) < a.seconds) { opFn(true); n += 1 }
    }
    val names =
      if (a.trace) Ladder.MetricNames
      else if (a.workload == "ops_session") Seq("op_s", "setup_s")
      else Main.EndToEnd
    val missing = names.filterNot(report.has)
    report.printLines()
    if (missing.nonEmpty) {
      System.err.println(s"[graftbench] no successful sample for: ${missing.mkString(", ")}")
      return 1
    }
    println(report.json(names))
    0
  }

  /** The per-layer ladder, on the seed's token window; its spans go to
    * .bench_build/traces/<workload>-seed<seed>.jsonl when it ends.
    */
  private def traced(tracer: Tracer): Unit = {
    if (input == null) prepare()
    new Ladder(spark, report, tracer, input, inputSums, work, a.seed, docs, coldClasses, opsPass)
      .run(Paths.get(a.root, ".bench_build", "traces", s"${a.workload}-seed${a.seed}.jsonl"))
  }

  // ------------------------------------------------------------ operations

  private def encodeOnce(record: Boolean): Unit = {
    val sink = freshSink()
    report.op("encode_fresh") {
      val t0 = System.nanoTime()
      val s = EncodePipeline.run(spark, input, Main.pipelineConfig(sink))
      val dt = secs(t0)
      Check.that(s.committed == s.planned && s.skipped == 0 && s.committed > 0,
        s"fresh encode commits every planned part: $s")
      Check.that(s.nDocs == inputSums.docs && s.nTokens == inputSums.tokens,
        s"fresh encode covers the input: $s vs $inputSums")
      if (record) {
        val back = decodedSums(spark, sink)
        Check.that(back == inputSums, s"decoded sums $back == input $inputSums")
        report.add("op_s", "s", dt)
        report.add("encode_tok_s", "tok/s", inputSums.tokens / dt)
        report.add("blob_bytes_per_tok", "B/tok", s.encodedBytes.toDouble / s.nTokens)
        report.add("disk_bytes_per_tok", "B/tok",
          parquetBytes(ManifestSink.dataDir(sink))._2.toDouble / inputSums.tokens)
      }
    }
    deleteTree(sink)
  }

  private def rereadOnce(record: Boolean): Unit = {
    val live = s"$work/sinks/live"
    report.op("sink_reread") {
      // identical starting state: a no-op resume commits an empty run, and
      // past ManifestSink.IsinRunLimit runs the manifest filter changes plan
      deleteTree(live)
      copyTree(pristine, live)
      val runs = ManifestSink.committedRunIds(live).size
      Check.that(runs == pristineRuns, s"restored sink has $runs committed runs, not $pristineRuns")
      val t0 = System.nanoTime()
      val s = EncodePipeline.run(spark, input, Main.pipelineConfig(live))
      val resumeS = secs(t0)
      val t1 = System.nanoTime()
      val back = decodedSums(spark, live)
      val decodeS = secs(t1)
      Check.that(s.committed == 0 && s.skipped == s.planned && s.planned > 0,
        s"no-op resume skips every planned part: $s")
      Check.that(back == inputSums, s"decoded sums $back == input $inputSums")
      if (record) {
        report.add("op_s", "s", resumeS + decodeS)
        report.add("resume_noop_s", "s", resumeS)
        report.add("decode_tok_s", "tok/s", inputSums.tokens / decodeS)
        report.add("blob_bytes_per_tok", "B/tok", pristineBytes._1)
        report.add("disk_bytes_per_tok", "B/tok", pristineBytes._2)
      }
    }
  }

  private lazy val opsOrder: Seq[String] = {
    val k = Math.floorMod(a.seed, Ops.Operators.size.toLong).toInt
    Ops.Operators.drop(k) ++ Ops.Operators.take(k)
  }

  private def checkOps(name: String, fp: Ops.Fingerprint): Unit = {
    val want = Pinned.fingerprints.get(name)
    Check.that(want.contains(fp.toString), s"$name fingerprint $fp, pinned ${want.getOrElse("none")}")
  }

  private def opsPass(record: Boolean): Unit = {
    val queries = graft.SparkEntry.queries
    var total = 0.0
    var ok = true
    for (name <- opsOrder) {
      val r = report.op(name) {
        val t0 = System.nanoTime()
        val fp = Ops.exhaust(queries(name)(spark, opsDir))
        val dt = secs(t0)
        checkOps(name, fp)
        dt
      }
      r match {
        case Some(dt) => total += dt; if (record) report.add(s"ops.${name}_s", "s", dt)
        case None => ok = false
      }
    }
    if (record && ok) {
      report.add("op_s", "s", total)
      report.add("ops_pass_s", "s", total)
    }
  }
}
