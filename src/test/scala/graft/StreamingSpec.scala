package graft

import graft.pipeline.EncodePipeline
import graft.sinks.ManifestSink
import graft.sources.Tokens
import graft.streaming.StreamingEncode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private def freshDir(): String =
    SparkTestSession.tempDir("graft-stream").toString

  test("streaming encode: micro-batches land in the manifest sink exactly once") {
    val in = freshDir(); val out = freshDir()
    val tokens = Tokens.synthetic(spark, 300)
    // several input files -> several micro-batches under maxFilesPerTrigger
    tokens.repartition(8).write.mode("overwrite").parquet(in)
    val cfg = EncodePipeline.Config(outDir = out, targetBinTokens = 4096, saltBuckets = 2)
    val q = StreamingEncode.encodeStream(spark, in, cfg).start()
    q.awaitTermination()
    val read = ManifestSink.readCommitted(spark, out)
    assert(read.count() == 300)
    assert(read.select("doc_id").distinct().count() == 300)
    assert(EncodePipeline.verifyRoundtrip(spark, tokens, out) == 0)
    // restart the stream over the same input: commit protocol makes the
    // replay a no-op (no duplicates)
    val q2 = StreamingEncode.encodeStream(spark, in, cfg).start()
    q2.awaitTermination()
    assert(ManifestSink.readCommitted(spark, out).count() == 300)
  }

  test("watermarked windowed aggregation over events matches batch result") {
    val q = StreamingEncode.eventCounts(spark, "/root/testdata/sf0.001")
      .writeStream.outputMode("complete")
      .format("memory").queryName("ev_counts")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT event_type, sum(n) AS n FROM ev_counts GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("context-window chunking composes with a stream (stateless, batch-exact)") {
    // chunking is row-local, so the same operator body runs unchanged on a
    // streaming DataFrame — the property that lets a crawl be chunked as
    // it arrives instead of in a nightly batch
    val in = freshDir()
    val t = Tokens.synthetic(spark, 200).cache()
    t.repartition(4).write.mode("overwrite").parquet(in)
    val streamIn = spark.readStream.schema(t.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = graft.ops.Chunking.chunkTokens(streamIn, 128, 32)
      .writeStream.outputMode("append")
      .format("memory").queryName("chunk_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT * FROM chunk_stream").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val batch = graft.ops.Chunking.chunkTokens(t, 128, 32).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("session windows stream: gap sessions match batch sessionize rollups") {
    import spark.implicits._
    // the streaming twin of Sessions.sessionize: Spark's session_window
    // merges events whose gap is < gap and splits at >= gap, while the
    // batch op splits strictly-greater — equivalent whenever no
    // intra-user gap equals the threshold exactly (holds here:
    // microsecond timestamps; verified 0 boundary-equal gaps)
    val in = freshDir()
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.repartition(3).write.mode("overwrite").parquet(in)
    val batch = graft.ops.Sessions.sessionize(events, gapUs = 43200000000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5)) -> r.getLong(2))
      .toMap // (user, min_event, max_event) -> n_events
    val q = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .withColumn("t", $"ts".cast("timestamp"))
      // the delay must cover the files' full event-time disorder (each
      // file spans the whole range), or late files are DROPPED — size it
      // to the corpus span, then push the sentinel past delay + gap
      .withWatermark("t", "36500 days")
      .groupBy($"user_id", session_window($"t", "12 hours"))
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("min_event_id"),
        max("event_id").as("max_event_id"))
      .select("user_id", "n_events", "min_event_id", "max_event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_stream").start()
    q.processAllAvailable()
    // append mode only emits sessions the watermark has passed — push it
    // beyond every real event with a far-future sentinel, then drop it
    events.orderBy(desc("ts")).limit(1)
      .withColumn("ts", $"ts" + expr("INTERVAL 36530 DAYS"))
      .withColumn("user_id", lit(-1L)).withColumn("event_id", lit(-1L))
      .write.mode("append").parquet(in)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT * FROM sess_stream")
      .filter($"user_id" =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)) -> r.getLong(1))
      .toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("custom-state bin-packing carries cumulative counts across micro-batches") {
    import org.apache.spark.sql.expressions.Window
    val in = freshDir()
    val t = Tokens.synthetic(spark, 300).cache()
    // two files with disjoint increasing doc_id ranges and distinct mtimes
    // -> two micro-batches processed in doc_id order
    t.filter(col("doc_id") < 150).repartition(1).write.mode("append").parquet(in)
    Thread.sleep(1100)
    t.filter(col("doc_id") >= 150).repartition(1).write.mode("append").parquet(in)
    val q = StreamingEncode.binStream(spark, in, targetBinTokens = 8192,
      maxFilesPerTrigger = 1)
      .writeStream.outputMode("append").format("memory").queryName("bins")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT doc_id, bin FROM bins").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.size == 300)
    // batch twin: one global cumulative window per source — equal ONLY if
    // the GroupState carried counts across the batch boundary (a per-batch
    // computation would restart every source's bins at 0 in batch 2)
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batch = t.select(col("doc_id"), col("source"), col("n_tok"))
      .withColumn("bin",
        floor((sum(col("n_tok").cast("long")).over(w) - col("n_tok")) / lit(8192L)))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(streamed == batch)
  }

  test("streaming near-dup dedup collapses re-crawled identical content") {
    val in = freshDir()
    val tokens = Tokens.synthetic(spark, 80).cache()
    tokens.write.mode("overwrite").parquet(in)
    // re-crawl: same content under NEW doc_ids — identity dedup would keep
    // them, content-similarity dedup must drop them
    tokens.withColumn("doc_id", col("doc_id") + 700000)
      .write.mode("append").parquet(in)
    val q = StreamingEncode.nearDedupStream(spark, in)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardedup_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val n = spark.sql("SELECT count(*) FROM neardedup_out").collect()(0).getLong(0)
    val distinctContent = tokens.count()
    assert(n == distinctContent, s"expected $distinctContent rows, got $n")
  }

  test("stateful streaming dedup drops replayed doc_ids") {
    val in = freshDir()
    val tokens = Tokens.synthetic(spark, 100).cache()
    tokens.write.mode("overwrite").parquet(in)
    tokens.write.mode("append").parquet(in) // duplicate every row
    val q = StreamingEncode.dedupStream(spark, in)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    q.processAllAvailable()
    q.stop()
    assert(spark.sql("SELECT count(*) FROM dedup_out").collect()(0).getLong(0) == 100)
  }
}
