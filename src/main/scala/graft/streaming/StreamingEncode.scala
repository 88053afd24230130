package graft.streaming

import graft.pipeline.EncodePipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.9). The reference is
  * batch-only; its streaming-adjacent semantics map here:
  *  - reorg buffer / late data  → watermark on the event-time column;
  *  - resumable chunk skip      → foreachBatch into the manifest sink
  *    (exactly-once per partition via the snapshot commit protocol);
  *  - incomplete-report marker  → commit marker written after each batch.
  */
object StreamingEncode {

  val tokenSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false)))

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Micro-batch encode: stream of token rows → EncodePipeline per batch.
    * A batch replayed after its run committed is a no-op resume: the run's
    * resume ledger finds every one of its part_keys committed (exactly-once
    * per partition), the streaming analog of the reference's skip-existing
    * resume (freeze.rs:96-109).
    */
  def encodeStream(spark: SparkSession, inputDir: String,
      cfg: EncodePipeline.Config): DataStreamWriter[org.apache.spark.sql.Row] = {
    spark.readStream
      .schema(tokenSchema)
      .option("maxFilesPerTrigger", 4)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // micro-batches run on a cloned session: register + run on it.
        // part_keys are scoped by batchId: the stream checkpoint pins
        // (batchId -> file set), so a replayed batch re-derives identical
        // keys (a no-op resume: the ledger finds them committed) while distinct
        // batches can never collide on positional bin keys.
        if (!batch.isEmpty) {
          EncodePipeline.run(batch.sparkSession, batch,
            cfg.copy(partPrefix = s"b$batchId"))
          ()
        }
      }
      .option("checkpointLocation", s"${cfg.outDir}/_stream_checkpoint")
      .trigger(Trigger.AvailableNow())
  }

  /** Watermarked sliding-window aggregation over the events table — the
    * windowed-agg streaming shape (guide §Structured Streaming).
    */
  def eventCounts(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .parquet(inputDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Stateful streaming dedup on doc_id within the watermark — the
    * `dropDuplicates` state-store shape used for ingest-time exact dedup.
    */
  def dedupStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .schema(tokenSchema)
      .parquet(inputDir)
      .dropDuplicates("doc_id")

  /** Streaming NEAR-dup dedup: first-seen-wins on the 64-bit SimHash of
    * the token stream (state-store backed like [[dedupStream]], but keyed
    * on content similarity rather than identity — reordered/near-identical
    * re-crawls collapse too). Token arrays are rendered to their decimal
    * word form so the signature matches the batch simhash of the same
    * content.
    */
  def nearDedupStream(spark: SparkSession, inputDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    spark.readStream
      .schema(tokenSchema)
      .parquet(inputDir)
      .withColumn("simhash",
        org.apache.spark.sql.functions.call_function("simhash64",
          expr("transform(tokens, x -> CAST(x AS STRING))")))
      .dropDuplicates("simhash")
  }

  final case class BinState(cumTokens: Long)
  final case class DocBin(doc_id: Long, source: String, n_tok: Int, bin: Long)

  /** Custom-state streaming operator (`flatMapGroupsWithState`): the
    * streaming form of the batch bin-packing window. Per-source cumulative
    * token counts persist in the state store ACROSS micro-batches, so bin
    * numbers keep growing instead of restarting at 0 each batch — the
    * batch window can't express that, `GroupState` can. Docs are ordered
    * by doc_id within each (group, batch) for determinism.
    *
    * MEMORY BOUND (round-2 ADVICE, now explicit): the determinism sort
    * materializes one (source × micro-batch) group in the executor heap —
    * (doc_id, source, n_tok) triples, NOT token arrays, ~50 bytes/doc. The
    * bound is docs-per-batch-per-source, which `maxFilesPerTrigger`
    * controls: at the pipeline's own layout (≤ targetBinTokens tokens per
    * file) a trigger of F files is ≤ F × (targetBinTokens / min n_tok)
    * docs ≈ a few hundred thousand rows ≈ tens of MB worst-case. Callers
    * ingesting foreign layouts (huge files) must set maxFilesPerTrigger
    * low enough that one batch's slim metadata fits an executor — or
    * accept per-batch bin order drift and drop the sort.
    */
  def binStream(spark: SparkSession, inputDir: String,
      targetBinTokens: Long,
      maxFilesPerTrigger: Int = 0): org.apache.spark.sql.Dataset[DocBin] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val reader = spark.readStream.schema(tokenSchema)
    (if (maxFilesPerTrigger > 0)
       reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
     else reader)
      .parquet(inputDir)
      .select(col("doc_id"), col("source"), col("n_tok"))
      .as[(Long, String, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, rows: Iterator[(Long, String, Int)],
         state: GroupState[BinState]) => {
          var cum = state.getOption.map(_.cumTokens).getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (docId, _, nTok) =>
            val bin = cum / targetBinTokens
            cum += nTok
            DocBin(docId, source, nTok, bin)
          }
          state.update(BinState(cum))
          out.iterator
        })
  }
}
