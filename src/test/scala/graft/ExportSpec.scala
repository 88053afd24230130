package graft

import graft.sinks.{Export, ManifestSink}
import graft.pipeline.EncodePipeline
import graft.sources.Tokens
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-format write∘read identity over the encoded table (reference
  * roundtrip invariant, crates/python/python_tests/test_output_formats.py:
  * 9-41: freeze to each format, read back, frame_equal vs collect).
  */
class ExportSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  test("parquet/csv/json exports roundtrip the encoded table bit-identically") {
    val sink = SparkTestSession.tempDir("graft-export-src").toString
    val tokens = Tokens.synthetic(spark, 200)
    EncodePipeline.run(spark, tokens,
      EncodePipeline.Config(outDir = sink, targetBinTokens = 8192))
    val encoded = ManifestSink.readCommitted(spark, sink)
      .select("doc_id", "source", "n_tok", "codec", "blob")

    // column-set selection at the export boundary (schemas.rs algebra on
    // the writer path): explicit list, include-append, exclude
    val selDir = SparkTestSession.tempDir("graft-export-sel").toString
    Export.write(encoded, selDir, "parquet", "snappy",
      graft.ops.ColumnSelect.Spec(
        include = Some(Seq("codec")), exclude = Some(Seq("n_tok"))),
      defaults = Seq("doc_id", "source", "n_tok"))
    assert(spark.read.parquet(selDir).columns.toSeq == Seq("doc_id", "source", "codec"))

    for (format <- Export.Formats) {
      val dir = SparkTestSession.tempDir(s"graft-export-$format").toString
      Export.write(encoded, dir, format)
      val back = Export.read(spark, dir, format, encoded.schema)
      assert(back.count() == 200, format)
      // full-row equality incl. the binary blob, via anti-join both ways
      assert(back.exceptAll(encoded).count() == 0, s"$format extra rows")
      assert(encoded.exceptAll(back).count() == 0, s"$format missing rows")
      // and the blobs still decode to the original tokens
      graft.functions.GraftFunctions.register(spark)
      val bad = back.withColumn("decoded", expr("decode_tokens(blob)"))
        .join(tokens.select(col("doc_id"), col("tokens")), "doc_id")
        .filter(not(col("decoded") <=> col("tokens")))
      assert(bad.count() == 0, s"$format decode mismatch")
    }
  }

  test("K5 subdir routing (Dataset/Namespace/Custom) + per-run hex presentation") {
    import Export.SubDir
    import spark.implicits._
    val sink = SparkTestSession.tempDir("graft-route-src").toString
    val tokens = Tokens.synthetic(spark, 120)
    EncodePipeline.run(spark, tokens,
      EncodePipeline.Config(outDir = sink, targetBinTokens = 8192))
    val encoded = ManifestSink.readCommitted(spark, sink)
      .select("doc_id", "source", "n_tok", "codec", "blob")
    val root = SparkTestSession.tempDir("graft-route").toString

    // SubDir::Datatype analog (default): route by dataset name
    val d1 = Export.writeRouted(encoded, root, "parquet", "encoded_tokens", "corpusA")
    assert(d1 == s"$root/encoded_tokens" && new java.io.File(d1).isDirectory, d1)
    // SubDir::Network analog before it — the fold preserves order (files.rs:77-84)
    val d2 = Export.writeRouted(encoded, root, "parquet", "encoded_tokens", "corpusA",
      subdirs = Seq(SubDir.Namespace, SubDir.Dataset))
    assert(d2 == s"$root/corpusA/encoded_tokens" && new java.io.File(d2).isDirectory, d2)
    // SubDir::Custom literal
    val d3 = Export.writeRouted(encoded, root, "parquet", "encoded_tokens", "corpusA",
      subdirs = Seq(SubDir.Custom("archive")))
    assert(d3 == s"$root/archive" && new java.io.File(d3).isDirectory, d3)
    intercept[IllegalArgumentException](SubDir.Custom("/absolute"))
    // allowlist validation: separators in ANY form rejected, dot-segments
    // rejected, but legitimate dotted names pass (old blocklist rejected
    // 'v1..v2' and passed backslashes)
    intercept[IllegalArgumentException](SubDir.Custom("a\\b"))
    intercept[IllegalArgumentException](SubDir.Custom("a/b"))
    intercept[IllegalArgumentException](SubDir.Custom(".."))
    intercept[IllegalArgumentException](SubDir.Custom("."))
    assert(SubDir.Custom("v1..v2").dir == "v1..v2")
    // routed tables read back identical
    assert(spark.read.parquet(d2).exceptAll(encoded).count() == 0)

    // hex presentation flag: Binary columns flip to cryo's 0x-lowercase
    // display form for this write only (files.rs:116-132 ColumnEncoding)
    val hexDir = Export.writeRouted(encoded, root, "parquet", "hexed", "corpusA",
      binaryEncoding = "hex")
    val back = spark.read.parquet(hexDir)
    assert(back.schema("blob").dataType == org.apache.spark.sql.types.StringType)
    val sample = back.select("blob").head.getString(0)
    assert(sample.startsWith("0x") &&
      sample.drop(2).forall("0123456789abcdef".contains(_)), sample)
    // and the hex payload still carries the exact original bytes
    val mismatch = back
      .select($"doc_id", expr("unhex(substring(blob, 3))").as("blob2"))
      .join(encoded.select($"doc_id", $"blob"), "doc_id")
      .filter(not($"blob" <=> $"blob2"))
      .count()
    assert(mismatch == 0)
    intercept[IllegalArgumentException](Export.withBinaryEncoding(encoded, "rot13"))
  }
}
