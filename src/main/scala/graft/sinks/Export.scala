package graft.sinks

import graft.util.LocalFs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-format export of encoded tables (reference K1/K2:
  * crates/freeze/src/types/dataframes/export.rs:27-62 — parquet/csv/json
  * writers with per-format options). Binary columns (encoded blobs) are
  * hex-wrapped for the text formats (Spark's base64() MIME-chunks with
  * embedded newlines, which breaks CSV records) and restored on read, so
  * write∘read = identity for every format (the reference's
  * test_output_formats.py invariant).
  */
object Export {

  val Formats: Seq[String] = Seq("parquet", "csv", "json")

  /** K5 output-subdirectory routing (files.rs:27-36's `SubDir::{Datatype,
    * Network, Custom}`, CLI parse file_output.rs:48-60): an ORDERED list of
    * path segments composed under the output root, each either the dataset
    * name (Datatype analog), the namespace/prefix (Network analog — cryo
    * uses the network name there), or a custom literal.
    */
  sealed trait SubDir
  object SubDir {
    /** Route by dataset name (reference `SubDir::Datatype`). */
    case object Dataset extends SubDir
    /** Route by namespace — the reference's network prefix (`SubDir::Network`). */
    case object Namespace extends SubDir
    /** Fixed custom segment (reference `SubDir::Custom(String)`),
      * validated by the shared [[graft.util.PathSegment]] allowlist.
      */
    final case class Custom(dir: String) extends SubDir {
      graft.util.PathSegment.validate(dir, "custom subdir")
    }
  }

  /** Resolve the output directory for a (dataset, namespace) under the
    * routing config — files.rs:77-84's fold of subdirs onto output_dir.
    */
  def resolveDir(root: String, subdirs: Seq[SubDir], dataset: String,
      namespace: String): String =
    subdirs.foldLeft(root) { (p, s) =>
      p + "/" + (s match {
        case SubDir.Dataset => dataset
        case SubDir.Namespace => namespace
        case SubDir.Custom(d) => d
      })
    }

  /** Routed export: resolve the subdir layout, apply the binary
    * presentation encoding, write. Returns the resolved directory so
    * callers (and tests) see exactly where the table landed.
    */
  def writeRouted(df: DataFrame, root: String, format: String,
      dataset: String, namespace: String,
      subdirs: Seq[SubDir] = Seq(SubDir.Dataset),
      compression: String = "snappy",
      binaryEncoding: String = "binary"): String = {
    val dir = resolveDir(root, subdirs, dataset, namespace)
    write(withBinaryEncoding(df, binaryEncoding), dir, format, compression)
    dir
  }

  /** Per-run binary presentation flag (files.rs:116-132 ColumnEncoding +
    * schemas.rs:190-193): "hex" flips every Binary column to cryo's
    * display form — '0x' + lowercase hex (types/conversions.rs:55-77) —
    * for this write only; "binary" leaves them raw.
    */
  def withBinaryEncoding(df: DataFrame, encoding: String): DataFrame =
    encoding match {
      case "binary" => df
      case "hex" => binaryCols(df).foldLeft(df)((d, c) =>
        d.withColumn(c, concat(lit("0x"), lower(hex(col(c))))))
      case other => throw new IllegalArgumentException(
        s"unknown binary encoding '$other' (binary|hex)")
    }

  private def binaryCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case StructField(n, BinaryType, _, _) => n }.toSeq

  /** Export with user-facing column-set selection (schemas.rs semantics —
    * see [[graft.ops.ColumnSelect]]): `defaults` is the dataset's ordered
    * default column set (all columns when empty), `columns` the
    * include/exclude/explicit spec applied against the frame's universe.
    */
  def write(df: DataFrame, path: String, format: String,
      compression: String, columns: graft.ops.ColumnSelect.Spec,
      defaults: Seq[String]): Unit = {
    val base = if (defaults.isEmpty) df.columns.toSeq else defaults
    write(graft.ops.ColumnSelect(df, base, columns), path, format, compression)
  }

  def write(df: DataFrame, path: String, format: String,
      compression: String = "snappy"): Unit = format match {
    case "parquet" =>
      df.write.mode("overwrite").options(LocalFs.WriteOptions)
        .option("compression", compression).parquet(path)
    case "csv" | "json" =>
      val textified = binaryCols(df).foldLeft(df)((d, c) => d.withColumn(c, hex(col(c))))
      textified.write.mode("overwrite").options(LocalFs.WriteOptions)
        .options(if (format == "csv") Map("header" -> "true") else Map.empty[String, String])
        .option("compression", if (compression == "snappy") "gzip" else compression)
        .format(format).save(path)
    case other => throw new IllegalArgumentException(s"unknown format '$other'")
  }

  /** Read back with the original schema (binary columns restored; csv/json
    * read with the explicit schema so types roundtrip).
    */
  def read(spark: SparkSession, path: String, format: String,
      schema: StructType): DataFrame = format match {
    case "parquet" => spark.read.parquet(path)
    case "csv" | "json" =>
      val textSchema = StructType(schema.fields.map {
        case StructField(n, BinaryType, nu, m) => StructField(n, StringType, nu, m)
        case f => f
      })
      val raw =
        if (format == "csv")
          spark.read.option("header", "true").schema(textSchema).csv(path)
        else spark.read.schema(textSchema).json(path)
      schema.fields.collect { case StructField(n, BinaryType, _, _) => n }
        .foldLeft(raw)((d, c) => d.withColumn(c, unhex(col(c))))
    case other => throw new IllegalArgumentException(s"unknown format '$other'")
  }
}
