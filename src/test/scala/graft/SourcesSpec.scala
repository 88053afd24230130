package graft

import graft.sources.Documents
import org.scalatest.funsuite.AnyFunSuite

/** Multi-format document source: the same logical table must round-trip
  * value-exactly through every physical format (schema-enforced reads,
  * never inference).
  */
class SourcesSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  test("documents round-trip value-exactly through json and csv sources") {
    val orig = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (format <- Seq("json", "csv")) {
      val tmp = SparkTestSession.tempDir(s"docs-$format").toString
      format match {
        case "json" => orig.write.mode("overwrite").json(tmp)
        case "csv" => orig.write.mode("overwrite")
          .option("header", "true").option("escape", "\"").csv(tmp)
      }
      val back = Documents.read(spark, tmp, format)
      assert(back.schema == Documents.schema, s"$format schema drift")
      assert(back.exceptAll(orig).count() == 0, s"$format extra/changed rows")
      assert(orig.exceptAll(back).count() == 0, s"$format missing rows")
    }
    intercept[IllegalArgumentException](Documents.read(spark, "/tmp", "xml"))
  }
}
