package graft

import graft.util.Materialize
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one materialization mechanism: what each form stores and when,
  * what `release()` frees, and a source scan that keeps it the only one.
  */
class MaterializeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  private def cachedPartitions(ids: collection.Set[Int]): Int =
    spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id)).map(_.numCachedPartitions).sum

  private val forms = Seq[(String, DataFrame => Materialize.Handle)](
    "lazily" -> Materialize.lazily, "eager" -> Materialize.eager,
    "barrier" -> Materialize.barrier)

  test("release frees the blocks the frame reads, a barrier's checkpoint included") {
    forms.foreach { case (name, form) =>
      val before = persisted
      val h = form(spark.range(0, 100).toDF("id").filter($"id" % 2 === 0))
      assert(h.df.count() == 50, name)
      assert((persisted -- before).size == 1, name)
      h.release()
      assert((persisted -- before).isEmpty, name)
    }
  }

  test("eager and barrier store their blocks up front; lazily on the first action") {
    forms.foreach { case (name, form) =>
      val before = persisted
      val h = form(spark.range(0, 100, 1, 4).toDF("id"))
      val ids = persisted -- before
      assert(cachedPartitions(ids) == (if (name == "lazily") 0 else 4), name)
      h.df.count()
      assert(cachedPartitions(ids) == 4, name)
      h.release()
    }
  }

  test("a barrier's frame drops the origin statistics an eager checkpoint carries") {
    val df = spark.range(0, 100).toDF("id")
    val (eager, barrier) = (Materialize.eager(df), Materialize.barrier(df))
    val default = spark.sessionState.conf.defaultSizeInBytes
    assert(eager.df.queryExecution.optimizedPlan.stats.sizeInBytes < default)
    assert(barrier.df.queryExecution.optimizedPlan.stats.sizeInBytes == default)
    eager.release()
    barrier.release()
  }

  test("no main source materializes outside Materialize and the plan-keyed caches") {
    // the pipeline's and MultiOut's caches are plan-keyed columnar caches
    // released by one call's try/finally; Bench is frozen
    val allowed = Set("graft/util/Materialize.scala",
      "graft/pipeline/EncodePipeline.scala", "graft/pipeline/MultiOut.scala",
      "graft/Bench.scala")
    val calls = Seq(".localCheckpoint(", ".persist(", ".cache()", ".unpersist(")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val sources = {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val hits = for {
      f <- sources
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      c <- calls if code.contains(c)
    } yield (root.relativize(f).toString.replace('\\', '/'), s":${i + 1}: $c")
    // the scan sees the calls where they belong
    assert(hits.exists(_._1 == "graft/util/Materialize.scala"), hits)
    val offenders = hits.filterNot(h => allowed(h._1)).map { case (f, at) => f + at }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
