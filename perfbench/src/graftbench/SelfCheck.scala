package graftbench

import graft.pipeline.EncodePipeline
import graft.sinks.ManifestSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Shows at a tiny input that the benchmark is not vacuous: every workload
  * prints every named metric with its unit, traced and untraced, with no
  * failure; and a corrupted checksum or a corrupted blob is counted as a
  * failed operation.
  */
object SelfCheck {

  def run(spark: SparkSession, a: Main.Args): Int = {
    var problems = Seq.empty[String]
    for (w <- Seq("encode_fresh", "sink_reread", "ops_session"); trace <- Seq(false, true)) {
      val work = s"${a.work}/self-$w-$trace"
      val r = new Bench(spark, a.copy(workload = w, trace = trace, seconds = 0, work = work),
        System.currentTimeMillis(), Main.TinyDocs)
      val out = captureStdout(r.run())
      print(out._2)
      val last = out._2.trim.split("\n").last
      val names = if (trace) Ladder.MetricNames else Seq("op_s", "setup_s")
      val absent = names.filterNot(n => last.contains(s""""$n": {"value": """))
      if (out._1 != 0) problems :+= s"$w trace=$trace exited ${out._1}"
      if (absent.nonEmpty) problems :+= s"$w trace=$trace lacks ${absent.mkString(",")}"
      if (!last.startsWith("""{"correct": true,""") || !last.contains(""""failed": 0,"""))
        problems :+= s"$w trace=$trace reported failures on intact data"
    }

    // the decode check must catch a wrong checksum and a corrupted blob
    val input = Main.tokenWindow(spark, a.seed, Main.TinyDocs).cache()
    val want = Main.sums(input)
    val sink = s"${a.work}/self-corrupt"
    EncodePipeline.run(spark, input, Main.pipelineConfig(sink))
    val report = new Report("self-check: corrupted outputs")
    report.op("wrong expected checksum") {
      val got = Main.decodedSums(spark, sink)
      Check.that(got == want.copy(checksum = want.checksum + 1), s"decoded $got")
    }
    val flip = udf { (b: Array[Byte]) =>
      val c = b.clone(); c(c.length / 2) = (c(c.length / 2) ^ 0x5a).toByte; c
    }
    report.op("corrupted blob") {
      // one doc of the `random` profile, whose payload is its raw values
      val victim = input.filter(col("doc_id") % 6 === 5).agg(min("doc_id")).collect()(0).getLong(0)
      val got = Main.sums(ManifestSink.readCommitted(spark, sink)
        .withColumn("blob", when(col("doc_id") === victim, flip(col("blob"))).otherwise(col("blob")))
        .withColumn("tokens", expr("decode_tokens(blob)")))
      Check.that(got == want, s"decoded $got == $want")
    }
    report.printLines()
    if (report.failed != 2) problems :+= s"corruption checks caught ${report.failed} of 2"

    problems.foreach(p => println(s"[graftbench] SELF-CHECK PROBLEM: $p"))
    println(s"""{"selfcheck": ${problems.isEmpty}, "problems": ${problems.size}}""")
    if (problems.isEmpty) 0 else 1
  }

  private def captureStdout(f: => Int): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(buf)(f)
    (code, buf.toString("UTF-8"))
  }
}
