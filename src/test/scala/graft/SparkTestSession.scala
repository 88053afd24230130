package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.filter.RegexFilter
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run (guide: one session
  * per suite via lazy val; sharing across suites avoids repeated JVM-wide
  * Spark startup in `sbt -batch test`).
  */
object SparkTestSession {
  lazy val get: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Spark warns on every unpersist of a local checkpoint ("RDD n was
    // locally checkpointed, ... cannot be recomputed after unpersisting");
    // each Materialize release is one, hundreds per run, burying the other
    // warnings. Drop that message only; every other WARN line stays.
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val quiet = RegexFilter.createFilter(
      ".*was locally checkpointed.*cannot be recomputed after unpersisting.*",
      null, false, Filter.Result.DENY, Filter.Result.NEUTRAL)
    quiet.start()
    ctx.getConfiguration.addFilter(quiet)
    ctx.updateLoggers()
    s
  }
}
