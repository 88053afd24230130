package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Samples, failures and the printed result of one benchmark process. */
final class Report(header: String) {
  var attempted = 0L
  var failed = 0L
  private val units = mutable.LinkedHashMap.empty[String, String]
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def add(name: String, unit: String, v: Double): Unit = {
    units.getOrElseUpdate(name, unit)
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  /** One attempted operation; an exception or a failed check inside it
    * (`Check.that`) counts it as failed.
    */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[graftbench] FAILED $what: $e")
        None
    }
  }

  def median(name: String): Double = Report.median(samples(name).toSeq)
  def has(name: String): Boolean = samples.contains(name)

  /** The readable report: every metric with unit, median and sample count. */
  def printLines(): Unit = {
    println(s"[graftbench] $header")
    for ((name, unit) <- units) {
      val xs = samples(name)
      println(f"[graftbench] $name%-34s ${Report.fmt(Report.median(xs.toSeq))}%14s $unit%-7s n=${xs.size}" +
        (if (xs.size > 1) xs.map(x => f"$x%.3f").mkString(" (in order: ", " ", ")") else ""))
    }
    val frac = if (attempted == 0) 0.0 else failed.toDouble / attempted
    println(f"[graftbench] failed_frac ${Report.fmt(frac)} ratio ($failed of $attempted operations failed)")
  }

  /** The last stdout line: the named metrics (medians) as one JSON object. */
  def json(names: Seq[String]): String = {
    val ms = names.map { n =>
      s""""$n": {"value": ${Report.fmt(median(n))}, "unit": "${units(n)}"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Report {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** All digits as measured (Double.toString keeps every significant one). */
  def fmt(v: Double): String = v.toString
}

object Check {
  def that(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"check failed: $what")
}
