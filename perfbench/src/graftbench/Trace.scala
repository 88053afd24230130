package graftbench

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One SQL execution (a DataFrame action) or one job outside any SQL
  * execution, with the user call site Spark recorded for it
  * ("count at EncodePipeline.scala:429"). Times are driver epoch ms.
  */
final case class Span(callSite: String, startMs: Long, endMs: Long)

final case class JobRec(jobId: Int, rootExec: Long, callSite: String,
    startMs: Long, endMs: Long)

final case class TaskRec(jobId: Int, durationMs: Long, shuffleWriteBytes: Long,
    spillBytes: Long)

/** What one traced call did: wall time split by phase, plus job counts. */
final case class Fold(wallMs: Long, phaseMs: Map[String, Long], coveredMs: Long,
    jobs: Seq[JobRec], tasks: Seq[TaskRec], phaseOfJob: Map[Int, String]) {
  def driverMs: Long = wallMs - coveredMs
  def shuffleWriteMb: Double = tasks.map(_.shuffleWriteBytes).sum / 1048576.0
  def spillMb: Double = tasks.map(_.spillBytes).sum / 1048576.0
}

/** A SparkListener registered by the benchmark, never by the library: it
  * keeps every execution, job and task in memory while attached, and folds
  * the ones inside a time window on demand. Attaching it does not change
  * any physical plan.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val execOpen = mutable.Map.empty[Long, (String, Long)]
  private val execRoot = mutable.Map.empty[Long, Long]
  private val execs = mutable.ArrayBuffer.empty[(Long, Span)]
  private val jobOpen = mutable.Map.empty[Int, JobRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { BenchBus.drain(sc); sc.removeSparkListener(this) }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.getOrElse(s.executionId)
        execRoot(s.executionId) = root
        if (root == s.executionId) execOpen(s.executionId) = (s.description, s.time)
      case e: SparkListenerSQLExecutionEnd =>
        execOpen.remove(e.executionId).foreach { case (cs, t0) =>
          execs += e.executionId -> Span(cs, t0, e.time)
        }
      case _ =>
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val root = exec.map(e => execRoot.getOrElse(e, e)).getOrElse(-1L)
    val callSite =
      if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).name
    js.stageIds.foreach(stageJob(_) = js.jobId)
    jobOpen(js.jobId) = JobRec(js.jobId, root, callSite, js.time, js.time)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(je.jobId).foreach(j => jobs += j.copy(endMs = je.time))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    tasks += TaskRec(stageJob.getOrElse(te.stageId, -1), te.taskInfo.duration,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled)
  }

  /** Fold everything that started inside [t0, t1] (driver epoch ms).
    * `phase` names a call site's phase; a phase's time is the union of its
    * spans, and the wall time no span covers is the driver's own time.
    */
  def fold(t0: Long, t1: Long, phase: String => String): Fold = {
    BenchBus.drain(sc)
    synchronized {
      val inWin = (s: Long) => s >= t0 && s <= t1
      val ex = execs.filter { case (_, s) => inWin(s.startMs) }
      val js = jobs.filter(j => inWin(j.startMs)).toSeq
      val orphanSpans = js.filter(_.rootExec < 0).map(j => Span(j.callSite, j.startMs, j.endMs))
      val spans = ex.map(_._2).toSeq ++ orphanSpans
      val clipped = spans.map(s => (phase(s.callSite), math.max(s.startMs, t0), math.min(s.endMs, t1)))
      val phaseMs = clipped.groupBy(_._1).map { case (p, xs) => p -> unionMs(xs.map(x => (x._2, x._3))) }
      val execPhase = ex.map { case (id, s) => id -> phase(s.callSite) }.toMap
      val phaseOfJob = js.map(j =>
        j.jobId -> (if (j.rootExec < 0) phase(j.callSite) else execPhase.getOrElse(j.rootExec, "other"))).toMap
      val jobIds = js.map(_.jobId).toSet
      Fold(t1 - t0, phaseMs, unionMs(clipped.map(x => (x._2, x._3))), js,
        tasks.filter(t => jobIds.contains(t.jobId)).toSeq, phaseOfJob)
    }
  }

  /** Writes every execution and job seen, as JSON lines, each tagged with
    * the ladder layer whose span contains its start.
    */
  def dump(path: java.nio.file.Path, layers: Seq[(String, Long, Long)]): Unit = {
    BenchBus.drain(sc)
    def layerAt(t: Long) = layers.find(l => t >= l._2 && t <= l._3).map(_._1).getOrElse("")
    def esc(x: String) = graft.util.JsonEsc.escape(x)
    val lines = synchronized {
      layers.map { case (n, t0, t1) =>
        s"""{"kind":"layer","name":"$n","start_ms":$t0,"end_ms":$t1}""" } ++
      execs.map { case (id, sp) =>
        s"""{"kind":"sql","id":$id,"layer":"${layerAt(sp.startMs)}","call_site":"${esc(sp.callSite)}",""" +
          s""""start_ms":${sp.startMs},"end_ms":${sp.endMs}}""" } ++
      jobs.map { j =>
        s"""{"kind":"job","id":${j.jobId},"sql":${j.rootExec},"layer":"${layerAt(j.startMs)}",""" +
          s""""call_site":"${esc(j.callSite)}","start_ms":${j.startMs},"end_ms":${j.endMs},""" +
          s""""tasks":${tasks.count(_.jobId == j.jobId)}}""" }
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Maps a job's call site to the EncodePipeline phase it belongs to. The
  * anchor lines are looked up in the pipeline's source at start-up, so the
  * mapping follows edits that move lines. An anchor that is no longer in
  * the source fails the traced run here; a job whose call site matches no
  * anchor counts as `other`, which the ladder reports as a failed check.
  */
final class PhaseOf(root: String) {
  private val anchors = Seq(
    "salt" -> "autoSaltBuckets(tokens.select(\"doc_id\").count())",
    "committed_read" -> "committedKeysDf.count()",
    "plan" -> "plannedKeys.count()",
    "resume_join" -> "todoKeys.count()",
    "drift_guard" -> "=!= col(\"n_committed\")).count()",
    "data_write" -> ".parquet(ManifestSink.dataDir(cfg.outDir))",
    "manifest_write" -> ".parquet(ManifestSink.manifestDir(cfg.outDir))",
    "totals" -> "coalesce(sum(\"encoded_bytes\"), lit(0L))).collect()")

  private val lineOf: Map[Int, String] = {
    val src = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      root, "src/main/scala/graft/pipeline/EncodePipeline.scala")).toArray(Array.empty[String])
    val found = anchors.map { case (p, a) => (p, a, src.indexWhere(_.contains(a))) }
    val missing = found.filter(_._3 < 0)
    Check.that(missing.isEmpty, "EncodePipeline.scala no longer holds the phase anchors " +
      missing.map(m => s"${m._1}: `${m._2}`").mkString(", ") + "; update PhaseOf")
    found.map { case (p, _, i) => (i + 1) -> p }.toMap
  }

  private val Site = """.* at ([^:\s]+):(\d+)$""".r

  def apply(callSite: String): String = callSite match {
    case Site("EncodePipeline.scala", line) => lineOf.getOrElse(line.toInt, "other")
    // the sink reads the pipeline issues (manifest scans, schema inference)
    case Site("ManifestSink.scala", _) => "committed_read"
    case _ => "other"
  }
}
