package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.sources.ManifestStats.PruneMeters
import graft.sources.ManifestTable.ComposeMeters

/** A timed call: an operation (role set) or a call into a layer inside
  * one. Times are taken on the client thread; `startMs`/`endMs` share the
  * clock of Spark's listener events so jobs can be placed in spans. */
final class Span(val id: Int, val parent: Int, val name: String, val role: String,
    val round: Int, val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  var meters: Array[Long] = Array.empty
  // filled in by Tracer.finish
  var jobs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var outsideJobMs = 0.0
  var selfMs = 0.0
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory spans plus a Spark listener. Spans nest on the one client
  * thread; jobs (from any thread, e.g. a streaming query's) belong to the
  * innermost span open when they started. Task metrics reach a span
  * through their job. Nothing is attributed until [[finish]]. */
final class Tracer(spark: SparkSession) {
  /** Engine meters read at every span boundary (deltas per span). */
  val MeterNames: Seq[String] = Seq(
    "sources.log.segment_loads", "sources.log.cold_pointer_decodes",
    "sources.log.meta_reads", "sources.log.member_visits", "sources.log.full_bodies",
    "sources.prune.files_evaluated", "sources.prune.segments_excluded")

  private def readMeters(): Array[Long] = Array(
    ComposeMeters.segmentLoads.get, ComposeMeters.coldPointerDecodes.get,
    ComposeMeters.metaReads.get, ComposeMeters.memberVisits.get,
    ComposeMeters.fullBodies.get,
    PruneMeters.filesEvaluated.get, PruneMeters.segmentsExcluded.get)

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  private final case class Job(id: Int, startMs: Long, stages: Seq[Int]) { var endMs = 0L }
  private final class StageAcc { var taskMs = 0L; var gcMs = 0L; var shuffleBytes = 0L }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.taskMs += m.executorRunTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def open(name: String, role: String, round: Int): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, role,
      round, System.nanoTime(), System.currentTimeMillis())
    s.meters = readMeters()
    spans += s
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    val now = readMeters()
    s.meters = now.indices.map(i => now(i) - s.meters(i)).toArray
    stack = stack.dropWhile(_ ne s).drop(1)
  }

  /** Wait for the listener bus, then attribute jobs and tasks to spans and
    * compute each span's self and outside-job time. */
  def finish(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val children = spans.toSeq.groupBy(_.parent)
    // innermost span containing a job's start; spans are sorted by start
    def owner(ms: Long): Option[Span] = {
      var best: Option[Span] = None
      spans.foreach { s => if (s.startMs <= ms && ms <= s.endMs) best = Some(s) }
      best
    }
    val direct = jobs.values.asScala.toSeq.flatMap(j => owner(j.startMs).map(_ -> j))
      .groupBy(_._1.id).map { case (id, js) => id -> js.map(_._2) }
    def jobsUnder(s: Span): Seq[Job] =
      direct.getOrElse(s.id, Nil) ++ children.getOrElse(s.id, Nil).flatMap(jobsUnder)
    spans.foreach { s =>
      val js = jobsUnder(s)
      s.jobs = js.size
      js.foreach { j =>
        j.stages.foreach { st =>
          Option(stages.get(st)).foreach { a =>
            s.taskMs += a.taskMs; s.gcMs += a.gcMs; s.shuffleWriteBytes += a.shuffleBytes
          }
        }
      }
      val busy = coveredMs(js.map(j => (j.startMs, if (j.endMs > 0) j.endMs else s.endMs)),
        s.startMs, s.endMs)
      s.outsideJobMs = math.max(0.0, s.ms - busy)
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.selfMs = math.max(0.0, s.ms - coveredNs(kids) / 1e6)
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def coveredMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double =
    union(iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1)).toDouble

  private def coveredNs(iv: Seq[(Long, Long)]): Long = union(iv)

  /** One JSON object per span, in start order. */
  def write(path: String, t0Ns: Long): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val meters = MeterNames.zip(s.meters).map { case (n, v) => s""""$n":$v""" }.mkString(",")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","role":"${s.role}",""")
        .append(s""""round":${s.round},"start_ms":${fmt((s.startNs - t0Ns) / 1e6)},""")
        .append(s""""end_ms":${fmt((s.endNs - t0Ns) / 1e6)},"ms":${fmt(s.ms)},"self_ms":${fmt(s.selfMs)},""")
        .append(s""""jobs":${s.jobs},"task_ms":${s.taskMs},"gc_ms":${s.gcMs},""")
        .append(s""""shuffle_write_mb":${fmt(s.shuffleWriteBytes / 1e6)},"outside_job_ms":${fmt(s.outsideJobMs)},""")
        .append(s""""meters":{$meters}}""").append('\n')
    }
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, sb.toString)
  }

  private def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
}
