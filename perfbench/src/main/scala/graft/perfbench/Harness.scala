package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** An operation whose output check failed, or that threw. Ends the timed
  * phase: the run reports it as a failed operation. */
final class OpFailed(msg: String, cause: Throwable = null) extends RuntimeException(msg, cause)

/** One client operation: its role in the workload's round, its measured
  * cost, and the counters the workload attached to it. */
final class OpRecord(val role: String, val name: String) {
  var wallNs = 0L
  var cpuNs = 0L
  var writtenBytes = 0L
  var span: Option[Span] = None
  val counters = scala.collection.mutable.LinkedHashMap[String, Long]()
}

/** Runs the workload's operations as one closed-loop client and measures
  * each one. Untraced, an operation costs two clock reads, two CPU-time
  * reads and two file-system statistics reads. Traced, every call into a
  * layer becomes a [[Span]] and a Spark listener records jobs and tasks.
  */
final class Harness(val spark: SparkSession, val traced: Boolean) {
  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Off during set-up and warm-up: operations run and are checked, but
    * leave no sample. */
  var recording = false
  var round = 0
  val ops = ArrayBuffer[OpRecord]()
  var attempted = 0L
  var failed = 0L
  private var current: Option[OpRecord] = None

  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None

  def cpuNs(): Long = osBean.getProcessCpuTime

  /** Bytes written through Hadoop's local file system by every thread of
    * this JVM (Spark tasks run in it). */
  def fsWrittenBytes(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Run one operation, timed, then check its output untimed. A check that
    * returns an error, or a body that throws, fails the operation. */
  def op[T](role: String, name: String)(body: => T)(check: T => Option[String]): T = {
    val rec = new OpRecord(role, name)
    current = Some(rec)
    if (recording) attempted += 1
    val span = if (recording) tracer.map(_.open(name, role, round)) else None
    val w0 = fsWrittenBytes()
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val result =
      try body
      catch {
        case e: OpFailed => failed += 1; throw e
        case scala.util.control.NonFatal(e) =>
          failed += 1
          throw new OpFailed(s"$name threw ${e.getClass.getName}: ${e.getMessage}", e)
      } finally {
        rec.wallNs = System.nanoTime() - t0
        rec.cpuNs = cpuNs() - c0
        rec.writtenBytes = fsWrittenBytes() - w0
        span.foreach(s => tracer.get.close(s))
        rec.span = span
      }
    val verdict =
      try check(result)
      catch {
        case scala.util.control.NonFatal(e) => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}")
      }
    verdict.foreach { msg => failed += 1; throw new OpFailed(s"$name: $msg") }
    if (recording) ops += rec
    current = None
    result
  }

  /** A call into one layer, inside an operation. A span when traced. */
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) if recording =>
      val s = t.open(name, "", round)
      try body finally t.close(s)
    case _ => body
  }

  /** Attach a count to the operation being run or checked. */
  def count(name: String, n: Long): Unit =
    current.foreach(r => r.counters(name) = r.counters.getOrElse(name, 0L) + n)

  /** A failed output check that is not tied to one operation (the final
    * state check). */
  def fail(msg: String): Nothing = { failed += 1; throw new OpFailed(msg) }
}
