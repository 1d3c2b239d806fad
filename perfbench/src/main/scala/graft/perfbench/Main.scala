package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A workload: generates its inputs from the seed and builds its tables
  * in a directory; then runs rounds of a fixed amount of work. */
trait Workload {
  /** A round's nominal length on a 4-core VM: a run of `--seconds S`
    * times round(S / roundSeconds) rounds, at least one. */
  def roundSeconds: Double
  def setup(h: Harness, dir: String, seed: Long): Instance
}

/** A workload's tables, ready for timed rounds. */
trait Instance {
  /** The next round: the workload's fixed unit of work, as a sequence of
    * checked operations. */
  def round(): Seq[() => Unit]
  /** The untimed warm-up: every kind of operation a round has. */
  def warmUp(): Seq[() => Unit] = round()
  /** Check the final state against the generator's model, then run the
    * final maintenance whose result `stored_mb` measures. */
  def finish(): Unit
  /** Directories holding the workload's tables. */
  def tableDirs: Seq[String]
}

/** The benchmark's JVM: one run of one workload.
  *
  * {{{
  * Main --workload marts|cdc --seed N --seconds S --trace 0|1
  *      --work DIR [--trace-out FILE]
  * }}}
  *
  * Prints human-readable lines, then the result as one JSON line last.
  */
object Main {
  /** Tables are built this many times per run; `setup_s` counts the median. */
  val SetupRepeats = 3
  /** Spark task slots: the other cores of a 4-core machine go to the JIT,
    * the garbage collector and the driver's own threads. */
  val Slots = 2
  val ShufflePartitions = 4

  val Workloads: Map[String, Workload] = Map("marts" -> Marts, "cdc" -> Cdc)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workloads.getOrElse(opt("workload"), sys.error(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")

    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.default.parallelism", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val h = new Harness(spark, traced)
    var exit = 0
    try {
      // set-up: the tables are built several times, each in a fresh
      // directory (the last is kept), then one round warms up every timed
      // kind of operation
      var inst: Instance = null
      val builds = (1 to SetupRepeats).map { i =>
        if (i > 1) deleteTree(s"$work/tables-${i - 1}")
        val t0 = System.nanoTime()
        inst = workload.setup(h, s"$work/tables-$i", seed)
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      inst.warmUp().foreach(_())
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + med(builds) + warmS
      println(f"[setup] session ${sessionS}%.2f s, builds ${builds.map(s => f"$s%.2f").mkString(" ")} s, " +
        f"warm-up ${warmS}%.2f s")

      // timed phase: closed loop, one client, a fixed number of rounds
      // sized to --seconds. A fixed count keeps every run's samples at the
      // same points of the JIT's warm-up curve, which a time limit does not.
      val rounds = math.max(1, math.round(seconds / workload.roundSeconds).toInt)
      h.recording = true
      val t0 = System.nanoTime()
      val failure =
        try {
          while (h.round < rounds) { inst.round().foreach(_()); h.round += 1 }
          None
        } catch { case e: OpFailed => Some(e) }
      h.recording = false
      val timedS = (System.nanoTime() - t0) / 1e9
      // heap the program retains: the least of three full collections,
      // spaced so Spark's cleaner can drop blocks of unreachable datasets
      val retainedMb = (1 to 3).map { _ =>
        System.gc(); Thread.sleep(200)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      }.min
      val f0 = System.nanoTime()
      val finalFailure = failure.orElse {
        try { inst.finish(); None } catch { case e: OpFailed => Some(e) }
      }
      val finalS = (System.nanoTime() - f0) / 1e9
      println(f"[phases] timed ${timedS}%.2f s ($rounds rounds), final check ${finalS}%.2f s")
      finalFailure.foreach { e =>
        println(s"[failed] ${e.getMessage}")
        Option(e.getCause).foreach(_.printStackTrace())
      }
      val storedMb = inst.tableDirs.map(dirBytes).sum / 1e6
      val ops = h.ops.toSeq
      println(s"[ops] attempted ${h.attempted}, failed ${h.failed}; " +
        ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
          f"$n n=${rs.size} p50=${med(rs.map(_.wallNs / 1e6))}%.1f ms (" +
            rs.map(r => f"${r.wallNs / 1e6}%.0f").mkString(" ") + ")"
        }.mkString("; "))

      val metrics: Seq[(String, Double, String)] =
        if (!traced) endToEnd(ops, rounds, setupS, retainedMb, storedMb)
        else perLayer(h, ops, rounds, opts.get("trace-out"))
      val correct = finalFailure.isEmpty && h.failed == 0
      val attempted = math.max(h.attempted, math.max(h.failed, 1L))
      val m = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${h.failed}, """ +
        s""""metrics": {${m.mkString(", ")}}}""")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 1
    } finally spark.stop()
    sys.exit(exit)
  }

  /** Cost of one round's fixed work: the run's total over its rounds. */
  private def perRound(ops: Seq[OpRecord], rounds: Int, f: OpRecord => Double): Double =
    ops.map(f).sum / rounds

  /** Time of one round's fixed work from the operations' medians: per kind
    * of operation, its calls per round times its median call. A call that a
    * stray pause or the first touch after maintenance slowed does not move
    * it, so runs of the same code agree more closely than their sums do. */
  private def perRoundMedian(ops: Seq[OpRecord], rounds: Int, f: OpRecord => Double): Double =
    ops.groupBy(_.name).values.map(rs => rs.size.toDouble / rounds * med(rs.map(f))).sum

  /** Median; 0 for no samples. */
  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def endToEnd(ops: Seq[OpRecord], rounds: Int, setupS: Double, retainedMb: Double,
      storedMb: Double): Seq[(String, Double, String)] = {
    def p50(role: String) = med(ops.filter(_.role == role).map(_.wallNs / 1e6))
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", perRoundMedian(ops, rounds, _.wallNs / 1e9), "s"),
      ("cpu_s", perRoundMedian(ops, rounds, _.cpuNs / 1e9), "s"),
      ("written_mb", perRound(ops, rounds, _.writtenBytes / 1e6), "MB"),
      ("retained_mb", retainedMb, "MB"),
      ("stored_mb", storedMb, "MB"),
      ("write_p50_ms", p50("write"), "ms"),
      ("read_p50_ms", p50("read"), "ms"))
  }

  /** Counters every workload reports in a traced run (zero where the
    * workload never reaches the layer). */
  val Counters: Seq[String] = Seq(
    "model.built", "model.skipped", "quality.failed",
    "sources.compact.files_rewritten", "sources.vacuum.files_deleted",
    "streaming.drain.batches", "ops.mart.change_rows",
    "plans.rewrite.hits")

  def perLayer(h: Harness, ops: Seq[OpRecord], rounds: Int,
      traceOut: Option[String]): Seq[(String, Double, String)] = {
    val tracer = h.tracer.get
    tracer.finish()
    val t0 = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    traceOut.foreach(tracer.write(_, t0))
    // per-span-name summary of the layers, printed for reading
    tracer.spans.toSeq.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      println(f"[span] $n%-24s calls ${ss.size}%4d  ms ${med(ss.map(_.ms))}%9.1f  " +
        f"self ${med(ss.map(_.selfMs))}%9.1f  jobs ${med(ss.map(_.jobs.toDouble))}%5.1f  outside_job ${med(ss.map(_.outsideJobMs))}%8.1f ms")
    }
    val withSpan = ops.filter(_.span.isDefined)
    // only times every workload accrues: task GC time and the task time of
    // a maintenance without Spark jobs are often zero on every run (the
    // spans file keeps them)
    def role(r: String) = withSpan.filter(_.role == r).map(_.span.get)
    val busy = Seq("write", "read").flatMap { r =>
      val ss = role(r)
      Seq(
        (s"$r.ms", med(ss.map(_.ms)), "ms"),
        (s"$r.jobs", med(ss.map(_.jobs.toDouble)), "count"),
        (s"$r.task_ms", med(ss.map(_.taskMs.toDouble)), "ms"),
        (s"$r.shuffle_write_mb", med(ss.map(_.shuffleWriteBytes / 1e6)), "MB"),
        (s"$r.outside_job_ms", med(ss.map(_.outsideJobMs)), "ms"))
    }
    val maint = role("maint")
    val roles = busy ++ Seq(
      ("maint.ms", med(maint.map(_.ms)), "ms"),
      ("maint.jobs", med(maint.map(_.jobs.toDouble)), "count"),
      ("maint.outside_job_ms", med(maint.map(_.outsideJobMs)), "ms"))
    def roundSpan(f: Span => Double) = perRound(withSpan, rounds, r => f(r.span.get))
    val round = Seq(
      ("traced_wall_s", perRoundMedian(ops, rounds, _.wallNs / 1e9), "s"),
      ("round.jobs", roundSpan(_.jobs.toDouble), "count"),
      ("round.task_ms", roundSpan(_.taskMs.toDouble), "ms"),
      ("round.shuffle_write_mb", roundSpan(_.shuffleWriteBytes / 1e6), "MB"),
      ("round.outside_job_ms", roundSpan(_.outsideJobMs), "ms"))
    val meters = tracer.MeterNames.zipWithIndex.map { case (n, i) =>
      (n, roundSpan(_.meters(i).toDouble), "count")
    }
    val counters = Counters.map { n =>
      (n, perRound(ops, rounds, _.counters.getOrElse(n, 0L).toDouble), "count")
    }
    roles ++ round ++ meters ++ counters
  }

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
  }
}
