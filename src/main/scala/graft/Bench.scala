package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * Queries are materialized through the `noop` sink, not `count()` —
  * count() lets Catalyst prune away the projected expressions (an md5 or
  * cosine query would benchmark a row count, not the work).
  */
object Bench {

  /** The contamination self-check, factored out so the trigger rule is
    * spec-pinned: among CLEAN passes (negative totals are the
    * failed-pass sentinel and never participate), a >2× spread means an
    * ambient-load window hit at least one pass — the round-6 driver
    * artifact (pass totals [2005.5, 231.6]) is exactly the shape this
    * flags. The min across passes is still the trustworthy statistic;
    * the warning is about trusting the ARTIFACT without a re-run. */
  def divergenceWarning(passTotals: Seq[Double]): Option[String] = {
    val clean = passTotals.filter(_ >= 0)
    if (clean.size >= 2 && clean.max > 2.0 * clean.min)
      Some(f"[bench] WARNING: pass totals diverge >2x (${clean.min}%.1f s vs ${clean.max}%.1f s) — ambient load contaminated at least one pass; re-run on a quiet machine before trusting this artifact")
    else None
  }

  /** `SPARK_GRAFT_CPUS` as the core count: a positive integer in plain
    * digits, or a refusal — the value lands in `local[...]`, unquoted in
    * the summary JSON and in the default output file name, where `*` or
    * a stray character would give invalid JSON or a glob-shaped path. */
  def cpusOf(raw: String): String = {
    require(raw.matches("[0-9]+") && raw.toIntOption.exists(_ > 0),
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'")
    raw
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cpusOf(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // shuffle partitions default to the core count, overridable for
    // partition-scaling experiments (does 10× growth on a fixed 32-way
    // layout track the partition count, i.e. scale out on a real cluster?)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first measured query doesn't pay startup
    spark.read.parquet(s"$sfDir/nation.parquet").write.format("noop").mode("overwrite").save()
    // local iteration knobs (the driver sets neither): SPARK_GRAFT_ONLY
    // runs a comma-separated subset; SPARK_GRAFT_REPEAT re-runs each query
    // N times and keeps the fastest (isolates plan cost from JIT noise)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // default min-of-2: single-shot timings carry multi-second transient
    // stalls (one GC pause or IO hiccup lands on whichever query is
    // running — measured an 0.36 s projection reading 8.8 s once in a
    // full-suite run). Two runs bound that tail; the JSON discloses the
    // repeat count used.
    val repeat = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Steady-state warmup: run the measured set once at the smallest SF
    // before timing anything. Identical plan shapes generate identical
    // codegen sources (Janino cache hit), so this pre-pays the one-time
    // Janino compile + C2 JIT of every plan's generated code, which a
    // single-shot run otherwise attributes to whichever target-SF query
    // happens to execute a path first (measured at sf0.1: dd2 10.6 s
    // cold-path vs 2.5 s steady-state — round-3's "txt5 regressed 2.1x"
    // was exactly this, queries absorbing warmup by run-order lottery).
    // Costs ~15 s at sf0.001; disable with SPARK_GRAFT_WARMUP=0.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      sfDir.replaceAll("sf[0-9.]+$", "sf0.001"))
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
        && warmDir != sfDir && new java.io.File(warmDir).isDirectory) {
      selected.foreach { case (name, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] warmup $name: ${e.getMessage}") }
      }
    }
    // Repeats are INTERLEAVED as whole-suite passes (pass 1 runs every
    // query, then pass 2 re-runs every query), not back-to-back per query.
    // Round 5's driver run proved why: a single ambient-load window
    // inflated exactly the contiguous alphabetical stretch f1→hh1→hh2→
    // hof1→j1 (×3-×18) while both neighbors read ×1.06 — and per-query
    // back-to-back repeats are ADJACENT IN TIME, so one multi-minute
    // stall covers both of them and min-of-2 bounds nothing. Min across
    // time-separated passes survives any stall shorter than a full pass.
    val passes = (1 to repeat).map { _ =>
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch {
            case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    }
    val results = selected.map { case (name, _) =>
      val runs = passes.map(p => p.find(_._1 == name).get)
      (name, runs.map(_._2).min, runs.forall(_._3))
    }
    // per-pass totals disclose a degraded pass post-hoc (if pass totals
    // diverge wildly, an ambient window hit one of them — the min is
    // still trustworthy, but the evidence is on the record). A pass
    // containing ANY failed query carries a NEGATIVE total (same sentinel
    // rule as the headline) so a fast-failing query can never make a
    // pass read as the fastest run.
    val passTotals = passes.map { p =>
      val s = p.map(_._2).sum
      if (p.forall(_._3)) s else -s
    }
    // self-identify a contaminated artifact: if clean pass totals diverge
    // >2x, an ambient-load window hit one pass — warn loudly so the
    // artifact is never trusted without a re-run
    divergenceWarning(passTotals).foreach(System.err.println)
    // failed queries carry NEGATIVE seconds (sentinel) and a failed list,
    // and a run with ANY failure negates the headline total too — a query
    // that fails fast must never read as a faster run
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) v else -v) }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val elapsed = results.map(_._2).sum
    val total = if (results.forall(_._3)) elapsed else -elapsed
    // per-query median + count alongside the total: the total inflates
    // mechanically as rounds add queries (each one carries ~0.5-1 s of
    // fixed plan/scan cost), so cross-round comparisons should use the
    // median or per-query seconds, never bare totals over different sets
    val sorted = results.map(_._2).sorted
    val median =
      if (sorted.isEmpty) 0.0
      else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    val passJson = passTotals.mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"median_query_sec":$median,"repeat":$repeat,"pass_totals":$passJson,"queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // A second, guaranteed-short summary line AFTER the full line: at 244
    // queries the full line is ~8 KB and a capture that keeps only a 2 KB
    // stdout tail truncates it into unparseable JSON. The summary repeats
    // the headline fields (same keys, no per-query map) so a truncated
    // tail still yields the totals. Consumers of the contractual full
    // line are unaffected — it is printed first and in full.
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","n_queries":${results.size},"median_query_sec":$median,"repeat":$repeat,"pass_totals":$passJson,"failed":$failed,"sf":"$sfDir","cpus":$cpus}""")
    // the driver's artifact keeps only the tail of stdout, which truncates
    // the totals once the suite is large — persist the complete metric
    // JSON so every headline number stays auditable post-hoc. The default
    // path is cpu-suffixed: the driver runs the bench at two core counts
    // back-to-back, and a single fixed path made the second run clobber
    // the first (round-16 lost its full 32-core per-query data that way).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"/root/repo/bench_out_c$cpus.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    // keep the legacy fixed path too (best-effort) so existing tooling
    // that reads /root/repo/bench_out.json still finds the latest run
    if (!sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get("/root/repo/bench_out.json"), line + "\n")
      catch { case _: Throwable => () }
    spark.stop()
  }
}
