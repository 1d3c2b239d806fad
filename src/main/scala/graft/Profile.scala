package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Targeted profiling main — answers specific "what fraction of this
  * query is THAT piece" questions with measurements instead of
  * reasoning (the round-4/5 verdict standard: a cost claim must carry a
  * number).
  *
  * Currently: the dd4 connected-components convergence fingerprint —
  * the CC loop runs one driver-visible `.head()` per round over the
  * already-checkpointed edge set; this measures how much of dd4's
  * runtime those actions are.
  *
  * Usage: Profile <sfDir> [repeat=3]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val repeat = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mode = if (args.length > 2) args(2) else "all"

    if (mode == "dd11") {
      profileDd11(spark, sfDir, repeat); spark.stop(); return
    }

    if (mode == "st4meter") {
      // the 10×-rehearsal attribution for st4 (left-outer stream-stream
      // interval join): run the driver key as-is, then read the state
      // meter its drain recorded — output-proportional growth is the
      // data's; peak-state growth beyond the input row count means the
      // watermark stopped evicting (drainWithStateMeter's contract)
      (1 to repeat).foreach { r =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries("st4_stream_left_interval_join")(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val meter = graft.streaming.EventStreams.lastStateMeter
        println(f"[profile] st4 run $r: $sec%.2f s, output rows $n")
        meter.foreach { case (op, peak, fin) =>
          println(s"[profile] st4 run $r state: $op peak=$peak final=$fin")
        }
      }
      spark.stop(); return
    }

    import graft.ops.DedupOps
    def dd4(fp: Option[AtomicLong]): Unit = {
      val docs = Tables.load(spark, sfDir, "documents")
      DedupOps.ccSurvivors(docs, "doc_id",
          DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
            n = 3, minShared = 2L, minJaccard = 0.1, maxShingleFreq = Some(20L)),
          fingerprintNanos = fp)
        .select(col("doc_id"))
        .write.format("noop").mode("overwrite").save()
    }

    dd4(None) // warmup: Janino/JIT, file-listing caches
    val runs = (1 to repeat).map { _ =>
      val fp = new AtomicLong
      val t0 = System.nanoTime()
      dd4(Some(fp))
      val total = (System.nanoTime() - t0) / 1e9
      (total, fp.get() / 1e9)
    }
    runs.zipWithIndex.foreach { case ((total, fpSec), i) =>
      println(f"[profile] dd4 run ${i + 1}: total $total%.3f s, " +
        f"fingerprint $fpSec%.3f s (${100 * fpSec / total}%.1f%%)")
    }
    val best = runs.minBy(_._1)
    println(f"[profile] dd4 best-of-$repeat: total ${best._1}%.3f s, " +
      f"fingerprint ${best._2}%.3f s (${100 * best._2 / best._1}%.1f%%) sf=$sfDir")

    // ---- st10 phase breakdown: where do the changefeed-mirror seconds
    // go — the streaming drains (state-store/lifecycle machinery) or the
    // table ops between them (deleteMor/append commit paths)? ----
    (1 to repeat).foreach { r =>
      val src = java.nio.file.Files.createTempDirectory("pf_src").toString
      val dst = java.nio.file.Files.createTempDirectory("pf_dst").toString
      val ckpt = java.nio.file.Files.createTempDirectory("pf_ck").toString
      val orders = Tables.load(spark, sfDir, "orders")
      val f = orders.filter(col("o_orderstatus") === "F")
      def timed[T](what: String)(body: => T): T = {
        val t0 = System.nanoTime(); val out = body
        println(f"[profile] st10 run $r $what: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        out
      }
      timed("create src+dst") {
        graft.sources.ManifestTable.create(spark, src, f)
        graft.sources.ManifestTable.create(spark, dst, f.limit(0))
      }
      val applySec = new AtomicLong()
      def drain(tag: String): Unit = timed(s"drain $tag") {
        applySec.set(0L)
        val q = spark.readStream
          .format("graft.sources.ManifestStreamSourceProvider")
          .option("changeFeed", "true").load(src)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            val t0 = System.nanoTime()
            graft.sources.ManifestTable.applyChangesMor(
              spark, dst, b, "o_orderkey", "mirror", id)
            applySec.addAndGet(System.nanoTime() - t0); ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        println(f"[profile] st10 run $r   apply inside $tag: ${applySec.get() / 1e9}%.3f s")
      }
      // sampling profiler during the drains: every 5 ms, tally the graft
      // frames on ALL threads — a measurement of where apply time goes
      // without touching the product code
      val tally = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          Thread.getAllStackTraces.values().forEach { st =>
            st.iterator.filter(e => e.getClassName.startsWith("graft."))
              .take(1).foreach { e =>
                tally.computeIfAbsent(
                  s"${e.getClassName}.${e.getMethodName}", _ => new AtomicLong())
                  .incrementAndGet(); ()
              }
          }
          Thread.sleep(5)
        }
      })
      sampler.setDaemon(true)
      if (r == repeat) sampler.start()
      drain("1-initial")
      timed("deleteMor+append") {
        graft.sources.ManifestTable.deleteMor(spark, src, col("o_orderkey") % 3 === 0)
        graft.sources.ManifestTable.append(spark, src,
          orders.filter(col("o_orderstatus") === "O"))
      }
      drain("2-retract+insert")
      timed("deleteMor 2") {
        graft.sources.ManifestTable.deleteMor(spark, src, col("o_custkey") % 7 === 0)
      }
      drain("3-stacked")
      // empty window: isolates the pure streaming-query lifecycle cost
      // (start/plan/WAL/stop with zero new data — no apply commit runs)
      drain("4-empty")
      sampling = false
      if (r == repeat) {
        import scala.jdk.CollectionConverters._
        tally.asScala.toSeq.sortBy(-_._2.get).take(15).foreach { case (m, n) =>
          println(f"[profile] st10 hot frame: $m ${n.get()}%5d samples")
        }
      }
      timed("final compare") {
        val srcDf = graft.sources.ManifestTable.read(spark, src)
        val dstDf = graft.sources.ManifestTable.read(spark, dst)
        println(s"[profile] mirrors=${dstDf.exceptAll(srcDf).isEmpty && srcDf.exceptAll(dstDf).isEmpty}")
      }
    }
    spark.stop()
  }

  /** dd11 phase breakdown: the bench key is 4 maintenance calls over 3
    * corpus slices (bootstrap, 2 windows, replay no-op) plus the
    * from-scratch equality compare and the crossing witness — which
    * phase carries the 30+ s at sf0.1, and within the windows, how much
    * is per-commit fixed cost vs the semi-join recompute? The sampler
    * tallies graft frames during the window phases. */
  private def profileDd11(spark: SparkSession, sfDir: String, repeat: Int): Unit = {
    import graft.ops.DedupOps
    (1 to repeat).foreach { r =>
      val docsR = java.nio.file.Files.createTempDirectory("pf11_docs").toString
      val idxR = java.nio.file.Files.createTempDirectory("pf11_idx").toString
      val szR = java.nio.file.Files.createTempDirectory("pf11_sz").toString
      val pairsR = java.nio.file.Files.createTempDirectory("pf11_pairs").toString
      val docs = Tables.load(spark, sfDir, "documents")
      val MT = graft.sources.ManifestTable
      val cap = 5L
      def slice(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      def maintain() = graft.ops.LakeOps.maintainNearDupPairsCapped(
        spark, docsR, idxR, szR, pairsR, "doc_id", "text", maxShingleFreq = cap)
      def timed[T](what: String)(body: => T): T = {
        val t0 = System.nanoTime(); val out = body
        println(f"[profile] dd11 run $r $what: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        out
      }
      val tally = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          Thread.getAllStackTraces.values().forEach { st =>
            st.iterator.filter(e => e.getClassName.startsWith("graft."))
              .take(1).foreach { e =>
                tally.computeIfAbsent(
                  s"${e.getClassName}.${e.getMethodName}", _ => new AtomicLong())
                  .incrementAndGet(); ()
              }
          }
          Thread.sleep(5)
        }
      })
      sampler.setDaemon(true)
      if (r == repeat) sampler.start()
      timed("create docs w0")(MT.create(spark, docsR, slice(0)))
      timed("bootstrap maintain")(maintain())
      timed("append w1")(MT.append(spark, docsR, slice(1)))
      timed("maintain w1")(maintain())
      timed("append w2")(MT.append(spark, docsR, slice(2)))
      timed("maintain w2")(maintain())
      timed("replay no-op")(maintain())
      sampling = false
      timed("scratch compare") {
        val scratch = DedupOps.ngramJaccardPairs(MT.read(spark, docsR), "doc_id", "text",
          n = 3, minShared = 2L, minJaccard = 0.1, maxShingleFreq = Some(cap))
        val m = MT.read(spark, pairsR).drop("pair_key")
        println(s"[profile] dd11 matches=${m.exceptAll(scratch).isEmpty && scratch.exceptAll(m).isEmpty}")
      }
      timed("crossing witness") {
        val ex = docs.select(col("doc_id"),
          explode(DedupOps.shingles(col("text"), 3)).as("shingle"))
        ex.groupBy("shingle")
          .agg(count(lit(1)).as("df_all"),
            count(when(pmod(col("doc_id"), lit(3)) < 2, lit(1))).as("df_w1"))
          .filter(col("df_all") > cap && col("df_w1") <= cap)
          .count()
      }
      if (r == repeat) {
        import scala.jdk.CollectionConverters._
        tally.asScala.toSeq.sortBy(-_._2.get).take(20).foreach { case (m, n) =>
          println(f"[profile] dd11 hot frame: $m ${n.get()}%5d samples")
        }
      }
    }
  }
}
