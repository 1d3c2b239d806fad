package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** Row-level change-data-capture end to end: the delete-aware streaming
  * source (`changeFeed=true` — deletion-vector diffs stream as tagged
  * retractions where the plain source refuses) composed with
  * [[ManifestTable.applyChangesMor]] (one atomic commit carrying the
  * grown vector, the appended files, AND the exactly-once watermark).
  * The battery pins the apply's atomicity/idempotency contract and the
  * stream's convergence: a mirror maintained purely from the feed must
  * equal the source at every quiesce point, across restarts, with
  * replays landing as no-ops. */
class ChangeFeedSpec extends SparkSpec {
  private def freshRoot(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")

  private val ct = "_change_type"

  private def assertSame(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

  test("applyChangesMor: deletes + inserts land in ONE commit; deletes are MOR (zero rewrite)") {
    val root = freshRoot("acm")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, root, f, statsColumns = Seq("o_orderkey"))
    val v0 = ManifestTable.versions(spark, root).max
    val filesBefore = ManifestTable.manifestFiles(spark, root, v0).toSet
    val feed = f.filter(col("o_orderkey") % 3 === 0).withColumn(ct, lit("delete"))
      .unionByName(orders.filter(col("o_orderstatus") === "O").withColumn(ct, lit("insert")))
    val v1 = ManifestTable.applyChangesMor(spark, root, feed, "o_orderkey", "w", 0L)
    assert(v1 === v0 + 1, "delete+insert must be ONE commit, not two")
    // old files all survive (delete was merge-on-read), inserts append
    val filesAfter = ManifestTable.manifestFiles(spark, root, v1).toSet
    assert(filesBefore.subsetOf(filesAfter) && filesAfter.size > filesBefore.size)
    assert(ManifestTable.deletionVector(spark, root, v1).isDefined)
    val expected = f.filter(col("o_orderkey") % 3 =!= 0)
      .unionByName(orders.filter(col("o_orderstatus") === "O"))
    assertSame(ManifestTable.read(spark, root), expected)
  }

  test("applyChangesMor: delete-then-reinsert of one key in one batch nets to the NEW row") {
    val root = freshRoot("acm_upsert")
    import spark.implicits._
    ManifestTable.create(spark, root, Seq((1L, "old"), (2L, "keep")).toDF("id", "v"))
    val feed = Seq((1L, "old", "delete"), (1L, "new", "insert")).toDF("id", "v", ct)
    ManifestTable.applyChangesMor(spark, root, feed, "id", "w", 0L)
    assertSame(ManifestTable.read(spark, root),
      Seq((1L, "new"), (2L, "keep")).toDF("id", "v"))
  }

  test("applyChangesMor: a replayed batchId is a no-op; an EMPTY batch still advances the watermark") {
    val root = freshRoot("acm_replay")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, root, f)
    val feed = f.filter(col("o_orderkey") % 5 === 0).withColumn(ct, lit("delete"))
    val v1 = ManifestTable.applyChangesMor(spark, root, feed, "o_orderkey", "w", 0L)
    val vReplay = ManifestTable.applyChangesMor(spark, root, feed, "w", "w", 0L)
    assert(vReplay === v1, "replayed batch must not commit")
    assertSame(ManifestTable.read(spark, root), f.filter(col("o_orderkey") % 5 =!= 0))
    // empty batch: watermark-only commit (replay detection must not regress)
    val empty = f.limit(0).withColumn(ct, lit("insert"))
    val v2 = ManifestTable.applyChangesMor(spark, root, empty, "o_orderkey", "w", 1L)
    assert(v2 === v1 + 1)
    assert(ManifestTable.manifestMeta(spark, root, v2)("txn-w") === "1")
    assertSame(ManifestTable.read(spark, root), f.filter(col("o_orderkey") % 5 =!= 0))
  }

  test("applyChangesMor guards: missing _change_type, null delete keys, schema drift all refuse") {
    val root = freshRoot("acm_guard")
    import spark.implicits._
    ManifestTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    intercept[IllegalArgumentException] {
      ManifestTable.applyChangesMor(spark, root,
        Seq((2L, "b")).toDF("id", "v"), "id", "w", 0L)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.applyChangesMor(spark, root,
        Seq((Option.empty[Long], "a", "delete")).toDF("id", "v", ct), "id", "w", 0L)
    }
    intercept[IllegalArgumentException] { // insert schema must match the table
      ManifestTable.applyChangesMor(spark, root,
        Seq((2L, "insert")).toDF("id", ct), "id", "w", 0L)
    }
    val e = intercept[IllegalArgumentException] { // unknown tags refuse loudly
      ManifestTable.applyChangesMor(spark, root,
        Seq((1L, "a", "update_preimage")).toDF("id", "v", ct), "id", "w", 0L)
    }
    assert(e.getMessage.contains("update_preimage"), e.getMessage)
    // nothing landed: guards fire before any commit
    assert(ManifestTable.versions(spark, root).max === 1L)
  }

  test("applyChangesMor: a garbage feed of 1,000 distinct tags refuses after a bounded tag collect") {
    val root = freshRoot("acm_garbage")
    import spark.implicits._
    ManifestTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val garbage = spark.range(1000).select(col("id"), lit("a").as("v"),
      format_string("bogus-%04d", col("id")).as(ct))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.applyChangesMor(spark, root, garbage, "id", "w", 0L)
    }
    val named = "bogus-\\d{4}".r.findAllIn(e.getMessage).toSet.size
    assert(named >= 1 && named <= 5,
      s"the refusal must name at most 5 of the feed's tags, named $named")
    assert(ManifestTable.versions(spark, root).max === 1L)
  }

  test("changeFeed stream: initial load, appends, and MOR deletes drain into a converging mirror; restart resumes") {
    val src = freshRoot("cf_src")
    val dst = freshRoot("cf_dst")
    val ckpt = freshRoot("cf_ckpt")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, src, f)
    ManifestTable.create(spark, dst, f.limit(0)) // empty mirror, same schema
    def run(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ManifestStreamSourceProvider")
        .option("changeFeed", "true").load(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          ManifestTable.applyChangesMor(spark, dst, b, "o_orderkey", "mirror", id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // initial load
    assertSame(ManifestTable.read(spark, dst), ManifestTable.read(spark, src))
    // changes WHILE THE QUERY IS DOWN: a MOR delete and an append — the
    // restart must pick up exactly the missed window, deletes included
    ManifestTable.deleteMor(spark, src, col("o_orderkey") % 3 === 0)
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") === "O"))
    run()
    assertSame(ManifestTable.read(spark, dst), ManifestTable.read(spark, src))
    // stacked second delete spanning both old and appended rows
    ManifestTable.deleteMor(spark, src, col("o_custkey") % 7 === 0)
    run()
    assertSame(ManifestTable.read(spark, dst), ManifestTable.read(spark, src))
    assertSame(ManifestTable.read(spark, dst),
      f.filter(col("o_orderkey") % 3 =!= 0)
        .unionByName(orders.filter(col("o_orderstatus") === "O"))
        .filter(col("o_custkey") % 7 =!= 0))
  }

  test("changeFeed stream with onRefusal=refresh: an OVERWRITE window lands as one atomic refresh, then resumes incrementally") {
    val src = freshRoot("cf_rfr_src")
    val dst = freshRoot("cf_rfr_dst")
    val ckpt = freshRoot("cf_rfr_ckpt")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, src, f)
    ManifestTable.create(spark, dst, f.limit(0))
    def run(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ManifestStreamSourceProvider")
        .option("changeFeed", "true").option("onRefusal", "refresh").load(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          ManifestTable.applyChangesMor(spark, dst, b, "o_orderkey", "mirror", id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // initial load
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") === "O"))
    run() // incremental
    assertSame(ManifestTable.read(spark, dst), ManifestTable.read(spark, src))
    // an OVERWRITE while the query is down: the plain change feed
    // refuses here and kills the query — under onRefusal=refresh the
    // restart drains it as ONE atomic watermarked overwrite instead
    ManifestTable.overwrite(spark, src, orders.filter(col("o_orderstatus") === "P"))
    run()
    assertSame(ManifestTable.read(spark, dst), ManifestTable.read(spark, src))
    val tipOps = ManifestTable.history(spark, dst).map(_.operation)
    assert(tipOps.contains("apply-refresh"),
      s"the refusal window must land as apply-refresh, got $tipOps")
    // the NEXT window is incremental again (a delta apply, not a refresh)
    ManifestTable.deleteMor(spark, src, col("o_orderkey") % 4 === 0)
    run()
    assertSame(ManifestTable.read(spark, dst), ManifestTable.read(spark, src))
    assert(ManifestTable.history(spark, dst).map(_.operation)
      .count(_ == "apply-refresh") === 1,
      "the post-refresh window must apply incrementally")
  }

  test("changeFeed stream onRefusal=refresh: a refresh whose end state is EMPTY truncates the mirror (sentinel-carried signal)") {
    val src = freshRoot("cf_rfre_src")
    val dst = freshRoot("cf_rfre_dst")
    val ckpt = freshRoot("cf_rfre_ckpt")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, src, f)
    ManifestTable.create(spark, dst, f.limit(0))
    def run(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ManifestStreamSourceProvider")
        .option("changeFeed", "true").option("onRefusal", "refresh").load(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          ManifestTable.applyChangesMor(spark, dst, b, "o_orderkey", "mirror", id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // initial load
    assert(ManifestTable.read(spark, dst).count() === f.count())
    // overwrite with ZERO rows while the query is down: the refusal
    // window's end state is EMPTY — the batch must still be recognized
    // as a refresh (the in-band 'truncate' sentinel carries the signal
    // past the zero-row ambiguity), not fall through to the incremental
    // path and silently leave every stale row in the mirror
    ManifestTable.overwrite(spark, src, f.limit(0))
    run()
    assert(ManifestTable.read(spark, dst).count() === 0,
      "an empty refresh window must TRUNCATE the mirror, not no-op")
    assert(ManifestTable.history(spark, dst).map(_.operation).contains("apply-refresh"),
      "the empty refresh must land as an apply-refresh commit")
    // and the next window resumes incrementally from the refresh point
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") === "O"))
    run()
    assertSame(ManifestTable.read(spark, dst), ManifestTable.read(spark, src))
    assert(ManifestTable.history(spark, dst).map(_.operation)
      .count(_ == "apply-refresh") === 1,
      "the post-refresh append window must apply incrementally")
  }

  test("changeFeed stream: a RESTORE past a MOR delete streams resurrections as inserts") {
    val src = freshRoot("cf_restore_src")
    val dst = freshRoot("cf_restore_dst")
    val ckpt = freshRoot("cf_restore_ckpt")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, src, f)
    val vClean = ManifestTable.versions(spark, src).max
    ManifestTable.create(spark, dst, f.limit(0))
    def run(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ManifestStreamSourceProvider")
        .option("changeFeed", "true").load(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          ManifestTable.applyChangesMor(spark, dst, b, "o_orderkey", "mirror", id); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    ManifestTable.deleteMor(spark, src, col("o_orderkey") % 2 === 0)
    run()
    assertSame(ManifestTable.read(spark, dst), f.filter(col("o_orderkey") % 2 =!= 0))
    ManifestTable.restore(spark, src, vClean) // rows come back
    run()
    assertSame(ManifestTable.read(spark, dst), f)
  }

  test("changeFeed stream still refuses a file REWRITE mid-stream (not row-expressible)") {
    val src = freshRoot("cf_refuse_src")
    val ckpt = freshRoot("cf_refuse_ckpt")
    ManifestTable.create(spark, src, orders.limit(100).repartition(4))
    val q = spark.readStream
      .format("graft.sources.ManifestStreamSourceProvider")
      .option("changeFeed", "true").load(src)
      .writeStream.format("memory").queryName("cf_refuse")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      ManifestTable.compact(spark, src, 64L * 1024 * 1024)
      val e = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
      assert((chain(e) ++ Option(q.exception.orNull).toSeq.flatMap(chain))
        .exists(m => m != null && m.contains("full refresh")),
        s"expected the rewrite refusal, got: ${chain(e)}")
    } finally q.stop()
  }

  test("readChanges: across a compact a row-tracked table reads an empty delta, an untracked one refuses") {
    val tracked = freshRoot("rc_compact_tr")
    val plain = freshRoot("rc_compact_pl")
    val f = orders.filter(col("o_orderstatus") === "F").repartition(3)
    ManifestTable.create(spark, tracked, f)
    ManifestTable.create(spark, plain, f)
    ManifestTable.enableRowTracking(spark, tracked)
    val cTracked = ManifestTable.versions(spark, tracked).max
    val cPlain = ManifestTable.versions(spark, plain).max
    ManifestTable.compact(spark, tracked, 64L * 1024 * 1024)
    ManifestTable.compact(spark, plain, 64L * 1024 * 1024)
    val (feed, tip) = ManifestTable.readChanges(spark, tracked, cTracked)
    assert(tip === ManifestTable.versions(spark, tracked).max)
    assert(feed.count() === 0, "an id-preserving rewrite must be an empty delta")
    val e = intercept[graft.sources.NotDeltaExpressible] {
      ManifestTable.readChanges(spark, plain, cPlain)
    }
    assert(e.getMessage.contains("full refresh"), e.getMessage)
  }

  test("readChanges: a cursor vacuumed past refuses with NotDeltaExpressible, tracked or not") {
    Seq(true, false).foreach { track =>
      val root = freshRoot("rc_vacuum")
      ManifestTable.create(spark, root, orders.filter(col("o_orderstatus") === "F"))
      if (track) ManifestTable.enableRowTracking(spark, root)
      val cursor = ManifestTable.versions(spark, root).max
      ManifestTable.append(spark, root, orders.filter(col("o_orderstatus") === "O").limit(10))
      ManifestTable.append(spark, root, orders.filter(col("o_orderstatus") === "O").limit(5))
      ManifestTable.vacuum(spark, root, keepVersions = 1)
      assert(!ManifestTable.versions(spark, root).contains(cursor))
      val e = intercept[graft.sources.NotDeltaExpressible] {
        ManifestTable.readChanges(spark, root, cursor)
      }
      assert(e.getMessage.contains("full refresh"), s"tracked=$track: ${e.getMessage}")
    }
  }

  test("readChanges: includeRowId on an untracked table fails loudly") {
    val root = freshRoot("rc_rowid")
    ManifestTable.create(spark, root, orders.limit(20))
    val cursor = ManifestTable.versions(spark, root).max
    ManifestTable.append(spark, root, orders.limit(5))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, root, cursor, includeRowId = true)
    }
    assert(e.getMessage.contains("row tracking"), e.getMessage)
  }

  test("readChanges: one call lists the log once, tracked or not") {
    Seq(true, false).foreach { track =>
      val root = freshRoot("rc_listing")
      ManifestTable.create(spark, root, orders.filter(col("o_orderstatus") === "F"))
      if (track) ManifestTable.enableRowTracking(spark, root)
      val cursor = ManifestTable.versions(spark, root).max
      ManifestTable.append(spark, root, orders.filter(col("o_orderstatus") === "O"))
      ManifestTable.deleteMor(spark, root, col("o_orderkey") % 3 === 0)
      val tip = ManifestTable.versions(spark, root).max
      val before = ManifestTable.listingsOf(root)
      val (feed, consumed) = ManifestTable.readChanges(spark, root, cursor, Some(tip))
      assert(ManifestTable.listingsOf(root) - before === 1, s"tracked=$track")
      assert(consumed === tip)
      assert(feed.filter(col(ct) === "delete").count() > 0)
    }
  }

  test("readChangesSince: one call lists the log once, on an empty or a non-empty window") {
    val root = freshRoot("rcs_listing")
    ManifestTable.create(spark, root, orders.filter(col("o_orderstatus") === "F"))
    val cursor = ManifestTable.versions(spark, root).max
    def listingsOfOneCall(since: Long): (Long, Long, Long) = {
      val before = ManifestTable.listingsOf(root)
      val (feed, consumed) = ManifestTable.readChangesSince(spark, root, since)
      (ManifestTable.listingsOf(root) - before, consumed, feed.count())
    }
    assert(listingsOfOneCall(cursor) === ((1L, cursor, 0L)), "empty window")
    val appended = orders.filter(col("o_orderstatus") === "O")
    ManifestTable.append(spark, root, appended)
    assert(listingsOfOneCall(cursor) === ((1L, cursor + 1, appended.count())),
      "non-empty window")
  }
}
