package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** The PAIRWISE conflict battery for the manifest table's optimistic
  * concurrency. The protocol is a strict version CAS: every content op
  * plans against the tip it read (v0) and its commit aborts — loudly,
  * with "concurrent modification … re-run" — if ANY other commit landed
  * first. That is strictly safer than a logical conflict matrix: a
  * files-only compare would let a racing MOR delete (same file set, new
  * deletion vector) or a racing metadata commit slip through and be
  * CLOBBERED by the loser's v0-derived meta — lost deletes with no
  * error. These tests pin, for each racing pair, the full contract:
  * (a) at least one op wins; (b) the loser aborts with the retryable
  * message, never publishes half-state; (c) retrying the loser yields
  * exactly ONE of the two serial schedules; (d) no update is ever lost.
  * APPEND is the exception that needs no retry: commit re-bases it
  * internally (appends commute with everything that keeps their files).
  */
class ConcurrencySpec extends SparkSpec {
  private def freshRoot(p: String): String =
    Files.createTempDirectory(p).toFile.getAbsolutePath

  private def orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")

  private def assertSameContent(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$what differ")

  /** Fire both thunks on a barrier; afterwards RETRY any that aborted
    * with the concurrent-modification signal (the documented protocol).
    * Any other exception propagates. Returns how many ops aborted. */
  private def race(a: () => Unit, b: () => Unit): Int = {
    val barrier = new CyclicBarrier(2)
    val aborted = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(a, b).map { op =>
      new Thread(() => {
        barrier.await()
        try op()
        catch {
          case e: IllegalStateException
              if e.getMessage != null && e.getMessage.contains("concurrent modification") =>
            aborted.add(op); ()
          case e: Throwable => failures.add(e); ()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()
    // the race is over: the documented recovery is a plain re-run
    aborted.forEach(op => op())
    aborted.size()
  }

  /** Run `op` with `racer` landing between its plan and its publish,
    * deterministically: a one-shot claim arm on the `file` scheme runs
    * the racer (whose own publish claims normally) the first time a
    * manifest slot under `root` is claimed, then claims the op's slot
    * with exists+rename — already taken by the racer, so the op's
    * commit sees a tip it did not plan against. */
  private def withRacer[T](root: String, racer: () => Unit)(op: => T): T = {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    ManifestTable.registerSlotClaimer("file", new graft.sources.SlotClaimer {
      def claim(f: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean = {
        if (dst.toUri.getPath.startsWith(root) && armed.getAndSet(false)) racer()
        !f.exists(dst) && f.rename(tmp, dst)
      }
    })
    try op finally ManifestTable.unregisterSlotClaimer("file")
  }

  /** A 400-row planned-op fixture (4 files, a `k2 = 2 * o_orderkey`
    * column for the generated-column op) and the 25-row batch the racer
    * appends (keys disjoint from the fixture's). */
  private lazy val fixture: (DataFrame, DataFrame) = {
    val withK2 = orders.withColumn("k2", col("o_orderkey") * 2L)
    val base = withK2.orderBy("o_orderkey").limit(400).localCheckpoint()
    val extra = base.limit(25).withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("k2", col("o_orderkey") * 2L).localCheckpoint()
    (base, extra)
  }

  /** Fresh fixture table at `root` (v1), then `setup`. */
  private def fixtureTable(p: String, setup: String => Unit = _ => ()): String = {
    val root = freshRoot(p)
    ManifestTable.create(spark, root, fixture._1.repartition(4))
    setup(root)
    root
  }

  /** `op` planned on a fixture table must abort with the typed
    * "concurrent modification … re-run" when an append lands first, and
    * the table must hold exactly the fixture plus the racer's rows, with
    * the racer's append as the tip. */
  private def assertPlannedAbort(name: String, setup: String => Unit = _ => ())(
      op: String => Any): String = {
    val root = fixtureTable(s"cc_plan_$name", setup)
    val before = ManifestTable.read(spark, root).count()
    val e = withClue(s"$name: ")(intercept[graft.sources.ConcurrentCommit](withRacer(root,
      () => { ManifestTable.append(spark, root, fixture._2); () })(op(root))))
    assert(e.getMessage.contains("concurrent modification") && e.getMessage.contains("re-run"),
      s"$name: ${e.getMessage}")
    assert(ManifestTable.history(spark, root).last.operation === "append",
      s"$name published over the racing append")
    assert(ManifestTable.read(spark, root).count() === before + 25L,
      s"$name: the racer's rows must survive the abort")
    root
  }

  test("full-rewrite OPTIMIZEs abort on a commit landing between plan and publish; the racer's rows survive") {
    val (base, extra) = fixture
    val target = 64L * 1024 * 1024
    Seq[(String, String => Any)](
      "compact" -> (r => ManifestTable.compact(spark, r, target)),
      "zorder" -> (r => ManifestTable.optimizeZOrder(spark, r, Seq("o_custkey", "o_orderkey"), target)),
      "cluster" -> (r => ManifestTable.optimizeClusterBy(spark, r,
        graft.sources.BucketTransform(4, "o_custkey"), target))
    ).foreach { case (name, op) =>
      val root = assertPlannedAbort(name)(op)
      // the documented recovery: a re-run rewrites everything, racer included
      op(root)
      assertSameContent(ManifestTable.read(spark, root), base.unionByName(extra),
        s"$name re-run")
    }
  }

  test("every other planned op aborts on a commit landing between plan and publish") {
    val (base, _) = fixture
    val someKeys = base.filter(col("o_orderkey") % 5 === 0).localCheckpoint()
    val bucket = graft.sources.BucketTransform(4, "o_custkey")
    Seq[(String, String => Unit, String => Any)](
      ("merge", _ => (), r => ManifestTable.merge(spark, r,
        someKeys.withColumn("o_totalprice", col("o_totalprice") + 1.0), "o_orderkey")),
      ("delete", _ => (), r => ManifestTable.delete(spark, r, col("o_orderkey") % 5 === 0)),
      ("compact_small", _ => (), r => ManifestTable.compactSmall(spark, r,
        64L * 1024 * 1024, 64L * 1024 * 1024)),
      ("purge_deletes",
        r => { ManifestTable.deleteMor(spark, r, col("o_orderkey") % 5 === 0); () },
        r => ManifestTable.purgeDeletes(spark, r)),
      ("add_constraint", _ => (), r => ManifestTable.addCheckConstraint(spark, r,
        "positive_price", "o_totalprice > 0")),
      ("add_generated", _ => (), r => ManifestTable.addGeneratedColumn(spark, r,
        "k2", "o_orderkey * 2")),
      ("enable_row_tracking", _ => (), r => ManifestTable.enableRowTracking(spark, r)),
      ("rename_column", _ => (), r => ManifestTable.renameColumn(spark, r,
        "o_orderpriority", "priority")),
      ("drop_column", _ => (), r => ManifestTable.dropColumn(spark, r, "o_orderpriority")),
      ("evolve_spec", _ => (), r => ManifestTable.evolvePartitionSpec(spark, r, bucket)),
      ("drop_partition_field",
        r => { ManifestTable.evolvePartitionSpec(spark, r, bucket); () },
        r => ManifestTable.dropPartitionField(spark, r, bucket.name))
    ).foreach { case (name, setup, op) => assertPlannedAbort(name, setup)(op) }
  }

  test("a commit landing between plan and publish: applyChangesMor and deleteMor re-plan, append re-bases") {
    val (base, extra) = fixture
    val racer = (root: String) => () => { ManifestTable.append(spark, root, extra); () }
    val r1 = fixtureTable("cc_heal_apply")
    val inserts = base.limit(10).withColumn("o_orderkey", col("o_orderkey") + 20000000L)
      .withColumn("k2", col("o_orderkey") * 2L)
    val deletes = base.filter(col("o_orderkey") % 5 === 0)
    val feed = inserts.withColumn("_change_type", lit("insert"))
      .unionByName(deletes.withColumn("_change_type", lit("delete"))).localCheckpoint()
    withRacer(r1, racer(r1))(
      ManifestTable.applyChangesMor(spark, r1, feed, "o_orderkey", "sink", 1L))
    assertSameContent(ManifestTable.read(spark, r1),
      base.filter(col("o_orderkey") % 5 =!= 0).unionByName(extra).unionByName(inserts),
      "apply-changes after a racing append")
    val r2 = fixtureTable("cc_heal_delete")
    withRacer(r2, racer(r2))(ManifestTable.deleteMor(spark, r2, col("o_orderkey") % 5 === 0))
    assertSameContent(ManifestTable.read(spark, r2),
      base.unionByName(extra).filter(col("o_orderkey") % 5 =!= 0),
      "delete-mor after a racing append")
    val r3 = fixtureTable("cc_rebase_append")
    withRacer(r3, racer(r3))(ManifestTable.append(spark, r3, inserts))
    assertSameContent(ManifestTable.read(spark, r3),
      base.unionByName(extra).unionByName(inserts), "append after a racing append")
  }

  test("APPEND vs APPEND: both land without aborts (commit re-bases); no rows lost") {
    val root = freshRoot("cc_app")
    ManifestTable.create(spark, root, orders.limit(0))
    val a = orders.filter(col("o_orderkey") % 2 === 0)
    val b = orders.filter(col("o_orderkey") % 2 === 1)
    val aborts = race(
      () => { ManifestTable.append(spark, root, a); () },
      () => { ManifestTable.append(spark, root, b); () })
    assert(aborts === 0, "appends must re-base internally, never abort")
    assert(ManifestTable.read(spark, root).count() === orders.count())
  }

  test("APPEND vs APPEND across a segmented checkpoint: re-base holds, orphaned segments vacuum, cold reads exact") {
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      val root = freshRoot("cc_seg")
      val base = orders.filter(col("o_orderkey") % 16 === 0).localCheckpoint()
      ManifestTable.create(spark, root, base.repartition(10),
        statsColumns = Seq("o_orderkey")) // v1: segmented create
      val parts = (1 to 10).map(i =>
        orders.filter(pmod(col("o_orderkey"), lit(16)) === i).localCheckpoint())
      // 10 appends from two racing writers drive versions v2..v11 — the
      // v10 CHECKPOINT (a segmented full with freshly-sealed segment
      // files) is contended: a loser may have written segments for a
      // slot it lost; those are invisible orphans, never corruption
      val aborts = race(
        () => parts.take(5).foreach { p =>
          ManifestTable.append(spark, root, p.coalesce(1),
            statsColumns = Seq("o_orderkey")); ()
        },
        () => parts.drop(5).foreach { p =>
          ManifestTable.append(spark, root, p.coalesce(1),
            statsColumns = Seq("o_orderkey")); ()
        })
      assert(aborts === 0, "appends must re-base internally, never abort")
      val expect = base.count() + parts.map(_.count()).sum
      assert(ManifestTable.read(spark, root).count() === expect)
      val head10 = {
        val src = scala.io.Source.fromFile(
          java.nio.file.Paths.get(root, "_graft_log", "v00000010.manifest").toFile)
        try src.getLines().next() finally src.close()
      }
      assert(head10.contains(" segs=1"), "the contended checkpoint must store segmented")
      // orphans GC with vacuum and the vacuumed tip resolves COLD
      ManifestTable.vacuum(spark, root, keepVersions = 1)
      ManifestTable.dropResolvedCacheForTest()
      assert(ManifestTable.read(spark, root).count() === expect)
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("MERGE vs MOR DELETE on overlapping keys: loser aborts + retry = one of the two serial schedules") {
    (1 to 3).foreach { round =>
      val root = freshRoot(s"cc_md$round")
      val base = orders.limit(200).localCheckpoint()
      ManifestTable.create(spark, root, base.repartition(2))
      val upserts = base.limit(60)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0).localCheckpoint()
      race(
        () => { ManifestTable.merge(spark, root, upserts, "o_orderkey"); () },
        () => { ManifestTable.deleteMor(spark, root, col("o_orderkey") % 3 === 0); () })
      def mergeApplied(df: DataFrame): DataFrame =
        df.join(upserts.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionByName(upserts)
      def delApplied(df: DataFrame): DataFrame =
        df.filter(col("o_orderkey") % 3 =!= 0)
      val mergeThenDelete = delApplied(mergeApplied(base))
      val deleteThenMerge = mergeApplied(delApplied(base))
      val got = ManifestTable.read(spark, root)
      val isS1 = got.exceptAll(mergeThenDelete).isEmpty &&
        mergeThenDelete.exceptAll(got).isEmpty
      val isS2 = got.exceptAll(deleteThenMerge).isEmpty &&
        deleteThenMerge.exceptAll(got).isEmpty
      assert(isS1 || isS2,
        s"round $round: final state matches NEITHER serial schedule — an update was lost")
    }
  }

  test("MOR DELETE vs MOR DELETE: both vectors survive (the files-only-compare hole is closed)") {
    val root = freshRoot("cc_dd")
    val base = orders.limit(300).localCheckpoint()
    ManifestTable.create(spark, root, base.repartition(2))
    race(
      () => { ManifestTable.deleteMor(spark, root, col("o_orderkey") % 3 === 0); () },
      () => { ManifestTable.deleteMor(spark, root, col("o_orderkey") % 5 === 0); () })
    // both deletes commute logically: EVERY serial schedule removes the
    // union — a lost vector would resurrect one predicate's rows
    assertSameContent(ManifestTable.read(spark, root),
      base.filter(col("o_orderkey") % 3 =!= 0 && col("o_orderkey") % 5 =!= 0),
      "delete∥delete")
  }

  test("COMPACT-SMALL vs MOR DELETE: any schedule converges to delete-applied content; table stays readable") {
    val root = freshRoot("cc_cd")
    val base = orders.limit(400).localCheckpoint()
    ManifestTable.create(spark, root, base.repartition(8))
    race(
      () => { ManifestTable.compactSmall(spark, root, 64L * 1024 * 1024,
        64L * 1024 * 1024); () },
      () => { ManifestTable.deleteMor(spark, root, col("o_orderkey") % 4 === 0); () })
    assertSameContent(ManifestTable.read(spark, root),
      base.filter(col("o_orderkey") % 4 =!= 0), "compact∥delete")
  }

  test("CDC APPLY vs OPTIMIZE: the sink's apply self-heals across a racing compaction (no abort reaches the caller)") {
    val root = freshRoot("cc_ao")
    val base = orders.limit(300).localCheckpoint()
    ManifestTable.create(spark, root, base.repartition(6))
    val inserts = base.orderBy(col("o_orderkey")).limit(20)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("_change_type", lit("insert"))
    val deletes = base.orderBy(col("o_orderkey")).limit(10)
      .withColumn("_change_type", lit("delete"))
    val feed = inserts.unionByName(deletes).localCheckpoint()
    val applyFailed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val barrier = new CyclicBarrier(2)
    val tA = new Thread(() => {
      barrier.await()
      // the streaming-sink path: must NEVER surface the CAS abort —
      // applyChangesMor re-plans at the new tip internally
      try ManifestTable.applyChangesMor(spark, root, feed, "o_orderkey", "sink", 1L)
      catch { case e: Throwable => applyFailed.set(e) }
    })
    val tB = new Thread(() => {
      barrier.await()
      try ManifestTable.compactSmall(spark, root, 64L * 1024 * 1024, 64L * 1024 * 1024)
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("concurrent modification") =>
          ManifestTable.compactSmall(spark, root, 64L * 1024 * 1024, 64L * 1024 * 1024); ()
      }
    })
    tA.start(); tB.start(); tA.join(); tB.join()
    assert(applyFailed.get() == null,
      s"the CDC apply must self-heal across the racing OPTIMIZE, got ${applyFailed.get()}")
    val deletedKeys = deletes.select("o_orderkey")
    val expected = base.join(deletedKeys, Seq("o_orderkey"), "left_anti")
      .unionByName(inserts.drop("_change_type"))
    assertSameContent(ManifestTable.read(spark, root), expected, "cdc∥optimize")
  }

  test("MOR DELETE vs OPTIMIZE: the delete self-heals across the racing compaction (no abort reaches the caller)") {
    val root = freshRoot("cc_do")
    val base = orders.limit(400).localCheckpoint()
    ManifestTable.create(spark, root, base.repartition(8))
    val deleteFailed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val barrier = new CyclicBarrier(2)
    val tA = new Thread(() => {
      barrier.await()
      // the batch-delete-pipeline path: a delete is declarative (rows
      // WHERE predicate), so deleteMor re-plans at the new tip
      // internally — scheduled OPTIMIZE beside it must never surface
      // "re-run" to the caller
      try { ManifestTable.deleteMor(spark, root, col("o_orderkey") % 4 === 0); () }
      catch { case e: Throwable => deleteFailed.set(e) }
    })
    val tB = new Thread(() => {
      barrier.await()
      try { ManifestTable.compactSmall(spark, root, 64L * 1024 * 1024,
        64L * 1024 * 1024); () }
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("concurrent modification") =>
          ManifestTable.compactSmall(spark, root, 64L * 1024 * 1024,
            64L * 1024 * 1024); ()
      }
    })
    tA.start(); tB.start(); tA.join(); tB.join()
    assert(deleteFailed.get() == null,
      s"deleteMor must self-heal across the racing OPTIMIZE, got ${deleteFailed.get()}")
    assertSameContent(ManifestTable.read(spark, root),
      base.filter(col("o_orderkey") % 4 =!= 0), "delete∥optimize")
  }

  test("two IVM writers on one mart: racing maintainers keep the mart equal to the rebuild") {
    val src = freshRoot("cc_ivm_src")
    val mart = freshRoot("cc_ivm_mart")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, src, f)
    // bootstrap, then advance the source so there is a window to race on
    graft.ops.LakeOps.maintainAggMartTotal(spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") === "O"))
    // two maintenance daemons fire at once (same writerId — the
    // exactly-once watermark makes the second application a no-op even
    // when both survive the race)
    race(
      () => { graft.ops.LakeOps.maintainAggMartTotal(
        spark, src, mart, Seq("o_orderstatus"), "o_totalprice"); () },
      () => { graft.ops.LakeOps.maintainAggMartTotal(
        spark, src, mart, Seq("o_orderstatus"), "o_totalprice"); () })
    val maintained = ManifestTable.read(spark, mart)
      .select(col("o_orderstatus"), col("n_rows"), col("total").cast("double"))
    val rebuild = ManifestTable.read(spark, src).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        graft.ops.ExactSums.dsum(col("o_totalprice")).as("t"))
    assertSameContent(maintained, rebuild, "ivm∥ivm")
  }

  test("SlotClaimer contract: an ADVERSARIAL put-if-absent arm with non-atomic visibility never loses data silently") {
    // the ADVERSARIAL arm of the seam's contract: put-if-absent decided
    // atomically on the slot NAME (in memory, the way a conditional put
    // is decided store-side) but the byte copy that follows is
    // deliberately NON-atomic — a reader can list the slot and observe
    // zero or some of the winner's bytes. This arm VIOLATES the
    // documented visibility clause, and the protocol must survive it
    // LOUDLY: a re-basing committer that catches the slot mid-copy sees
    // CorruptManifest (headerless / CRC-failing text, never a "valid
    // empty table") and retries until the bytes land — both appends
    // land, zero rows lost. Pre-guard, this exact battery caught a
    // silent lost update (~25% under load: both appends reported
    // success, half the rows gone). Raced HOT — the in-flight window is
    // a few ms, so one shot has weak detection power.
    val claimedSlots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val fake = new graft.sources.SlotClaimer {
      def claim(f: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean = {
        val slot = dst.toUri.getPath
        if (!claimedSlots.add(slot)) false        // conditional put: occupant wins
        else if (f.exists(dst)) false             // pre-registration occupant
        else {
          val in = f.open(tmp)
          val bytes =
            try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
          val out = f.create(dst, false)
          try out.write(bytes) finally out.close()
          true
        }
      }
    }
    graft.sources.ManifestTable.registerSlotClaimer("file", fake)
    try {
      // APPEND vs APPEND, raced hot: re-base must hold through the
      // adversarial arm on every shot — any silent loss shows up as a
      // count shortfall, any laundered empty-parse as a lost half
      val a = orders.filter(col("o_orderkey") % 2 === 0).localCheckpoint()
      val b = orders.filter(col("o_orderkey") % 2 === 1).localCheckpoint()
      val expect = orders.count()
      (1 to 6).foreach { shot =>
        val root = freshRoot(s"cc_fake_$shot")
        ManifestTable.create(spark, root, orders.limit(0))
        val aborts = race(
          () => { ManifestTable.append(spark, root, a); () },
          () => { ManifestTable.append(spark, root, b); () })
        assert(aborts === 0,
          s"appends must re-base through the adversarial arm (shot $shot)")
        assert(ManifestTable.read(spark, root).count() === expect,
          s"rows lost through the adversarial arm (shot $shot)")
      }
      // MERGE vs MOR DELETE: loser aborts + retry = one serial schedule
      val root2 = freshRoot("cc_fake2")
      val base = orders.limit(200).localCheckpoint()
      ManifestTable.create(spark, root2, base.repartition(2))
      val upserts = base.limit(60)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0).localCheckpoint()
      race(
        () => { ManifestTable.merge(spark, root2, upserts, "o_orderkey"); () },
        () => { ManifestTable.deleteMor(spark, root2, col("o_orderkey") % 3 === 0); () })
      def mergeApplied(df: DataFrame): DataFrame =
        df.join(upserts.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionByName(upserts)
      def delApplied(df: DataFrame): DataFrame =
        df.filter(col("o_orderkey") % 3 =!= 0)
      val got = ManifestTable.read(spark, root2)
      val s1 = delApplied(mergeApplied(base))
      val s2 = mergeApplied(delApplied(base))
      assert((got.exceptAll(s1).isEmpty && s1.exceptAll(got).isEmpty) ||
        (got.exceptAll(s2).isEmpty && s2.exceptAll(got).isEmpty),
        "final state through the fake arm matches neither serial schedule")
    } finally graft.sources.ManifestTable.unregisterSlotClaimer("file")
  }

  test("SlotClaimer contract: a STORE-ACCURATE conditional-put arm (atomic byte visibility) sustains the battery") {
    // the arm the real S3 `If-None-Match: *` implementation must match:
    // the put decision is atomic on the slot NAME (in memory, the way
    // the store decides a conditional PUT), and the winner's bytes
    // become visible ATOMICALLY (modeled with a rename — a completed
    // object-store PUT has read-after-write atomicity: no reader ever
    // observes the key with partial content). Both clauses of the
    // re-documented contract, honored — the battery must run clean with
    // ZERO in-flight retries surfacing.
    val claimedSlots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val accurate = new graft.sources.SlotClaimer {
      def claim(f: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean = {
        val slot = dst.toUri.getPath
        if (!claimedSlots.add(slot)) false        // conditional put: occupant wins
        else if (f.exists(dst)) false             // pre-registration occupant
        else {
          // the winner's upload: buffer fully, then one atomic visibility
          // event (rename) — never a create-then-write window
          val in = f.open(tmp)
          val bytes =
            try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
          val hidden = new org.apache.hadoop.fs.Path(
            dst.getParent, s".upload-${java.util.UUID.randomUUID()}")
          val out = f.create(hidden, false)
          try out.write(bytes) finally out.close()
          val ok = f.rename(hidden, dst)
          if (!ok) f.delete(hidden, false)
          ok
        }
      }
    }
    graft.sources.ManifestTable.registerSlotClaimer("file", accurate)
    try {
      val a = orders.filter(col("o_orderkey") % 2 === 0).localCheckpoint()
      val b = orders.filter(col("o_orderkey") % 2 === 1).localCheckpoint()
      val expect = orders.count()
      (1 to 4).foreach { shot =>
        val root = freshRoot(s"cc_acc_$shot")
        ManifestTable.create(spark, root, orders.limit(0))
        val aborts = race(
          () => { ManifestTable.append(spark, root, a); () },
          () => { ManifestTable.append(spark, root, b); () })
        assert(aborts === 0,
          s"appends must re-base through the store-accurate arm (shot $shot)")
        assert(ManifestTable.read(spark, root).count() === expect,
          s"rows lost through the store-accurate arm (shot $shot)")
      }
      // MERGE vs MOR DELETE through the accurate arm
      val root2 = freshRoot("cc_acc_md")
      val base = orders.limit(200).localCheckpoint()
      ManifestTable.create(spark, root2, base.repartition(2))
      val upserts = base.limit(60)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0).localCheckpoint()
      race(
        () => { ManifestTable.merge(spark, root2, upserts, "o_orderkey"); () },
        () => { ManifestTable.deleteMor(spark, root2, col("o_orderkey") % 3 === 0); () })
      def mergeApplied(df: DataFrame): DataFrame =
        df.join(upserts.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionByName(upserts)
      def delApplied(df: DataFrame): DataFrame =
        df.filter(col("o_orderkey") % 3 =!= 0)
      val got = ManifestTable.read(spark, root2)
      val s1 = delApplied(mergeApplied(base))
      val s2 = mergeApplied(delApplied(base))
      assert((got.exceptAll(s1).isEmpty && s1.exceptAll(got).isEmpty) ||
        (got.exceptAll(s2).isEmpty && s2.exceptAll(got).isEmpty),
        "final state through the accurate arm matches neither serial schedule")
    } finally graft.sources.ManifestTable.unregisterSlotClaimer("file")
  }

  test("S3ConditionalPutClaimer: the real arm's claim/classify logic sustains the battery through a 412-shaped fake") {
    import org.apache.hadoop.fs.{FileSystem, Path, PathIOException}
    // the REAL arm, with only the store's PUT faked: the decision is
    // atomic on the slot name and a loser surfaces the S3A shape — a
    // PathIOException at close — which claim() must CLASSIFY (occupied
    // slot = lost race) rather than trust. Visibility is atomic
    // (buffer + rename), as a completed S3 PUT guarantees.
    // the store serializes conditional PUTs per key and is STRONGLY
    // consistent: a 412 loser's subsequent existence check always sees
    // the winner (S3's post-2020 contract). The lock models that
    // serialization — without it the fake would 412 a loser while the
    // winner's bytes are still in flight, which is the ADVERSARIAL
    // visibility shape (covered by its own arm above), not the store's
    val storeLock = new Object
    val claimedSlots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val arm = new graft.sources.S3ConditionalPutClaimer {
      override protected def putConditional(
          f: FileSystem, bytes: Array[Byte], dst: Path): Unit = storeLock.synchronized {
        val slot = dst.toUri.getPath
        if (!claimedSlots.add(slot) || f.exists(dst))
          throw new PathIOException(slot, "PreconditionFailed: At least one of the pre-conditions you specified did not hold (412)")
        val hidden = new Path(dst.getParent, s".upload-${java.util.UUID.randomUUID()}")
        val out = f.create(hidden, false)
        try out.write(bytes) finally out.close()
        if (!f.rename(hidden, dst)) {
          f.delete(hidden, false)
          throw new PathIOException(slot, "PreconditionFailed (412)")
        }
      }
    }
    graft.sources.ManifestTable.registerSlotClaimer("file", arm)
    try {
      val a = orders.filter(col("o_orderkey") % 2 === 0).localCheckpoint()
      val b = orders.filter(col("o_orderkey") % 2 === 1).localCheckpoint()
      val expect = orders.count()
      (1 to 3).foreach { shot =>
        val root = freshRoot(s"cc_s3_$shot")
        ManifestTable.create(spark, root, orders.limit(0))
        val aborts = race(
          () => { ManifestTable.append(spark, root, a); () },
          () => { ManifestTable.append(spark, root, b); () })
        assert(aborts === 0,
          s"appends must re-base through the S3 arm's claim (shot $shot)")
        assert(ManifestTable.read(spark, root).count() === expect,
          s"rows lost through the S3 arm (shot $shot)")
      }
    } finally graft.sources.ManifestTable.unregisterSlotClaimer("file")
    // classify pins: a 412-shaped failure with an OCCUPIED slot is a
    // lost race (false); with an EMPTY slot it is a store failure and
    // MUST propagate — swallowing it would silently drop a commit
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dir = freshRoot("cc_s3_classify")
    val occupied = new Path(s"$dir/occupied")
    val out = f.create(occupied, false); out.write(1); out.close()
    val e = new PathIOException("slot", "PreconditionFailed (412)")
    assert(graft.sources.S3ConditionalPutClaimer.classify(f, occupied, e) === false)
    val thrown = intercept[PathIOException](
      graft.sources.S3ConditionalPutClaimer.classify(
        f, new Path(s"$dir/absent"), e))
    assert(thrown eq e, "a failure with an empty slot must propagate unchanged")
  }
}
