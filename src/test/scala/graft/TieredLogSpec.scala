package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** The tiered manifest log (delta actions + periodic checkpoints — the
  * Delta-checkpoint / Iceberg-manifest-list idea in the repo's text
  * format): a snapshot per commit is O(files·versions) storage and
  * O(files) text per commit, which a streaming sink committing every
  * micro-batch cannot afford. These tests pin the WRITER side (appends
  * store deltas whose size tracks the CHANGE, checkpoints land on the
  * cadence and on non-delta-shaped ops) and the READER side (every
  * version resolves identically to what a snapshot log would serve,
  * through time travel, history, restore, and vacuum's chain
  * materialization). */
class TieredLogSpec extends SparkSpec {
  private def freshRoot(): String =
    Files.createTempDirectory("tiered_log").toFile.getAbsolutePath

  private def orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")

  private def rawBytes(root: String, v: Long): Long =
    Paths.get(root, "_graft_log", f"v$v%08d.manifest").toFile.length()

  private def rawHead(root: String, v: Long): String = {
    val src = scala.io.Source.fromFile(
      Paths.get(root, "_graft_log", f"v$v%08d.manifest").toFile)
    try src.getLines().next() finally src.close()
  }

  private def isStoredDelta(root: String, v: Long): Boolean =
    rawHead(root, v).startsWith("# graft-manifest-delta ")

  test("appends store O(change) deltas; every 10th version checkpoints; all versions read identically") {
    val root = freshRoot()
    val slices = orders.randomSplit(Array.fill(14)(1.0), seed = 7)
    ManifestTable.create(spark, root, slices(0).coalesce(1),
      statsColumns = Seq("o_orderkey"))
    (1 until 14).foreach(i =>
      ManifestTable.append(spark, root, slices(i).coalesce(1),
        statsColumns = Seq("o_orderkey")))
    val vs = ManifestTable.versions(spark, root)
    assert(vs === (1L to 14L))
    // v1 (create) is full; appends are deltas EXCEPT the checkpoint
    // cadence at v10
    assert(!isStoredDelta(root, 1L))
    assert(!isStoredDelta(root, 10L), "every 10th version must checkpoint")
    ((2L to 9L) ++ (11L to 14L)).foreach(v =>
      assert(isStoredDelta(root, v), s"append v$v must store as a delta"))
    // the delta is O(change): a late append's stored text must be far
    // smaller than the full snapshot beside it (v10) — the whole point
    assert(rawBytes(root, 11L) < rawBytes(root, 10L) / 3,
      s"delta v11 (${rawBytes(root, 11L)}B) must be much smaller than checkpoint v10 (${rawBytes(root, 10L)}B)")
    // reader equivalence at EVERY version: the resolved view serves
    // exactly the cumulative prefix of slices
    var cum = slices(0).count()
    assert(ManifestTable.read(spark, root, Some(1L)).count() === cum)
    (1 until 14).foreach { i =>
      cum += slices(i).count()
      assert(ManifestTable.read(spark, root, Some(i + 1L)).count() === cum,
        s"time travel at v${i + 1} through the delta chain")
    }
    // meta/stats resolve through the chain too: ops and exact row
    // counts are served for every version
    val hist = ManifestTable.history(spark, root)
    assert(hist.map(_.operation) === "create" +: Seq.fill(13)("append"))
    assert(hist.last.rowCount === Some(orders.count()))
  }

  test("overwrite and restore checkpoint naturally; metadata ops are 1-line-scale deltas") {
    val root = freshRoot()
    ManifestTable.create(spark, root, orders.coalesce(2))
    ManifestTable.append(spark, root, orders.limit(10).coalesce(1))
    // overwrite: removes every carried file — the diff is no smaller
    // than the snapshot, so the writer falls back to a full manifest
    ManifestTable.overwrite(spark, root, orders.limit(50).coalesce(1))
    assert(!isStoredDelta(root, 3L), "overwrite must store full (natural checkpoint)")
    // restore re-lists an old version's files: stored form may be
    // either, but the CONTENT contract is what matters
    val v4 = ManifestTable.restore(spark, root, 2L)
    assert(ManifestTable.read(spark, root, Some(v4)).count() ===
      ManifestTable.read(spark, root, Some(2L)).count())
    // a metadata-only commit stores a tiny delta (no file lines at all)
    val v5 = ManifestTable.addCheckConstraint(spark, root, "pos_key", "o_orderkey >= 0")
    assert(isStoredDelta(root, v5), "metadata commit must store as a delta")
    assert(rawBytes(root, v5) < 256,
      s"metadata delta must be ~1 line, got ${rawBytes(root, v5)}B")
    assert(ManifestTable.checkConstraintsOf(spark, root, v5) ===
      Map("pos_key" -> "o_orderkey >= 0"))
  }

  test("vacuum materializes the oldest retained delta as a checkpoint before dropping its chain") {
    val root = freshRoot()
    val slices = orders.randomSplit(Array.fill(6)(1.0), seed = 11)
    ManifestTable.create(spark, root, slices(0).coalesce(1))
    (1 until 6).foreach(i =>
      ManifestTable.append(spark, root, slices(i).coalesce(1)))
    val total = ManifestTable.read(spark, root).count()
    // keep the last 3: v4..v6 are deltas whose chain reaches v1
    assert((4L to 6L).forall(isStoredDelta(root, _)))
    ManifestTable.vacuum(spark, root, keepVersions = 3)
    assert(ManifestTable.versions(spark, root) === Seq(4L, 5L, 6L))
    assert(Paths.get(root, "_graft_log", "v00000004.checkpoint").toFile.exists(),
      "the oldest retained delta must be materialized as a .checkpoint sidecar")
    // every retained version still resolves — content unchanged.
    // Drop the in-JVM resolved cache first: a FRESH process reading the
    // vacuumed oldest version must find its OWN sidecar (its delta's
    // base chain is gone from disk), not an in-memory leftover.
    ManifestTable.dropResolvedCacheForTest()
    assert(ManifestTable.read(spark, root).count() === total)
    assert(ManifestTable.read(spark, root, Some(4L)).count() ===
      (0 to 3).map(slices(_).count()).sum)
    assert(ManifestTable.history(spark, root).map(_.version) === Seq(4L, 5L, 6L))
    // dropped versions fail loudly, as before tiering
    intercept[Exception] { ManifestTable.read(spark, root, Some(2L)).count() }
    // a later vacuum drops the materialized checkpoint with its version
    ManifestTable.append(spark, root, orders.limit(5).coalesce(1))
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    assert(!Paths.get(root, "_graft_log", "v00000004.checkpoint").toFile.exists(),
      "a dropped version's checkpoint sidecar must be reclaimed")
    // keepVersions=1 leaves ONLY the tip, stored as a delta whose whole
    // base chain is deleted — a cold process must read it through the
    // sidecar vacuum just materialized at the tip itself.
    ManifestTable.dropResolvedCacheForTest()
    assert(ManifestTable.read(spark, root).count() === total + 5)
  }

  test("a corrupted published delta is caught by the checkpoint divergence gate, never silently inherited") {
    val root = freshRoot()
    val slices = orders.randomSplit(Array.fill(12)(1.0), seed = 13)
    ManifestTable.create(spark, root, slices(0).coalesce(1)) // v1 full
    ManifestTable.append(spark, root, slices(1).coalesce(1)) // v2 delta
    ManifestTable.append(spark, root, slices(2).coalesce(1)) // v3 delta
    assert(isStoredDelta(root, 3L))
    // corrupt v3 ON DISK while the writer's incremental state keeps the
    // intended version: swap its added file path for a nonexistent one,
    // keeping valid delta syntax (the shape of a torn/bit-flipped write
    // that still parses)
    // ... and RE-SIGN the trailer: this models a semantics-level wrong
    // delta whose bytes verify (a diff/encode bug, not disk rot) — the
    // class only the divergence gate can catch now that bytes-level
    // corruption fails at read via the CRC trailer
    val p = Paths.get(root, "_graft_log", "v00000003.manifest")
    val txt = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
    val corrupted = resign(txt.replaceFirst("(?m)^\\+data/", "+data/CORRUPT-"))
    assert(corrupted != txt, "expected an added-file line to corrupt")
    Files.write(p, corrupted.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // drop Hadoop's local-FS checksum sidecar so the corruption reads as
    // a PARSEABLE-but-wrong delta (a diff bug), not an IO error
    Files.deleteIfExists(Paths.get(root, "_graft_log", ".v00000003.manifest.crc"))
    // v4..v9 keep composing incrementally from the writer's cached state
    (3 until 9).foreach(i => ManifestTable.append(spark, root, slices(i).coalesce(1)))
    // v10 is a checkpoint: the from-DISK replay of the published chain
    // no longer matches the writer's incremental state — the commit
    // must refuse loudly instead of publishing a checkpoint that
    // launders the divergence into "truth"
    val e = intercept[IllegalStateException] {
      ManifestTable.append(spark, root, slices(9).coalesce(1))
    }
    assert(e.getMessage.contains("divergence"), e.getMessage)
  }

  /** Strip a delta's CRC trailer and append a freshly-computed one —
    * forging the signature a semantics-level diff bug would have
    * produced honestly. */
  private def resign(delta: String): String = {
    val payload = delta.linesIterator.filterNot(_.startsWith("# crc:"))
      .mkString("", "\n", "\n")
    val bytes = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val crc = new java.util.zip.CRC32()
    crc.update(bytes)
    payload + "# crc:" + bytes.length + ":" +
      java.lang.Long.toHexString(crc.getValue) + "\n"
  }

  test("bytes-level corruption of a published delta fails loudly AT THE READ (integrity trailer), truncation included") {
    val root = freshRoot()
    val slices = orders.randomSplit(Array.fill(4)(1.0), seed = 29)
    ManifestTable.create(spark, root, slices(0).coalesce(1)) // v1 full
    ManifestTable.append(spark, root, slices(1).coalesce(1)) // v2 delta
    ManifestTable.append(spark, root, slices(2).coalesce(1)) // v3 delta
    assert(isStoredDelta(root, 3L))
    val p = Paths.get(root, "_graft_log", "v00000003.manifest")
    val good = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
    def write(t: String): Unit = {
      Files.write(p, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.deleteIfExists(Paths.get(root, "_graft_log", ".v00000003.manifest.crc"))
      ManifestTable.dropResolvedCacheForTest() // cold process: no cached state
    }
    // flipped bytes that still parse as valid delta syntax: pre-trailer
    // this was served silently until the next checkpoint — now the read
    // itself refuses
    write(good.replaceFirst("(?m)^\\+data/", "+data/CORRUPT-"))
    val e1 = intercept[IllegalStateException](ManifestTable.read(spark, root).count())
    assert(e1.getMessage.contains("integrity"), e1.getMessage)
    // truncation that eats the trailer line: the crc=1 header announce
    // makes the MISSING trailer itself the failure
    write(good.linesIterator.filterNot(_.startsWith("# crc:")).mkString("", "\n", "\n"))
    val e2 = intercept[IllegalStateException](ManifestTable.read(spark, root).count())
    assert(e2.getMessage.contains("integrity"), e2.getMessage)
    // restore the honest bytes: the table reads again
    write(good)
    assert(ManifestTable.read(spark, root).count() > 0L)
  }

  test("two-tier checkpoints: N streaming appends to a many-file table never materialize the full per-file stats text") {
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8 // exercise segmentation without staging thousands of files
    try {
      val slices = orders.randomSplit(Array.fill(12)(1.0), seed = 17)
      // v1 (create) lands 10 files — at/over the threshold, so even the
      // CREATE snapshot stores as segment pointers
      ManifestTable.create(spark, root, slices(0).repartition(10),
        statsColumns = Seq("o_orderkey"))
      assert(rawHead(root, 1L).contains(" segs=1"),
        "a many-file full manifest must store in the two-tier pointer form")
      val (fulls0, ser0) = ManifestTable.ComposeMeters.snapshot
      // v2..v11: single-file streaming appends ACROSS the v10 checkpoint
      (1 to 10).foreach(i =>
        ManifestTable.append(spark, root, slices(i).coalesce(1),
          statsColumns = Seq("o_orderkey")))
      val (fulls1, ser1) = ManifestTable.ComposeMeters.snapshot
      // THE scale contract: no inline full body was ever rendered, and
      // stats serialization tracked the ADDS (one line per appended
      // file), not O(appends × files)
      assert(fulls1 - fulls0 === 0L,
        "streaming appends must never render a full manifest body, checkpoint included")
      assert(ser1 - ser0 === 10L,
        s"appends must serialize one stats line per added file, got ${ser1 - ser0}")
      // the v10 checkpoint stored as pointers and CARRIED v1's segments
      // verbatim — unchanged groups are never re-listed
      assert(rawHead(root, 10L).contains(" segs=1"))
      def segNames(v: Long): Set[String] = {
        val src = scala.io.Source.fromFile(
          Paths.get(root, "_graft_log", f"v$v%08d.manifest").toFile)
        try src.getLines().collect {
          case l if l.startsWith("# seg:") => l.stripPrefix("# seg:").split('|')(0)
        }.toSet finally src.close()
      }
      assert(segNames(1L).subsetOf(segNames(10L)),
        "an untouched segment must be carried by pointer, not rewritten")
      // reader equivalence, warm and COLD (fresh process resolves the
      // pointer form + delta chain from disk alone)
      val expect = (0 to 10).map(slices(_).count()).sum
      assert(ManifestTable.read(spark, root).count() === expect)
      ManifestTable.dropResolvedCacheForTest()
      assert(ManifestTable.read(spark, root).count() === expect)
      assert(ManifestTable.read(spark, root, Some(10L)).count() ===
        (0 to 9).map(slices(_).count()).sum, "time travel through a segmented checkpoint")
      // stats skipping works off the segment-resolved manifest
      val (_, dropped, _) = ManifestTable.pruneFiles(spark, root, col("o_orderkey") === -1L)
      assert(dropped.nonEmpty, "rollup/stats must prune through segments")
      assert(ManifestTable.history(spark, root).last.rowCount === Some(expect))
      // vacuum: the sidecar materializes in pointer form, referenced
      // segments survive, unreferenced ones (and planted orphans) GC
      val orphan = Paths.get(root, "_graft_log", "seg-orphan-test.seg")
      Files.write(orphan, "# graft-manifest-segment n=0\n".getBytes)
      // a FRESH unreferenced segment could be an in-flight commit's
      // (segments publish before their pointer manifest) — GC must skip
      // it inside the grace window and reclaim it only once aged
      ManifestTable.vacuum(spark, root, keepVersions = 1)
      assert(orphan.toFile.exists(),
        "a fresh orphan inside the GC grace window must survive vacuum")
      Files.setLastModifiedTime(orphan, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ManifestTable.SegmentGcGraceMs - 60000L))
      ManifestTable.vacuum(spark, root, keepVersions = 1)
      assert(!orphan.toFile.exists(), "unreferenced segments must be vacuumed")
      ManifestTable.dropResolvedCacheForTest()
      assert(ManifestTable.read(spark, root).count() === expect,
        "a cold process must resolve the vacuumed tip through its segmented sidecar")
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("row-tracked pointer bodies stay O(table-level meta): rowbase entries live inside segments") {
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      val slices = orders.randomSplit(Array.fill(12)(1.0), seed = 23)
      ManifestTable.create(spark, root, slices(0).repartition(2),
        statsColumns = Seq("o_orderkey")) // v1: inline (2 files < threshold)
      ManifestTable.enableRowTracking(spark, root) // v2
      (1 to 10).foreach(i => // v3..v12 — v10 checkpoints at 10 files
        ManifestTable.append(spark, root, slices(i).coalesce(1),
          statsColumns = Seq("o_orderkey")))
      assert(rawHead(root, 10L).contains(" segs=1"))
      val src = scala.io.Source.fromFile(
        Paths.get(root, "_graft_log", "v00000010.manifest").toFile)
      val inlineRowbase =
        try src.getLines().count(_.startsWith("# meta:rowbase-")) finally src.close()
      assert(inlineRowbase === 0,
        s"per-file rowbase meta must live in segments, found $inlineRowbase inline lines")
      // the full meta map still resolves — every file owns its id block
      ManifestTable.dropResolvedCacheForTest()
      val tipFiles = ManifestTable.manifestFiles(spark, root,
        ManifestTable.versions(spark, root).max)
      val rowbase = ManifestTable.manifestMeta(spark, root,
        ManifestTable.versions(spark, root).max)
        .keys.count(_.startsWith("rowbase-"))
      assert(rowbase === tipFiles.size,
        "segment-resolved meta must carry one rowbase entry per file")
      // the row-tracked change feed crosses the segmented checkpoint
      val (feed, _) = ManifestTable.readChangesRowTracked(spark, root, 3L)
      assert(feed.filter(col("_change_type") === "insert").count() ===
        (2 to 10).map(slices(_).count()).sum)
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("two-tier order guard: a remove-then-re-add (double restore) cannot resurface files at their old segment position") {
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 4
    try {
      val slices = orders.randomSplit(Array.fill(10)(1.0), seed = 19)
      ManifestTable.create(spark, root, slices(0).repartition(5),
        statsColumns = Seq("o_orderkey"))
      (1 to 4).foreach(i =>
        ManifestTable.append(spark, root, slices(i).coalesce(1),
          statsColumns = Seq("o_orderkey")))
      val v5 = 5L
      val atV5 = ManifestTable.read(spark, root, Some(v5)).count()
      ManifestTable.restore(spark, root, 1L) // v6: drops the appended files
      ManifestTable.restore(spark, root, v5) // v7: RE-ADDS them (at the tail)
      assert(ManifestTable.read(spark, root).count() === atV5)
      // push across the next checkpoint so the segmented compose must
      // handle members that moved relative to their old segment
      (5 to 8).foreach(i =>
        ManifestTable.append(spark, root, slices(i).coalesce(1),
          statsColumns = Seq("o_orderkey")))
      val expect = atV5 + (5 to 8).map(slices(_).count()).sum
      assert(ManifestTable.read(spark, root).count() === expect)
      ManifestTable.dropResolvedCacheForTest()
      assert(ManifestTable.read(spark, root).count() === expect,
        "cold resolution must agree after restores crossed a segment boundary")
      assert(ManifestTable.history(spark, root).last.rowCount === Some(expect))
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("a corrupted segment file fails loudly at the read (integrity trailer)") {
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 4
    try {
      ManifestTable.create(spark, root, orders.limit(500).repartition(6),
        statsColumns = Seq("o_orderkey"))
      val segs = Paths.get(root, "_graft_log").toFile.listFiles()
        .filter(f => f.getName.startsWith("seg-") && f.getName.endsWith(".seg"))
      assert(segs.nonEmpty)
      val victim = segs.head.toPath
      val good = new String(Files.readAllBytes(victim), java.nio.charset.StandardCharsets.UTF_8)
      Files.write(victim, good.replaceFirst("(?m)^data/", "data/CORRUPT-")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.deleteIfExists(victim.resolveSibling("." + victim.getFileName + ".crc"))
      ManifestTable.dropResolvedCacheForTest()
      val e = intercept[IllegalStateException](ManifestTable.read(spark, root).count())
      assert(e.getMessage.contains("integrity"), e.getMessage)
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("deltas ride every surface: stats pruning, DV, row tracking, CDF, and streams resolve through the chain") {
    val root = freshRoot()
    val half = orders.filter(col("o_orderkey") % 2 === 0)
    val rest = orders.filter(col("o_orderkey") % 2 === 1)
    ManifestTable.create(spark, root,
      half.repartitionByRange(3, col("o_orderkey")), statsColumns = Seq("o_orderkey"))
    ManifestTable.enableRowTracking(spark, root)
    ManifestTable.append(spark, root,
      rest.repartitionByRange(3, col("o_orderkey")), statsColumns = Seq("o_orderkey"))
    val (vDel, _) = ManifestTable.deleteMor(spark, root, col("o_orderkey") % 10 === 0)
    assert(isStoredDelta(root, 2L) && isStoredDelta(root, 3L) && isStoredDelta(root, vDel))
    // stats pruning through a delta-resolved manifest
    val (_, dropped, _) = ManifestTable.pruneFiles(spark, root, col("o_orderkey") === 17L)
    assert(dropped.nonEmpty, "stats must prune through the delta chain")
    // DV applies through the chain
    assert(ManifestTable.read(spark, root)
      .filter(col("o_orderkey") % 10 === 0).count() === 0L)
    // the row-tracked change feed walks delta-stored versions
    val (feed, tip) = ManifestTable.readChangesRowTracked(spark, root, 2L)
    assert(tip === vDel)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("insert", 0L) > 0L && byType.getOrElse("delete", 0L) > 0L)
  }

  test("cold routing: tableMayMatch resolves from the pointer body + delta chain with ZERO segment loads") {
    import graft.sources.ManifestTable.ComposeMeters
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      // a segmented checkpoint (v10) + a delta tail (v11..v12), keys
      // range-committed so the table rollup has tight bounds
      val keys = orders.select("o_orderkey").distinct().orderBy("o_orderkey")
        .collect().map(_.getLong(0))
      def slice(i: Int) = {
        val lo = keys(i * keys.length / 12)
        val hiIdx = (i + 1) * keys.length / 12
        val hi = if (hiIdx >= keys.length) Long.MaxValue else keys(hiIdx)
        orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi).coalesce(1)
      }
      ManifestTable.create(spark, root, slice(0), statsColumns = Seq("o_orderkey"))
      (1 until 12).foreach(i =>
        ManifestTable.append(spark, root, slice(i), statsColumns = Seq("o_orderkey")))
      // COLD process: every cache dropped — routing must read the
      // pointer body and the two deltas, never a segment file
      ManifestTable.dropResolvedCacheForTest()
      val before = ComposeMeters.segmentLoads.get
      assert(ManifestTable.tableMayMatch(spark, root, col("o_orderkey") === keys.head),
        "an in-range key must route to the table (keep-biased)")
      assert(!ManifestTable.tableMayMatch(spark, root, col("o_orderkey") === -1L),
        "a provably-absent key must be excluded by the inline rollup")
      assert(ComposeMeters.segmentLoads.get - before === 0L,
        "cold routing must not load any segment file")
      // the light overlay answered exactly what the heavy state answers
      val (kept, _, _) = ManifestTable.pruneFiles(spark, root, col("o_orderkey") === -1L)
      assert(kept.isEmpty, "light routing and heavy pruning must agree")
      // time travel: routing at the pre-tail checkpoint version agrees too
      assert(ManifestTable.tableMayMatch(spark, root,
        col("o_orderkey") === keys.head, Some(10L)))
    } finally ManifestTable.SegmentTargetSize = saved
  }

  /** `src` cut into twelfths by DISJOINT contiguous `o_orderkey` ranges:
    * the sorted keys and the slicer. Committed one slice per version
    * under SegmentTargetSize = 8, the v10 checkpoint seals slices 0..9
    * into segments of 8 and 2; later slices ride the delta tail. */
  private def twelfths(src: org.apache.spark.sql.DataFrame)
      : (Array[Long], Int => org.apache.spark.sql.DataFrame) = {
    val keys = src.select("o_orderkey").distinct().orderBy("o_orderkey")
      .collect().map(_.getLong(0))
    (keys, i => {
      val lo = keys(i * keys.length / 12)
      val hiIdx = (i + 1) * keys.length / 12
      val hi = if (hiIdx >= keys.length) Long.MaxValue else keys(hiIdx)
      src.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi).coalesce(1)
    })
  }

  private def commitSlices(root: String, slice: Int => org.apache.spark.sql.DataFrame,
      n: Int): Unit = {
    ManifestTable.create(spark, root, slice(0), statsColumns = Seq("o_orderkey"))
    (1 until n).foreach(i =>
      ManifestTable.append(spark, root, slice(i), statsColumns = Seq("o_orderkey")))
  }

  private def pruneIdx(root: String, v: Long): java.nio.file.Path =
    Paths.get(root, "_graft_log", f"v$v%08d.pruneidx")

  test("cold routing persists the prune-index sidecar: a second cold route decodes zero pointer bytes") {
    import graft.sources.ManifestTable.ComposeMeters
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      val (keys, slice) = twelfths(orders)
      commitSlices(root, slice, 12)
      ManifestTable.dropResolvedCacheForTest() // fresh process #1
      val d0 = ComposeMeters.coldPointerDecodes.get
      assert(ManifestTable.tableMayMatch(spark, root, col("o_orderkey") === keys.head))
      assert(!ManifestTable.tableMayMatch(spark, root, col("o_orderkey") === -1L))
      assert(ComposeMeters.coldPointerDecodes.get - d0 === 1L,
        "the first cold route decodes the pointer chain exactly once")
      assert(Files.exists(pruneIdx(root, 12L)),
        "a cold route of a segmented table must persist the sidecar")
      ManifestTable.dropResolvedCacheForTest() // fresh process #2: sidecar hit
      val d1 = ComposeMeters.coldPointerDecodes.get
      val s0 = ComposeMeters.segmentLoads.get
      assert(ManifestTable.tableMayMatch(spark, root, col("o_orderkey") === keys.head))
      assert(!ManifestTable.tableMayMatch(spark, root, col("o_orderkey") === -1L))
      assert(ComposeMeters.coldPointerDecodes.get - d1 === 0L,
        "the second cold route must decode zero pointer bytes (sidecar hit)")
      assert(ComposeMeters.segmentLoads.get - s0 === 0L)
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("cold routing ignores a sidecar marked trusted=0 and walks the chain instead") {
    import graft.sources.ManifestTable.ComposeMeters
    val root = freshRoot()
    val donor = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      val (keys, slice) = twelfths(orders)
      commitSlices(root, slice, 12)
      // the donor holds the same rows with every key shifted past the
      // root's range: its sidecar's rollup EXCLUDES every root key
      commitSlices(donor, i => slice(i).withColumn("o_orderkey",
        col("o_orderkey") + 1000000000L), 12)
      ManifestTable.dropResolvedCacheForTest()
      assert(ManifestTable.tableMayMatch(spark, donor, col("o_orderkey") === keys.head + 1000000000L))
      val donorText = new String(Files.readAllBytes(pruneIdx(donor, 12L)),
        java.nio.charset.StandardCharsets.UTF_8)
      def plant(text: String): Unit = {
        Files.write(pruneIdx(root, 12L), text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Files.deleteIfExists(Paths.get(root, "_graft_log", ".v00000012.pruneidx.crc"))
        ManifestTable.dropResolvedCacheForTest()
      }
      // control: planted as trusted, the all-excluding sidecar IS read
      plant(donorText)
      assert(!ManifestTable.tableMayMatch(spark, root, col("o_orderkey") === keys.head),
        "a trusted sidecar answers cold routing")
      // marked trusted=0 (a distrusted overlay whose meta/rollup may be
      // partly folded): never read — the chain answers, keep-biased
      plant(resign(donorText.replaceFirst(" trusted=1 ", " trusted=0 ")))
      val d0 = ComposeMeters.coldPointerDecodes.get
      assert(ManifestTable.tableMayMatch(spark, root, col("o_orderkey") === keys.head),
        "an in-range key must route to the table despite the distrusted sidecar")
      assert(ComposeMeters.coldPointerDecodes.get - d0 === 1L,
        "a distrusted sidecar falls back to exactly one chain decode")
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("a distrusted overlay still folds meta and rollup to the end of the chain") {
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      val (keys, slice) = twelfths(orders)
      commitSlices(root, slice, 10) // v10: segmented checkpoint
      // v11: ANALYZE replaces every existing member's stats line — a
      // delta that distrusts the per-segment rollups
      val v11 = ManifestTable.analyze(spark, root, Seq("o_orderkey", "o_custkey"))
      assert(v11 === 11L && isStoredDelta(root, v11), "analyze must store as a delta")
      // v12: an append past the checkpoint's key range widens the rollup
      ManifestTable.append(spark, root, slice(10), statsColumns = Seq("o_orderkey"))
      val probe = keys(10 * keys.length / 12)
      ManifestTable.dropResolvedCacheForTest()
      assert(ManifestTable.tableMayMatch(spark, root, col("o_orderkey") === probe),
        "cold routing must see the rollup the append widened after the distrusting delta")
      assert(!Files.exists(pruneIdx(root, 12L)), "a distrusted overlay writes no sidecar")
      ManifestTable.dropResolvedCacheForTest()
      assert(ManifestTable.readPruned(spark, root, col("o_orderkey") === probe).count() ===
        slice(10).filter(col("o_orderkey") === probe).count())
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("cold pruned read: only segments whose rollup admits the predicate load from disk") {
    import graft.sources.ManifestTable.ComposeMeters
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      val keys = orders.select("o_orderkey").distinct().orderBy("o_orderkey")
        .collect().map(_.getLong(0))
      def slice(i: Int) = {
        val lo = keys(i * keys.length / 12)
        val hiIdx = (i + 1) * keys.length / 12
        val hi = if (hiIdx >= keys.length) Long.MaxValue else keys(hiIdx)
        orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi).coalesce(1)
      }
      ManifestTable.create(spark, root, slice(0), statsColumns = Seq("o_orderkey"))
      (1 until 12).foreach(i =>
        ManifestTable.append(spark, root, slice(i), statsColumns = Seq("o_orderkey")))
      val probe = keys(8 * keys.length / 12)
      val expect = orders.filter(col("o_orderkey") === probe).collect().toSet
      // COLD: the plan must resolve from the pointer + delta chain and
      // load ONLY the surviving 2-member segment (the 8-member segment
      // is excluded by its pointer rollup; tail stats ride the deltas)
      ManifestTable.dropResolvedCacheForTest()
      val before = ComposeMeters.segmentLoads.get
      val got = ManifestTable.readPruned(spark, root,
        col("o_orderkey") === probe).collect().toSet
      assert(ComposeMeters.segmentLoads.get - before === 1L,
        "a cold point lookup must load exactly the one surviving segment")
      assert(got === expect, "the cold pruned read must return exactly the matching rows")
      // a tail-range probe (files 10..11, outside every segment) loads
      // ZERO segments — both rollups exclude
      ManifestTable.dropResolvedCacheForTest()
      val tailKey = keys(11 * keys.length / 12)
      val before2 = ComposeMeters.segmentLoads.get
      val got2 = ManifestTable.readPruned(spark, root,
        col("o_orderkey") === tailKey).collect().toSet
      assert(ComposeMeters.segmentLoads.get - before2 === 0L,
        "a tail-only probe must load no segment at all")
      assert(got2 === orders.filter(col("o_orderkey") === tailKey).collect().toSet)
      // a MERGE (COW rewrite: removes members, adds fresh files) keeps
      // the cold plan sound — removes only shrink what a rollup bounds
      val touched = orders.filter(col("o_orderkey") === keys.head)
        .withColumn("o_orderpriority", lit("rewritten")).localCheckpoint()
      ManifestTable.merge(spark, root, touched, "o_orderkey")
      ManifestTable.dropResolvedCacheForTest()
      val got3 = ManifestTable.readPruned(spark, root,
        col("o_orderkey") === keys.head).collect().toSet
      assert(got3 === touched.collect().toSet,
        "the cold pruned read must serve the merged row across the rewrite delta")
      // a MOR delete rides the overlay as a DvKey meta update: the cold
      // plan must read the probe's file THROUGH the new vector
      ManifestTable.deleteMor(spark, root, col("o_orderkey") === probe)
      ManifestTable.dropResolvedCacheForTest()
      assert(ManifestTable.readPruned(spark, root,
        col("o_orderkey") === probe).count() === 0L,
        "the cold pruned read must apply the deletion vector from the delta overlay")
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("persisted prune index: the second cold process decodes zero pointer bytes; damage falls back") {
    import graft.sources.ManifestTable.ComposeMeters
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      val keys = orders.select("o_orderkey").distinct().orderBy("o_orderkey")
        .collect().map(_.getLong(0))
      def slice(i: Int) = {
        val lo = keys(i * keys.length / 12)
        val hiIdx = (i + 1) * keys.length / 12
        val hi = if (hiIdx >= keys.length) Long.MaxValue else keys(hiIdx)
        orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi).coalesce(1)
      }
      ManifestTable.create(spark, root, slice(0), statsColumns = Seq("o_orderkey"))
      (1 until 12).foreach(i =>
        ManifestTable.append(spark, root, slice(i), statsColumns = Seq("o_orderkey")))
      val probe = keys(8 * keys.length / 12)
      val expect = orders.filter(col("o_orderkey") === probe).collect().toSet
      // FIRST cold process: decodes the pointer + chain once and writes
      // the .pruneidx sidecar beside the checkpoint
      ManifestTable.dropResolvedCacheForTest()
      val d0 = ComposeMeters.coldPointerDecodes.get
      assert(ManifestTable.readPruned(spark, root,
        col("o_orderkey") === probe).collect().toSet === expect)
      assert(ComposeMeters.coldPointerDecodes.get - d0 === 1L,
        "the first cold probe pays exactly one pointer decode")
      val tipV = ManifestTable.versions(spark, root).max
      val sidecar = java.nio.file.Paths.get(root, "_graft_log", f"v$tipV%08d.pruneidx")
      assert(java.nio.file.Files.exists(sidecar),
        "the first cold probe must persist the prune-index sidecar")
      // SECOND cold process (caches dropped = fresh JVM): plans from the
      // sidecar — ZERO pointer decodes, identical result
      ManifestTable.dropResolvedCacheForTest()
      val d1 = ComposeMeters.coldPointerDecodes.get
      assert(ManifestTable.readPruned(spark, root,
        col("o_orderkey") === probe).collect().toSet === expect)
      assert(ComposeMeters.coldPointerDecodes.get - d1 === 0L,
        "the second cold probe must decode zero pointer bytes (sidecar hit)")
      // a DAMAGED sidecar (truncated) falls back to the chain walk and
      // rewrites it — same answer, loud nowhere
      val bytes = java.nio.file.Files.readAllBytes(sidecar)
      java.nio.file.Files.write(sidecar, bytes.take(bytes.length / 2))
      ManifestTable.dropResolvedCacheForTest()
      val d2 = ComposeMeters.coldPointerDecodes.get
      assert(ManifestTable.readPruned(spark, root,
        col("o_orderkey") === probe).collect().toSet === expect)
      assert(ComposeMeters.coldPointerDecodes.get - d2 === 1L,
        "a damaged sidecar must fall back to exactly one chain decode")
      // vacuum reclaims sidecars of dropped versions
      ManifestTable.vacuum(spark, root, keepVersions = 1)
      val leftovers = new java.io.File(s"$root/_graft_log").listFiles()
        .map(_.getName).filter(_.endsWith(".pruneidx"))
        .filterNot(_ == f"v$tipV%08d.pruneidx")
      assert(leftovers.isEmpty,
        s"vacuum must drop dropped versions' sidecars, left ${leftovers.mkString(",")}")
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("pruneCounts: cold selectivity in O(pointer + surviving segments), totals equal pruneFiles") {
    import graft.sources.ManifestTable.ComposeMeters
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      val keys = orders.select("o_orderkey").distinct().orderBy("o_orderkey")
        .collect().map(_.getLong(0))
      def slice(i: Int) = {
        val lo = keys(i * keys.length / 12)
        val hiIdx = (i + 1) * keys.length / 12
        val hi = if (hiIdx >= keys.length) Long.MaxValue else keys(hiIdx)
        orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi).coalesce(1)
      }
      ManifestTable.create(spark, root, slice(0), statsColumns = Seq("o_orderkey"))
      (1 until 12).foreach(i =>
        ManifestTable.append(spark, root, slice(i), statsColumns = Seq("o_orderkey")))
      val probe = keys(8 * keys.length / 12)
      // warm truth first (names): the counts the cold path must match
      val (keptNames, droppedNames, _) =
        ManifestTable.pruneFiles(spark, root, col("o_orderkey") === probe)
      // COLD: counts resolve loading ONLY the surviving segment — the
      // excluded segment contributes its pointer COUNT with zero loads
      ManifestTable.dropResolvedCacheForTest()
      val before = ComposeMeters.segmentLoads.get
      val (kept, dropped, _) =
        ManifestTable.pruneCounts(spark, root, col("o_orderkey") === probe)
      assert(ComposeMeters.segmentLoads.get - before === 1L,
        "cold pruneCounts must load only the surviving segment")
      assert((kept, dropped) === ((keptNames.size.toLong, droppedNames.size.toLong)),
        "pruneCounts totals must equal pruneFiles' name counts")
      // a MOR delete only grows meta (no removes): still exact cold
      ManifestTable.deleteMor(spark, root, col("o_orderkey") === probe)
      ManifestTable.dropResolvedCacheForTest()
      val (k2, d2, _) =
        ManifestTable.pruneCounts(spark, root, col("o_orderkey") === probe)
      assert(k2 + d2 === kept + dropped, "a DV-only delta keeps the file universe")
      // a COW rewrite (removes) falls back to the heavy path — totals
      // still exact against pruneFiles
      val touched = orders.filter(col("o_orderkey") === keys.head)
        .withColumn("o_orderpriority", lit("rewritten")).localCheckpoint()
      ManifestTable.merge(spark, root, touched, "o_orderkey")
      ManifestTable.dropResolvedCacheForTest()
      val (k3, d3, v3) =
        ManifestTable.pruneCounts(spark, root, col("o_orderkey") === keys.head)
      val (kn3, dn3, _) =
        ManifestTable.pruneFiles(spark, root, col("o_orderkey") === keys.head, Some(v3))
      assert((k3, d3) === ((kn3.size.toLong, dn3.size.toLong)),
        "the rewrite-window fallback must still match pruneFiles exactly")
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("segment dirtiness ledger: an appends-only checkpoint visits O(tail) members, never O(files)") {
    import graft.sources.ManifestTable.ComposeMeters
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      val slices = orders.randomSplit(Array.fill(20)(1.0), seed = 31)
      ManifestTable.create(spark, root, slices(0).coalesce(1),
        statsColumns = Seq("o_orderkey"))
      // v2..v10: the v10 checkpoint seals 10 files into segments — the
      // writer had no ledger yet (cold), so this one walks in full and
      // INITIALIZES it
      (1 until 10).foreach(i =>
        ManifestTable.append(spark, root, slices(i).coalesce(1),
          statsColumns = Seq("o_orderkey")))
      // v11..v19: appends ride the ledger (tail grows, zero dirty)
      (10 until 19).foreach(i =>
        ManifestTable.append(spark, root, slices(i).coalesce(1),
          statsColumns = Seq("o_orderkey")))
      // the v20 CHECKPOINT: clean segments must carry with ZERO member
      // visits; only the 10 tail files (v11..v20) are walked
      val before = ComposeMeters.memberVisits.get
      ManifestTable.append(spark, root, slices(19).coalesce(1),
        statsColumns = Seq("o_orderkey"))
      val visits = ComposeMeters.memberVisits.get - before
      assert(visits === 10L,
        s"appends-only checkpoint must visit exactly the tail (10 files), visited $visits of 20")
      // reader equivalence, warm and cold
      val expect = slices.map(_.count()).sum
      assert(ManifestTable.read(spark, root).count() === expect)
      ManifestTable.dropResolvedCacheForTest()
      assert(ManifestTable.read(spark, root).count() === expect,
        "a cold process must resolve the ledger-composed checkpoint identically")
      // a MERGE rewrites files out of a segment: the ledger marks it
      // dirty and the next checkpoint still resolves exactly
      val touched = orders.limit(30)
        .withColumn("o_orderpriority", lit("rewritten")).localCheckpoint()
      ManifestTable.merge(spark, root, touched, "o_orderkey")
      (0 until 9).foreach(i =>
        ManifestTable.append(spark, root, slices(i).limit(2).coalesce(1),
          statsColumns = Seq("o_orderkey")))
      val expect2 = ManifestTable.read(spark, root).count()
      ManifestTable.dropResolvedCacheForTest()
      assert(ManifestTable.read(spark, root).count() === expect2,
        "a checkpoint after a segment-dirtying merge must stay exact cold")
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("two-tier pruning: a selective probe evaluates per-file stats only inside segments whose rollup admits it") {
    import graft.sources.ManifestStats
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      // 12 single-file commits with DISJOINT contiguous key ranges —
      // the v10 checkpoint seals files 1..10 into segments of 8 and 2;
      // v11/v12 ride as delta-tail files outside any segment
      val keys = orders.select("o_orderkey").distinct().orderBy("o_orderkey")
        .collect().map(_.getLong(0))
      def slice(i: Int) = {
        val lo = keys(i * keys.length / 12)
        val hiIdx = (i + 1) * keys.length / 12
        val hi = if (hiIdx >= keys.length) Long.MaxValue else keys(hiIdx)
        orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi).coalesce(1)
      }
      ManifestTable.create(spark, root, slice(0), statsColumns = Seq("o_orderkey"))
      (1 until 12).foreach(i =>
        ManifestTable.append(spark, root, slice(i), statsColumns = Seq("o_orderkey")))
      assert(rawHead(root, 10L).contains(" segs=1"),
        "the v10 checkpoint must store in pointer form")
      // probe a key in file 9's range: the 8-member segment (files 1..8)
      // is EXCLUDED by its pointer rollup with zero per-file work; the
      // 2-member segment and the 2 tail files evaluate per-file
      val probe = keys(8 * keys.length / 12)
      def runProbe(): (Seq[String], Seq[String]) = {
        val before = ManifestStats.PruneMeters.snapshot
        val (kept, dropped, _) =
          ManifestTable.pruneFiles(spark, root, col("o_orderkey") === probe)
        val after = ManifestStats.PruneMeters.snapshot
        assert(after._1 - before._1 === 4L,
          s"per-file stats evaluated: expected 4 (2-member segment + 2 tail files), got ${after._1 - before._1}")
        assert(after._2 - before._2 === 1L,
          "exactly the 8-member segment must be excluded at the segment tier")
        (kept, dropped)
      }
      val (kept, dropped) = runProbe()
      assert(kept.size === 1 && dropped.size === 11,
        s"probe must keep exactly the covering file (kept=${kept.size}, dropped=${dropped.size})")
      // the split is EXACTLY the flat prune's answer
      assert(ManifestTable.readPruned(spark, root, col("o_orderkey") === probe).count() ===
        ManifestTable.read(spark, root).filter(col("o_orderkey") === probe).count())
      // COLD path: a fresh process decodes the rollups from the pointer
      // lines alone and plans the same way
      ManifestTable.dropResolvedCacheForTest()
      val (kept2, dropped2) = runProbe()
      assert(kept2 === kept && dropped2.toSet === dropped.toSet)
    } finally ManifestTable.SegmentTargetSize = saved
  }

  test("warm state equals cold state at every version: flat and pointer full forms, fast path, structural ops, compact, vacuum") {
    val root = freshRoot()
    val saved = ManifestTable.SegmentTargetSize
    ManifestTable.SegmentTargetSize = 8
    try {
      val (keys, slice) = twelfths(orders)
      val filter = col("o_orderkey") < keys(keys.length / 3)
      // pruneCounts first: on a cold pass it must see the version
      // un-resident and answer from the overlay
      def answers(v: Long) = {
        val counts = ManifestTable.pruneCounts(spark, root, filter, Some(v))
        val (kept, dropped, _) = ManifestTable.pruneFiles(spark, root, filter, Some(v))
        (counts, kept, dropped.toSet,
          ManifestTable.manifestMeta(spark, root, v),
          ManifestTable.fileStats(spark, root, v),
          ManifestTable.tableRollup(spark, root, v))
      }
      val warm = scala.collection.mutable.Map.empty[Long, Any]
      // after each commit: every live version's answers, which must not
      // change while the state stays (or becomes again) resident
      def recordWarm(): Unit = ManifestTable.versions(spark, root).foreach { v =>
        val a = answers(v)
        warm.get(v).foreach(w => assert(a === w, s"v$v answers changed while warm"))
        warm(v) = a
      }
      def assertColdEqualsWarm(): Unit = {
        ManifestTable.dropResolvedCacheForTest()
        ManifestTable.versions(spark, root).foreach(v =>
          assert(answers(v) === warm(v), s"cold answers at v$v differ from warm"))
      }
      def append(i: Int): Unit = {
        ManifestTable.append(spark, root, slice(i), statsColumns = Seq("o_orderkey"))
        recordWarm()
      }
      ManifestTable.create(spark, root, slice(0), statsColumns = Seq("o_orderkey"))
      recordWarm()
      (1 to 3).foreach(append) // v2..v4: append fast path on a flat base
      ManifestTable.deleteMor(spark, root, col("o_orderkey") === keys(1))
      recordWarm()
      ManifestTable.analyze(spark, root, Seq("o_orderkey", "o_custkey"))
      recordWarm()
      (4 to 7).foreach(append) // v10 checkpoints 8 files: the pointer form
      assert(rawHead(root, 10L).contains(" segs=1"), "v10 must store in pointer form")
      append(8) // v11: a delta over the segmented base
      ManifestTable.compact(spark, root, targetFileBytes = 1L << 30,
        statsColumns = Seq("o_orderkey"))
      recordWarm()
      (9 to 10).foreach(append)
      val vs = ManifestTable.versions(spark, root)
      val oldestKept = vs(vs.size - 2)
      assert(isStoredDelta(root, oldestKept), s"v$oldestKept must be a delta to materialize")
      assertColdEqualsWarm()
      ManifestTable.vacuum(spark, root, keepVersions = 2)
      assert(Files.exists(Paths.get(root, "_graft_log", f"v$oldestKept%08d.checkpoint")),
        "vacuum must materialize the oldest retained delta")
      recordWarm()
      append(11)
      assertColdEqualsWarm()
    } finally ManifestTable.SegmentTargetSize = saved
  }
}
