package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._

import graft.sources.{CorruptManifest, ManifestTable}

/** The read path's refusal battery for damaged or partially-visible
  * manifests. Every manifest the engine writes carries a
  * `# graft-manifest` header AND a CRC integrity trailer (fulls, deltas,
  * segmented pointers alike), so NO truncation shape may ever parse as a
  * valid — smaller, or empty — table: a zero-length slot is an in-flight
  * publish or a torn copy, never "an empty table"; a mid-body cut fails
  * its CRC. Parsing such text quietly is the silent-lost-update
  * laundering the concurrency battery caught (a re-basing committer
  * composing over an in-flight tip parsed as empty drops the winner's
  * rows with both commits reporting success). */
class CorruptionSpec extends SparkSpec {
  private def freshRoot(p: String): String =
    Files.createTempDirectory(p).toFile.getAbsolutePath

  private def orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")

  private def manifestFile(root: String, v: Long) =
    Paths.get(root, "_graft_log", f"v$v%08d.manifest")

  private def coldRead(root: String): Long = {
    ManifestTable.dropResolvedCacheForTest()
    ManifestTable.read(spark, root).count()
  }

  test("a zero-length manifest slot reads as CorruptManifest, never as a valid empty table") {
    val root = freshRoot("corrupt_zero")
    ManifestTable.create(spark, root, orders.limit(20))
    // simulate the in-flight window of a non-atomically-visible publish:
    // the slot name exists, zero bytes are visible
    Files.write(manifestFile(root, 1L), Array.emptyByteArray,
      StandardOpenOption.TRUNCATE_EXISTING)
    val e = intercept[CorruptManifest](coldRead(root))
    assert(e.getMessage.contains("graft-manifest"),
      s"refusal must name the missing header, got: ${e.getMessage}")
  }

  test("a headerless manifest slot reads as CorruptManifest") {
    val root = freshRoot("corrupt_headerless")
    ManifestTable.create(spark, root, orders.limit(20))
    // a torn copy that lost the head of the file: plausible-looking
    // body lines survive, the header does not
    Files.write(manifestFile(root, 1L),
      "data/tx-zzz/part-00000.parquet\n".getBytes("UTF-8"),
      StandardOpenOption.TRUNCATE_EXISTING)
    intercept[CorruptManifest](coldRead(root))
  }

  test("a full snapshot truncated mid-body (header intact) fails its CRC trailer") {
    val root = freshRoot("corrupt_cut")
    ManifestTable.create(spark, root, orders.limit(40).repartition(4))
    val p = manifestFile(root, 1L)
    val bytes = Files.readAllBytes(p)
    assert(new String(bytes, "UTF-8").startsWith("# graft-manifest "),
      "precondition: v1 is an inline full")
    assert(new String(bytes, "UTF-8").linesIterator.next().contains(" crc=1"),
      "precondition: inline fulls announce their integrity trailer")
    // disk-full / crashed-copy truncation: keep the header, lose the tail
    // (a cut that drops whole file entries would otherwise parse as a
    // smaller valid table — silent data loss on read)
    Files.write(p, bytes.take(bytes.length * 2 / 3),
      StandardOpenOption.TRUNCATE_EXISTING)
    val e = intercept[CorruptManifest](coldRead(root))
    assert(e.getMessage.contains("integrity"),
      s"refusal must name the integrity check, got: ${e.getMessage}")
  }

  test("a truncated tip is refused loudly by a re-basing committer too (abort, never silent loss)") {
    val root = freshRoot("corrupt_commit")
    ManifestTable.create(spark, root, orders.limit(20))
    ManifestTable.append(spark, root, orders.limit(10))
    // the TIP (v2, a delta) truncates to nothing and never completes:
    // the appender must abort with the in-flight/corrupt diagnosis after
    // its bounded retries — composing v3 over a laundered empty state
    // would be the silent lost update
    Files.write(manifestFile(root, 2L), Array.emptyByteArray,
      StandardOpenOption.TRUNCATE_EXISTING)
    ManifestTable.dropResolvedCacheForTest()
    val e = intercept[IllegalStateException](
      ManifestTable.append(spark, root, orders.limit(5)))
    // the refusal surfaces either directly (a planner's tip read after
    // its bounded in-flight retries) or wrapped by commit's re-base
    // exhausting its attempts — both are loud aborts
    assert(e.isInstanceOf[CorruptManifest] ||
      (e.getCause != null && e.getCause.isInstanceOf[CorruptManifest]),
      s"commit must surface the unreadable tip, got: $e")
    // nothing was published over the damage
    assert(!Files.exists(manifestFile(root, 3L)),
      "no version may publish over an unreadable tip")
  }

  test("the LIGHT cold walks refuse damaged text like the heavy parse: routing and pruning, zero-byte and headerless") {
    // coldOverlayAt (the one light decode behind tableMayMatch and
    // pruned planning) resolves through the same storedChainAt as the
    // heavy parse — the header guard lives on that shared walk, so a
    // zero-byte in-flight
    // full must surface CorruptManifest from the light paths too (never
    // a bare NoSuchElementException, never a quietly-empty meta map
    // that upgrades "may match" answers into wrong "no-match" ones)
    val root = freshRoot("corrupt_light")
    ManifestTable.create(spark, root, orders.limit(20),
      statsColumns = Seq("o_orderkey"))
    for (bytes <- Seq(Array.emptyByteArray,
        "data/tx-zzz/part-00000.parquet\n".getBytes("UTF-8"))) {
      Files.write(manifestFile(root, 1L), bytes,
        StandardOpenOption.TRUNCATE_EXISTING)
      ManifestTable.dropResolvedCacheForTest()
      val e = intercept[CorruptManifest](
        ManifestTable.tableMayMatch(spark, root, col("o_orderkey") === 1))
      assert(e.getMessage.contains("graft-manifest"), e.getMessage)
      val e2 = intercept[CorruptManifest](
        ManifestTable.readPruned(spark, root, col("o_orderkey") === 1).count())
      assert(e2.getMessage.contains("graft-manifest"), e2.getMessage)
    }
  }

  test("time travel to an undamaged version still reads past a damaged later tip") {
    val root = freshRoot("corrupt_tt")
    ManifestTable.create(spark, root, orders.limit(20))
    ManifestTable.append(spark, root, orders.limit(10))
    Files.write(manifestFile(root, 2L), Array.emptyByteArray,
      StandardOpenOption.TRUNCATE_EXISTING)
    ManifestTable.dropResolvedCacheForTest()
    // v1 is intact: the damage is isolated to the versions that chain
    // through it (deltas base on version-1, never forward)
    assert(ManifestTable.read(spark, root, Some(1L))
      .agg(count(lit(1))).head.getLong(0) === 20L)
  }
}
