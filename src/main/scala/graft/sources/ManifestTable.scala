package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Transactional table layout with a versioned manifest log — the
  * lakehouse commit protocol from the public Delta Lake design (Armbrust
  * et al., "Delta Lake: High-Performance ACID Table Storage over Cloud
  * Object Stores", VLDB 2020), reduced to its core: a table is a
  * directory of immutable data files plus an ordered log of manifest
  * files, and THE ONLY atomic operation in the whole protocol is
  * publishing the next manifest. Everything LakeOps' staging/retire
  * swaps achieve with three ad-hoc two-rename dances falls out of one
  * rule here: data files are invisible until a manifest references them.
  *
  * Layout:
  * {{{
  *   <root>/data/tx-<uuid>/part-*.parquet   immutable once written
  *   <root>/_graft_log/v00000001.manifest   one text file per version
  * }}}
  *
  * A manifest is a plain text file: a `# version=N op=X` header line
  * followed by one root-relative data-file path per line. Plain text
  * (not JSON/Avro) keeps the reader dependency-free and the file
  * human-inspectable; the driver-side cost is O(files), never O(rows).
  *
  * Commit protocol (all driver-side metadata except the data write):
  *  1. write the new data files under `data/tx-<uuid>/` (a Spark job);
  *  2. read the latest version N from the log listing;
  *  3. compose manifest N+1 (append = old files + new, overwrite = new
  *     only, compact = rewritten files replacing old content);
  *  4. write the manifest body to a temp name, then RENAME it to
  *     `v%08d.manifest` — rename-without-overwrite is the atomic
  *     publish point. A concurrent committer that won the race makes
  *     the rename fail; the loser re-reads the log and retries against
  *     the new tip (optimistic concurrency). Appends commute, so a
  *     retry is always safe for them; overwrite/compact retries
  *     re-resolve against the new base the same way MERGE would.
  *  5. a crash ANYWHERE before step 4 publishes nothing: orphaned
  *     `tx-` directories are invisible to every reader and reclaimed
  *     by [[vacuum]]. There is no recovery preamble to run — compare
  *     LakeOps.compactTable's crash-window dance, which this retires
  *     for manifest-managed tables.
  *
  * Readers list the log, pick the highest version (or any retained
  * older one — time travel), and read exactly the files that manifest
  * names. Snapshot isolation is structural: a manifest never changes
  * after publish and data files are never mutated.
  *
  * At 100 TB the log listing and manifest size scale with FILE count
  * (a few thousand entries after [[compact]]), not data volume; the
  * single-directory rename-based publish is the documented HDFS/local
  * protocol — true object stores need a put-if-absent primitive or a
  * coordination service for step 4, exactly as the Delta paper notes.
  */
/** Thrown by [[ManifestTable.readChanges]] (and the append-only
  * [[ManifestTable.readChangesSince]]) when a window is NOT expressible
  * as a row-level delta (overwrite/restore rewrote the file set, a
  * pre-tracking rewrite, a vacuumed cursor, ...). This is the ONLY
  * exception a declarative-recovery consumer (change-feed source under
  * `onRefusal=refresh`, [[graft.ops.LakeOps.maintainMirror]]) may
  * convert into a full refresh — transient IO errors, corrupted logs,
  * and misconfiguration propagate so real failures stay loud. */
final class NotDeltaExpressible(msg: String) extends IllegalStateException(msg)

/** Thrown by every op that commits PLANNED at the version it read
  * (merge / delete / delete-mor / purge-dv / the OPTIMIZEs /
  * apply-changes / schema, spec and constraint additions — see
  * [[ManifestTable]]'s `commit`) when the tip advanced past that
  * version — the "concurrent modification … re-run" abort, as a TYPE
  * so retry logic ([[ManifestTable.applyChangesMor]]'s self-heal,
  * [[ManifestTable.deleteMor]]'s re-plan) can match it without parsing
  * message text. Always safe to re-run the aborted op from scratch. */
final class ConcurrentCommit(msg: String) extends IllegalStateException(msg)

/** One filesystem family's atomic slot-claim primitive — the seam the
  * commit protocol publishes through (see [[ManifestTable.publishRaw]]).
  * `claim` must atomically install `tmp`'s content at `dst` and return
  * whether THIS caller won the slot: exactly one of N concurrent
  * claimers of the same `dst` may return true, and losers must leave
  * the winner's content untouched. The contract has a SECOND clause,
  * equally load-bearing: the winner's bytes must become visible
  * ATOMICALLY — no reader or lister may ever observe `dst` existing
  * with none or some of the content (true of link(2), HDFS rename, and
  * a completed S3/GCS/ABFS PUT; NOT true of create-then-write copies).
  * An arm that violates visibility does not corrupt the table — every
  * manifest carries a header + CRC trailer, so a partially-visible slot
  * reads as [[CorruptManifest]] (readers fail loudly, commits re-base
  * with bounded backoff until the bytes land) — but it turns the
  * in-flight window into avoidable read failures and retry latency.
  * Built-in arms cover local filesystems (link(2)) and HDFS
  * (rename-refuses-dst); object stores register a conditional-put arm
  * (S3 `If-None-Match: *`, GCS `ifGenerationMatch=0`, ABFS ETag
  * preconditions) via [[ManifestTable.registerSlotClaimer]].
  *
  * Reference S3-family arm (sketch — ConcurrencySpec races the full
  * commit battery through this seam twice: once through an arm with
  * store-accurate atomic visibility, and once through a deliberately
  * ADVERSARIAL arm whose byte copy is non-atomic, which the protocol
  * must survive loudly — abort or retry, never silent loss):
  * {{{
  * ManifestTable.registerSlotClaimer("s3a", new SlotClaimer {
  *   def claim(f: FileSystem, tmp: Path, dst: Path): Boolean = {
  *     val bytes = readAll(f.open(tmp))               // small: manifest text
  *     try {                                          // the store decides:
  *       s3.putObject(PutObjectRequest.builder()      //   exactly one PUT
  *         .bucket(bucketOf(dst)).key(keyOf(dst))     //   with If-None-Match
  *         .ifNoneMatch("*").build(),                 //   succeeds per key
  *         RequestBody.fromBytes(bytes))
  *       true
  *     } catch {
  *       case e: S3Exception if e.statusCode == 412 => false // occupant won
  *     }
  *   }
  * })
  * }}}
  * The arm must NOT fall back to copy+rename (not atomic on object
  * stores) and must surface non-412 failures — a swallowed 5xx would
  * look like a lost race and silently drop a commit. */
trait SlotClaimer {
  def claim(f: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean
}

/** The REAL S3-family claim arm, written to the [[SlotClaimer]]
  * contract through Hadoop's conditional-create builder (HADOOP-19256,
  * Hadoop ≥ 3.4.1) instead of a vendor SDK: `createFile(dst)` with the
  * MANDATORY option `fs.option.create.conditional.overwrite = false`
  * maps, on the S3A connector, to exactly one `PUT` carrying
  * `If-None-Match: *` issued at `close()` — the store itself decides
  * the winner per key, the loser's close fails with the 412
  * precondition surfaced as `RemoteFileChangedException` (a
  * `PathIOException` subclass that lives in hadoop-aws, so this
  * module classifies by the base class + slot occupancy). Both
  * contract clauses hold by construction: win-or-fail atomicity is the
  * store's conditional PUT, and visibility is atomic because a
  * completed S3 PUT exposes all bytes or none — no reader can observe
  * a partial object.
  *
  * Deployment (once per JVM, before the first commit):
  * {{{ ManifestTable.registerSlotClaimer("s3a", S3ConditionalPutClaimer) }}}
  *
  * Failure discipline (the scaladoc hazard on [[SlotClaimer]]): ONLY a
  * failure with an OCCUPIED slot classifies as a lost race; any other
  * `PathIOException` — throttling, a 5xx, a broken stream — propagates,
  * because a swallowed store failure would silently drop a commit. The
  * `must(...)` form (not `opt`) makes a connector that does not honor
  * conditional creates REFUSE the build loudly instead of quietly
  * falling back to a non-atomic overwrite. Cannot be integration-tested
  * in this environment (no object store); ConcurrencySpec races the
  * full commit battery through a store-accurate conditional-put fake
  * with the same win-or-fail + atomic-visibility shape, and
  * [[S3ConditionalPutClaimer.classify]] is spec-pinned directly. */
class S3ConditionalPutClaimer extends SlotClaimer {
  import org.apache.hadoop.fs.{FileSystem, Path, PathIOException}

  /** One conditional PUT of `bytes` at `dst` — the store's atomic
    * decision point. Overridable seam for the contract spec only. */
  protected def putConditional(f: FileSystem, bytes: Array[Byte], dst: Path): Unit = {
    val builder = f.createFile(dst).overwrite(false)
    builder.must(
      org.apache.hadoop.fs.Options.CreateFileOptionKeys
        .FS_OPTION_CREATE_CONDITIONAL_OVERWRITE,
      false)
    val out = builder.build()
    var ok = false
    try { out.write(bytes); ok = true } finally {
      // close() issues the PUT; a losing claim throws HERE. Suppress the
      // close only when write itself already failed (propagate that).
      if (ok) out.close()
      else try out.close() catch { case scala.util.control.NonFatal(_) => }
    }
  }

  final def claim(f: FileSystem, tmp: Path, dst: Path): Boolean = {
    val in = f.open(tmp)
    val bytes =
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    try { putConditional(f, bytes, dst); true }
    catch { case e: PathIOException => classify(f, dst, e) }
  }

  /** Lost race (false) only when the slot is genuinely occupied —
    * otherwise the failure was the store's, not the protocol's, and it
    * propagates. Occupancy is re-checked against the store rather than
    * trusting the exception type: hadoop-aws's 412 subclass is not on
    * every classpath, and an occupied slot is the ONLY observation that
    * makes "someone else won" true. S3's conditional PUT is strongly
    * consistent (a 412 loser's subsequent HEAD sees the winner), but
    * the re-check is still BOUNDED-retried (~120 ms, the
    * resolveParsedRetrying discipline) so a store or middleware with a
    * momentary visibility lag classifies the race correctly instead of
    * surfacing a spurious commit failure; a slot still absent after the
    * waits means the failure was never a race, and it propagates. */
  private[graft] def classify(f: FileSystem, dst: Path,
      e: org.apache.hadoop.fs.PathIOException): Boolean = {
    // 5 occupancy checks with 8+16+32+64 ms between them — the SAME
    // ~120 ms ladder as retryingCorrupt, so the doc claim above is the
    // one discipline everywhere (the last check gets no trailing sleep:
    // nothing would re-check after it)
    var attempt = 0
    while (attempt < 5) {
      if (f.exists(dst)) return false
      attempt += 1
      if (attempt < 5) Thread.sleep(4L << attempt)
    }
    throw e
  }
}

object S3ConditionalPutClaimer extends S3ConditionalPutClaimer

/** A published manifest failed its integrity trailer on read — the
  * bytes on disk are not the bytes that were committed (post-publish
  * corruption: bit rot, a torn copy, a truncation). Never retryable and
  * never swallowed: readers fail at the read that would consume the
  * corrupt delta, and the checkpoint divergence gate refuses to
  * checkpoint over it instead of treating it as "unreadable". */
final class CorruptManifest(msg: String) extends IllegalStateException(msg)

object ManifestTable {

  /** Refusal-flavored `require`: the designed "this window demands a
    * full refresh" signal, distinguishable from genuine errors. */
  private def refuse(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new NotDeltaExpressible(msg)

  private val LogDir = "_graft_log"
  private val DataDir = "data"
  private val Suffix = ".manifest"
  /** Commit attempts per operation before giving up: each loss means a
    * concurrent writer published first, so the bound only trips under
    * sustained contention on a single table. */
  private val MaxCommitAttempts = 10

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Long): Path =
    new Path(s"$root/$LogDir/" + f"v$v%08d" + Suffix)

  /** Bounded per-root map (LRU on roots): a long-lived JVM cycling
    * millions of temp tables must not grow driver state without bound —
    * the same treatment the per-version parsed-state caches have.
    * Eviction is safe for both users: the tip cache re-primes from one
    * listing on a miss, and the listing meter is test instrumentation
    * whose counts only need to survive a test's own working set. */
  private final class RootLru[V](maxRoots: Int) {
    private val m = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
        this.size() > maxRoots
    }
    def get(root: String): Option[V] = synchronized(Option(m.get(root)))
    def merge(root: String, v: V)(f: (V, V) => V): Unit = synchronized {
      val old = m.get(root)
      m.put(root, if (old == null) v else f(old, v)); ()
    }
    def getOrPut(root: String)(mk: => V): V = synchronized {
      val hit = m.get(root)
      if (hit != null) hit else { val v = mk; m.put(root, v); v }
    }
    private[graft] def size(): Int = synchronized(m.size())
  }

  /** Roots a single JVM plausibly works with CONCURRENTLY — far above
    * any real working set, far below "every temp table ever created". */
  private val MaxCachedRoots = 4096

  /** Filesystem log listings performed per root (test instrumentation:
    * the planner-side staleness check must NOT list per planned query). */
  private val listingCounts =
    new RootLru[java.util.concurrent.atomic.AtomicLong](MaxCachedRoots)

  private[graft] def listingsOf(root: String): Long =
    listingCounts.get(root).map(_.get).getOrElse(0L)

  private[graft] def cachedRootCountsForTest(): (Int, Int) =
    (tipCache.size(), listingCounts.size())

  private[graft] def primeTipForTest(root: String, v: Long): Unit = primeTip(root, v)

  /** Versions present in the log, ascending (empty = not a manifest table). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    listingCounts.getOrPut(root)(
      new java.util.concurrent.atomic.AtomicLong(0L)).incrementAndGet()
    val dir = new Path(s"$root/$LogDir")
    val f = fs(spark, root)
    val vs =
      if (!f.exists(dir)) Seq.empty[Long]
      else f.listStatus(dir).iterator
        .map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(Suffix))
        .map(n => n.stripPrefix("v").stripSuffix(Suffix).toLong)
        .toSeq.sorted
    vs.lastOption.foreach(primeTip(root, _))
    vs
  }

  /** Monotonic per-root tip cache, primed by every publish THIS JVM
    * performs and by every log listing — so planner-side freshness
    * checks ([[graft.plans.MartRewrite]]'s `maxVersionLag`) cost a map
    * read instead of a filesystem listing per planned query. Monotonic
    * merge only: a concurrent prime can never regress the tip. */
  private val tipCache = new RootLru[java.lang.Long](MaxCachedRoots)

  private def primeTip(root: String, v: Long): Unit =
    tipCache.merge(root, java.lang.Long.valueOf(v))(
      (a, b) => if (a >= b) a else b)

  /** The newest version this JVM KNOWS about for `root` — the cached tip
    * when primed (every commit and listing primes it), else one listing
    * (which primes). Same-JVM contract: a writer in ANOTHER process
    * advances the log without updating this cache, so callers using
    * this for freshness bounds (the MV staleness check) accept that an
    * out-of-process writer's advance is observed only at the next
    * listing/commit in THIS JVM — the maintenance loop that registers
    * marts runs here, which is the case the bound protects. */
  def knownTipVersion(spark: SparkSession, root: String): Long =
    tipCache.get(root).map(_.longValue).getOrElse {
      val vs = versions(spark, root)
      require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
      vs.max
    }

  private def rawText(spark: SparkSession, root: String, version: Long): String = {
    val f = fs(spark, root)
    val in = f.open(manifestPath(root, version))
    try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Resolve `version`'s FULL structural state from DISK: walk back to
    * the nearest full snapshot (or vacuum-materialized `.checkpoint`
    * sidecar), parse it ONCE, then apply the delta chain structurally —
    * O(files + Σ|delta|) with zero intermediate text renders. The walk
    * starts AT the queried version itself: vacuum materializes the
    * checkpoint at the oldest retained version and deletes its base
    * chain, so that version is readable ONLY through its own sidecar.
    * The chain is contiguous (a delta's base is always version-1) and
    * bounded by CheckpointInterval. */
  private def resolveParsedFromDisk(spark: SparkSession, root: String, version: Long): Parsed = {
    val (full, chain) = storedChainAt(spark, root, version)
    chain.reverseIterator.foldLeft(parseStored(spark, root, full))(
      (st, d) => applyDeltaParsed(st, parseDelta(d)))
  }

  /** THE cold disk walk, shared by both resolution paths (the heavy
    * [[resolveParsedFromDisk]] and the light [[coldOverlayAt]] that
    * routing and pruned planning read): walk back from `version` to the
    * nearest stored full form — a vacuum-materialized `.checkpoint`
    * sidecar or a non-delta manifest — collecting the delta chain
    * (newest first). One implementation, so the overlay semantics
    * layered on top can never drift on WHICH bytes they resolve from. */
  private def storedChainAt(spark: SparkSession, root: String,
      version: Long): (String, Vector[String]) = {
    // the header guard lives HERE, on the shared walk, so both cold
    // resolution paths (heavy parse, light overlay) get the same
    // refusal semantics: a zero-byte or header-truncated stored form
    // is an in-flight publish or a torn copy, NEVER a valid state —
    // without this, the light path would quietly parse
    // headerless text into an empty meta map (or die with a bare
    // NoSuchElementException on zero bytes) instead of the loud,
    // retryable [[CorruptManifest]] the heavy path throws
    def guarded(t: String, what: String): String = {
      if (!t.startsWith("# graft-manifest"))
        throw new CorruptManifest(
          s"$what is empty or missing its '# graft-manifest' header " +
            s"(got ${t.length} bytes) — an in-flight publish whose bytes " +
            "are not yet visible, or a truncated snapshot; never a valid state")
      t
    }
    val chain = mutable.Buffer.empty[String] // deltas, newest first
    var v = version
    var full: String = null
    val f = fs(spark, root)
    while (full == null) {
      val ck = checkpointPath(root, v)
      if (f.exists(ck)) {
        val in = f.open(ck)
        try full = guarded(new String(
          org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8),
          s"checkpoint sidecar v$v")
        finally in.close()
      } else {
        val t = guarded(rawText(spark, root, v), s"manifest v$v")
        if (isDelta(t)) { chain += t; v = deltaBaseOf(t) }
        else full = t
      }
    }
    (full, chain.toVector)
  }

  /** The structural state of `version` — the accessor [[manifestFiles]]/
    * [[manifestMeta]]/[[rawStats]] read through, LRU-cached so hot-tip
    * reads and commits never re-parse O(files) text (and never re-decode
    * its meta and stats, which the state holds). Immutable after
    * publish; [[invalidateVersion]] drops entries when vacuum deletes a
    * version's manifest. */
  private def parsedAt(spark: SparkSession, root: String, version: Long): Parsed =
    stateCache.getOrCompute(root, version)(resolveParsedRetrying(spark, root, version))

  /** [[resolveParsedFromDisk]] with a bounded re-read for the in-flight
    * window: through a claim arm whose byte copy is not atomically
    * visible (see [[SlotClaimer]]), a just-listed version can fail the
    * header/CRC guards for a few ms before the winner's bytes land —
    * transient, self-healing, worth ~100 ms of patience from EVERY
    * reader (planners included: [[prepareAppend]]'s schema read races
    * the same window as [[commit]]'s re-base). PERMANENT damage (a torn
    * copy that crashed, a truncation) still rethrows the refusal after
    * the bounded window — loud, never a laundered empty state. */
  private def resolveParsedRetrying(spark: SparkSession, root: String,
      version: Long): Parsed =
    retryingCorrupt(resolveParsedFromDisk(spark, root, version))

  /** The bounded in-flight retry, generic: every cold walk (heavy
    * parse, light overlay) shares it so a planner resolving
    * routing state gets the same ~120 ms of patience as a committer's
    * re-base — the doc claim on [[resolveParsedRetrying]] holds for ALL
    * resolution entry points, not just the heavy one. */
  private def retryingCorrupt[T](body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case c: CorruptManifest =>
          attempt += 1
          if (attempt >= 5) throw c
          Thread.sleep(4L << attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Full snapshot every Nth version bounds every delta-resolution walk
    * (the Delta-checkpoint / Iceberg-manifest-list cadence). */
  private val CheckpointInterval = 10L
  private val DeltaHeader = "# graft-manifest-delta "
  private val MetaPlusPrefix = "# meta+:"
  private val MetaMinusPrefix = "# meta-:"
  private val StatsPlusPrefix = "# stats+:"
  private val StatsMinusPrefix = "# stats-:"

  private def isDelta(text: String): Boolean = text.startsWith(DeltaHeader)

  /** Integrity trailer on every delta manifest: `# crc:<len>:<crc32>`
    * over all preceding bytes, announced by ` crc=1` in the header so a
    * truncation that eats the trailer itself still fails loudly.
    * Verified by [[parseDelta]] on EVERY read — a delta corrupted on
    * disk AFTER publish (bit rot, a partial copy) fails at the read
    * that would consume it, not at the next checkpoint's divergence
    * gate; the window where a reader could be served a silently-wrong
    * chain closes for bytes-level corruption at the cost of one CRC32
    * pass per delta read. Pre-trailer deltas (no `crc=1`) verify
    * nothing — compatible with logs written before this round. */
  private val CrcPrefix = "# crc:"

  private def withIntegrityTrailer(body: String): String = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val crc = new java.util.zip.CRC32()
    crc.update(bytes)
    body + CrcPrefix + bytes.length + ":" +
      java.lang.Long.toHexString(crc.getValue) + "\n"
  }

  /** Split a delta into (payload, announced?) and verify the trailer.
    * Throws on any mismatch — corruption must never parse quietly. */
  private def verifyIntegrity(delta: String): String = {
    val announced = delta.linesIterator.next().split(' ').contains("crc=1")
    val nl = delta.lastIndexOf('\n', delta.length - 2)
    val lastLine = if (delta.endsWith("\n")) delta.substring(nl + 1).stripSuffix("\n") else ""
    if (!lastLine.startsWith(CrcPrefix)) {
      if (announced) throw new CorruptManifest(
        "manifest integrity check failed: header announces a CRC trailer " +
          "but none is present (truncated or partially-visible manifest?)")
      return delta
    }
    val payload = delta.substring(0, nl + 1)
    val parts = lastLine.stripPrefix(CrcPrefix).split(':')
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    val crc = new java.util.zip.CRC32()
    crc.update(bytes)
    if (parts.length != 2 || parts(0).toLong != bytes.length ||
        java.lang.Long.parseLong(parts(1), 16) != crc.getValue)
      throw new CorruptManifest(
        s"manifest integrity check failed: stored ${lastLine.stripPrefix(CrcPrefix)}, " +
          s"read ${bytes.length}:${java.lang.Long.toHexString(crc.getValue)} — " +
          "the manifest was corrupted on disk after publish, or its publish " +
          "is still in flight (non-atomically-visible byte copy)")
    payload
  }

  private def deltaBaseOf(delta: String): Long =
    delta.linesIterator.next().split(' ')
      .collectFirst { case s if s.startsWith("base=") => s.stripPrefix("base=").toLong }
      .getOrElse(throw new IllegalStateException("delta manifest without base"))

  private def checkpointPath(root: String, v: Long): Path =
    new Path(s"$root/$LogDir/" + f"v$v%08d" + ".checkpoint")

  /** Persisted prune-index sidecar beside the checkpoint: the digested
    * [[ColdOverlay]] of a pointer-form version whose overlay is trusted,
    * written opportunistically by the first COLD probe (pruned read or
    * routing) so every LATER cold process plans from one pre-digested
    * read — zero pointer-body decodes, zero delta replays
    * ([[coldOverlayAt]]). Deterministic per (root, version)
    * (derived from the immutable stored chain), so racing writers
    * produce identical bytes and the lost rename is ignored; carries the
    * standard CRC trailer, and any damage falls back to the chain walk. */
  private def pruneIdxPath(root: String, v: Long): Path =
    new Path(s"$root/$LogDir/" + f"v$v%08d" + ".pruneidx")

  /** Two-level LRU: versions bounded PER ROOT (so one hot multi-version
    * table can never evict another table's entries — with a flat global
    * LRU, ~17 hot tables made the writer's incremental compose miss
    * every commit AND silently starved the checkpoint divergence gate,
    * which needs version-1 of ITS root resident), and roots bounded
    * globally (so long-lived JVMs cycling through many temp tables
    * don't leak). Entries are immutable after publish; eviction is pure
    * cost, never staleness. Three instances, one per concern: resident
    * states ([[stateCache]]), segment files ([[segmentCache]]) and cold
    * overlays ([[coldOverlayCache]]). */
  private final class PerRootLru[V](perRoot: Int, maxRoots: Int) {
    private val roots =
      new java.util.LinkedHashMap[String, java.util.LinkedHashMap[String, V]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.util.LinkedHashMap[String, V]]): Boolean =
          size() > maxRoots
      }
    private def inner(root: String): java.util.LinkedHashMap[String, V] = {
      val hit = roots.get(root)
      if (hit != null) hit
      else {
        val m = new java.util.LinkedHashMap[String, V](8, 0.75f, true) {
          override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
            size() > perRoot
        }
        roots.put(root, m)
        m
      }
    }
    def get(root: String, version: Long): V = getK(root, version.toString)
    def put(root: String, version: Long, value: V): Unit = putK(root, version.toString, value)
    def remove(root: String, version: Long): Unit = removeK(root, version.toString)
    def getK(root: String, key: String): V =
      synchronized(inner(root).get(key))
    def putK(root: String, key: String, value: V): Unit =
      synchronized { inner(root).put(key, value); () }
    def removeK(root: String, key: String): Unit =
      synchronized { Option(roots.get(root)).foreach(_.remove(key)); () }
    def clear(): Unit = synchronized(roots.clear())
    /** [[cachedIn]]'s contract: compute OUTSIDE the lock, racing
      * computes may both run and last-put wins (values are immutable). */
    def getOrCompute(root: String, version: Long)(compute: => V): V =
      getOrComputeK(root, version.toString)(compute)
    def getOrComputeK(root: String, key: String)(compute: => V): V = {
      val hit = getK(root, key)
      if (hit != null) return hit
      val v = compute
      putK(root, key, v)
      v
    }
  }

  /** The resident-state LRU: ONE entry per (root, version), the
    * version's [[Parsed]] state with its decoded meta, decoded stats
    * and prune index riding inside it. The parsed accessors
    * ([[manifestFiles]]/[[manifestMeta]]/[[rawStats]]) and the writer's
    * incremental compose read through it, so hot-tip commits and reads
    * parse and decode each version's O(files) state at most once per
    * JVM. The per-root bound keeps the tip and its base resident on
    * EVERY hot table, so the checkpoint divergence gate always has a
    * cached version-1 state to verify. */
  private val stateCache = new PerRootLru[Parsed](8, 64)

  /** Drop every in-JVM cache entry for (root, version) — called when a
    * manifest is DELETED from disk (vacuum), so same-JVM reads of a
    * dropped version fail like a fresh process's would instead of being
    * served from a cache for a version that no longer exists. */
  private def invalidateVersion(root: String, version: Long): Unit = {
    stateCache.remove(root, version)
    coldOverlayCache.remove(root, version)
  }

  /** Test hook: drop EVERY in-JVM manifest cache (resident states,
    * segment files, cold overlays) to simulate a fresh process — a cold
    * JVM resolving a vacuumed tip must go through the on-disk
    * .checkpoint sidecar, not an in-memory leftover. */
  private[graft] def dropResolvedCacheForTest(): Unit = {
    stateCache.clear()
    segmentCache.clear()
    coldOverlayCache.clear()
  }

  /** Structural pieces of a FULL manifest text (raw lines preserved so
    * re-rendering is byte-exact). `statsLines` is a plain hash map —
    * render order comes from `files`, and a positional map here would
    * make every per-file lookup O(files) (an O(files²) render at 10M
    * entries). The second parameter list rides OUTSIDE equality:
    * `segSource` is the storage-layout detail (which two-tier segment
    * files this state's entries came from, or may reuse — see
    * [[composeSegmented]]),
    * never part of the semantic state the divergence gate compares;
    * `composedMeta`/`composedStats` are the decoded maps a compose
    * already built for these lines, so a committed version's maps are
    * never decoded again. The decoded views below are computed once,
    * on first use, and live as long as the state stays resident. */
  private final case class Parsed(
      header: String,
      metaLines: Map[String, String], // meta key -> full "# meta:..." line
      statsLines: Map[String, String], // stats path -> full line
      files: Vector[String])(
      val segSource: Option[Vector[Segment]],
      val segTracking: Option[SegTracking] = None,
      val composedMeta: Option[Map[String, String]] = None,
      val composedStats: Option[Map[String, ManifestStats.FileStats]] = None) {

    /** Decoded meta lines: [[manifestMeta]] is called several times per
      * commit (txn carry, carried-key filter, schema reads), and
      * re-splitting every meta line each call is O(meta) string work —
      * O(files) of it on row-tracked tables, whose `rowbase-*` entries
      * scale with file count. */
    lazy val metaMap: Map[String, String] = composedMeta.getOrElse(
      metaLines.valuesIterator
        .map(_.stripPrefix(MetaPrefix).split("=", 2))
        .collect { case Array(k, v) => k -> v }
        .toMap)

    /** Decoded stats lines, the table rollup included — the incremental
      * compose compares FileStats structs against this to find changed
      * lines without serializing O(files). */
    lazy val statsMap: Map[String, ManifestStats.FileStats] = composedStats.getOrElse(
      statsLines.valuesIterator
        .map(l => ManifestStats.deserialize(l.stripPrefix(StatsPrefix)))
        .toMap)

    /** The plan-tier grouping of a SEGMENTED state (see [[PruneIndex]]);
      * None when the state names no segments. */
    lazy val pruneIndex: Option[PruneIndex] = segSource.filter(_.nonEmpty).map { segs =>
      val fileSet = files.toSet
      val covered = new java.util.HashSet[String]()
      val groups = Vector.newBuilder[(Option[ManifestStats.FileStats], Vector[String])]
      segs.foreach { s =>
        val live = s.members.filter(fileSet.contains)
        live.foreach(covered.add)
        if (live.nonEmpty) {
          val rollupValid = s.rollup.isDefined &&
            live.forall(m => statsLines.get(m) == s.stats.get(m))
          groups += ((if (rollupValid) s.rollup else None, live))
        }
      }
      val tail = files.filterNot(covered.contains)
      if (tail.nonEmpty) groups += ((None, tail))
      PruneIndex(groups.result())
    }

    /** The same lines under another storage layout or with other
      * composed maps; unnamed parts carry over. */
    def relaid(segSource: Option[Vector[Segment]] = segSource,
        segTracking: Option[SegTracking] = segTracking,
        composedMeta: Option[Map[String, String]] = composedMeta,
        composedStats: Option[Map[String, ManifestStats.FileStats]] = composedStats): Parsed =
      Parsed(header, metaLines, statsLines, files)(
        segSource, segTracking, composedMeta, composedStats)
  }

  /** Writer-side segment DIRTINESS ledger, carried with the state (like
    * `segSource`, outside equality): which base segments a delta since
    * the last seal has touched, which paths were removed, and the
    * appended tail — so a checkpoint walks only DIRTY segments plus the
    * tail and carries every clean segment by name with ZERO member
    * visits, making checkpoint work O(touched + #segments) instead of
    * O(files). Maintained incrementally by [[applyDeltaParsed]] at
    * O(delta) per commit (persistent structures share); absent on a
    * cold writer, whose first checkpoint does the full walk once and
    * re-initializes. A cheap O(segments) live-count invariant plus the
    * existing checkpoint divergence gate guard against ledger drift. */
  private final case class SegTracking(
      memberOf: Map[String, String], // path AND rowbase meta key → segment name
      tail: Vector[String],          // files appended since the last seal
      dirty: Set[String],            // segment names touched since the last seal
      removed: Set[String])          // paths removed since the last seal

  /** One immutable two-tier segment file: a GROUP of file entries
    * (paths + their stats lines + their PER-FILE meta lines — the
    * `rowbase-*` row-id block entries that scale with file count) a
    * checkpoint references by pointer — the Iceberg manifest-list idea.
    * A segment never changes after write; checkpoints that keep all
    * its members with unchanged stats/meta carry the pointer and never
    * re-list (let alone re-serialize) the group. Storing the rowbase
    * lines WITH their files keeps a row-tracked table's pointer body
    * O(table-level meta + segments), not O(files). */
  private[sources] final case class Segment(
      name: String, members: Vector[String], stats: Map[String, String],
      meta: Map[String, String],
      // min-of-mins/max-of-maxes over the members' stats, carried in the
      // POINTER line ([[composeSegmented]]) so planning can exclude the
      // whole group in O(columns) — Iceberg's manifest-level pruning
      rollup: Option[ManifestStats.FileStats] = None)

  private def parseFull(text: String): Parsed = {
    // An empty or headerless manifest is NEVER a valid state: every
    // manifest this engine writes begins with `# graft-manifest`. A
    // zero-length or header-truncated file is an in-flight publish (a
    // claim arm whose byte copy is not atomically visible — see
    // [[SlotClaimer]]) or a torn/truncated snapshot; parsing it as a
    // valid EMPTY table would launder a silent lost update (a re-basing
    // committer composes the next version from a state missing the
    // winner's rows — both appends "succeed", half the data is gone, the
    // exact signature the concurrency battery caught). Refuse loudly;
    // [[commit]]'s re-base treats this as in-flight and retries bounded.
    if (!text.startsWith("# graft-manifest"))
      throw new CorruptManifest(
        "manifest is empty or missing its '# graft-manifest' header " +
          s"(got ${text.length} bytes) — an in-flight publish whose bytes " +
          "are not yet visible, or a truncated snapshot; never a valid state")
    val payload = verifyIntegrity(text)
    val meta = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val files = Vector.newBuilder[String]
    var header = ""
    payload.linesIterator.foreach {
      case l if l.startsWith(MetaPrefix) =>
        meta += l.stripPrefix(MetaPrefix).split("=", 2)(0) -> l
      case l if l.startsWith(StatsPrefix) =>
        val payload = l.stripPrefix(StatsPrefix)
        stats += java.net.URLDecoder.decode(
          payload.split('|')(0), StandardCharsets.UTF_8) -> l
      case l if l.startsWith("#") => if (header.isEmpty) header = l
      case l if l.trim.nonEmpty => files += l
      case _ =>
    }
    // normalize the header to the canonical `version= op=` form shared
    // by every other resolution path ([[applyDeltaParsed]],
    // [[parseStored]]'s pointer branch) — the stored header may carry
    // extra tokens (` crc=1`) that must not leak into Parsed equality
    // (the checkpoint divergence gate) or [[opAt]]'s token split
    var version = 0L
    var op = "unknown"
    header.stripPrefix("# graft-manifest ").split(' ').foreach {
      case s if s.startsWith("version=") => version = s.stripPrefix("version=").toLong
      case s if s.startsWith("op=") => op = s.stripPrefix("op=")
      case _ =>
    }
    Parsed(s"# graft-manifest version=$version op=$op",
      meta.toMap, stats.toMap, files.result())(None)
  }

  /** A delta manifest's decoded actions (the READER's parse — the
    * writer's per-commit roundtrip check goes through this exact
    * decode, so encode/decode asymmetries degrade to a full write). */
  private final case class DeltaParts(
      version: Long, op: String,
      metaPlus: Seq[(String, String)], metaMinus: Seq[String],
      statsPlus: Seq[(String, String)], statsMinus: Seq[String],
      adds: Seq[String], removes: Set[String])

  private def parseDelta(rawDelta: String): DeltaParts = {
    val delta = verifyIntegrity(rawDelta)
    var version = 0L
    var op = ""
    delta.linesIterator.next().stripPrefix(DeltaHeader).split(' ').foreach {
      case s if s.startsWith("version=") => version = s.stripPrefix("version=").toLong
      case s if s.startsWith("op=") => op = s.stripPrefix("op=")
      case _ =>
    }
    val metaPlus = mutable.Buffer.empty[(String, String)]
    val metaMinus = mutable.Buffer.empty[String]
    val statsPlus = mutable.Buffer.empty[(String, String)]
    val statsMinus = mutable.Buffer.empty[String]
    val adds = mutable.Buffer.empty[String]
    val removes = mutable.Set.empty[String]
    delta.linesIterator.drop(1).foreach {
      case l if l.startsWith(MetaPlusPrefix) =>
        val kv = l.stripPrefix(MetaPlusPrefix)
        metaPlus += kv.split("=", 2)(0) -> (MetaPrefix + kv)
      case l if l.startsWith(MetaMinusPrefix) =>
        metaMinus += l.stripPrefix(MetaMinusPrefix)
      case l if l.startsWith(StatsPlusPrefix) =>
        val payload = l.stripPrefix(StatsPlusPrefix)
        statsPlus += java.net.URLDecoder.decode(
          payload.split('|')(0), StandardCharsets.UTF_8) -> (StatsPrefix + payload)
      case l if l.startsWith(StatsMinusPrefix) =>
        statsMinus += l.stripPrefix(StatsMinusPrefix)
      case l if l.startsWith("+") => adds += l.stripPrefix("+")
      case l if l.startsWith("-") => removes += l.stripPrefix("-")
      case _ =>
    }
    DeltaParts(version, op, metaPlus.toSeq, metaMinus.toSeq,
      statsPlus.toSeq, statsMinus.toSeq, adds.toSeq, removes.toSet)
  }

  /** Apply decoded delta actions over a base state — the structural
    * merge every resolution path shares (carried files keep base order,
    * adds append; the delta contract). Persistent-structure ops: cost is
    * O(|delta|), never O(files) — the remove-free append path must not
    * even WALK the carried file list (the guard below), or a streaming
    * sink's per-commit CPU would scale with table size. */
  private def applyDeltaParsed(base: Parsed, d: DeltaParts): Parsed = {
    val files =
      if (d.removes.isEmpty) base.files ++ d.adds
      else base.files.filterNot(d.removes) ++ d.adds
    val meta = (base.metaLines -- d.metaMinus) ++ d.metaPlus
    val stats = (base.statsLines -- d.removes -- d.statsMinus) ++ d.statsPlus
    Parsed(s"# graft-manifest version=${d.version} op=${d.op}", meta,
      stats, files)(base.segSource,
      updateTracking(base.segTracking, d.removes, d.adds,
        d.statsPlus.iterator.map(_._1).toSeq, d.statsMinus,
        d.metaPlus.iterator.map(_._1).toSeq, d.metaMinus))
  }

  /** Advance the dirtiness ledger by one delta — O(delta) persistent
    * updates. A segment dirties when a delta removes one of its
    * members, replaces/retracts a member's stats line, or touches a
    * member's `rowbase-*` meta line; stats/meta keys of files outside
    * every segment (the tail, the rollup pseudo-entry, table-level
    * meta) miss the memberOf lookup and dirty nothing. */
  private def updateTracking(tr: Option[SegTracking],
      removes: Iterable[String], adds: Seq[String],
      statsPlusKeys: Seq[String], statsMinusKeys: Seq[String],
      metaPlusKeys: Seq[String], metaMinusKeys: Seq[String]): Option[SegTracking] =
    tr.map { t =>
      var dirty = t.dirty
      var removed = t.removed
      (statsPlusKeys.iterator ++ statsMinusKeys.iterator ++
        metaPlusKeys.iterator ++ metaMinusKeys.iterator)
        .foreach(k => t.memberOf.get(k).foreach(dirty += _))
      removes.foreach { p =>
        t.memberOf.get(p).foreach(dirty += _)
        removed += p
      }
      val tail0 =
        if (removes.isEmpty) t.tail
        else { val rs = removes.toSet; t.tail.filterNot(rs) }
      SegTracking(t.memberOf, tail0 ++ adds, dirty, removed)
    }

  /** Render a structural state back to FULL manifest text, exactly as
    * [[composeBody]] renders (header, meta sorted by key, per-file
    * stats in file order then the rollup, file list) — so
    * render∘parse is the identity on every composed manifest. */
  private def renderParsed(p: Parsed): String = {
    ComposeMeters.fullBodies.incrementAndGet()
    val body = new StringBuilder(p.header).append('\n')
    p.metaLines.toSeq.sortBy(_._1).foreach { case (_, l) => body.append(l).append('\n') }
    p.files.foreach(f => p.statsLines.get(f).foreach(l => body.append(l).append('\n')))
    p.statsLines.get(ManifestStats.RollupKey).foreach(l => body.append(l).append('\n'))
    p.files.foreach(f => body.append(f).append('\n'))
    body.toString
  }

  // ---- two-tier segmented storage (Iceberg manifest-list shape) ----------

  /** Entries per segment file, and the file count below which a full
    * manifest stays INLINE text (segments only pay off when the flat
    * render would dominate — small tables keep the dependency-free
    * one-file form). Var so specs can exercise segmentation without
    * staging thousands of real files; production default targets
    * multi-MB segment files at ~100 B/entry. */
  private[graft] var SegmentTargetSize: Int = 8192

  /** Vacuum retention for unreferenced segment files (ms). Segments are
    * written before the pointer manifest that references them publishes,
    * so GC must not reclaim fresh ones — the Delta/Iceberg orphan-file
    * retention pattern. Var so specs can age orphans without sleeping.
    *
    * Clock assumption: segment ages compare stored mtimes (the STORE's
    * clock) against the vacuum host's clock, capped by the newest
    * retained manifest's own mtime (same store clock) — so a vacuum
    * host running AHEAD of the store by more than the grace cannot
    * reclaim an in-flight commit's just-written segments (the cap keeps
    * the horizon on store time whenever the table has recent commits);
    * a host running BEHIND only delays reclamation. Residual exposure:
    * writer-vs-store skew beyond the grace on a table idle since the
    * skewed write — covered by the documented don't-vacuum-concurrently-
    * with-a-writer contract. */
  private[graft] var SegmentGcGraceMs: Long = 15L * 60 * 1000

  /** Member-side witness of a staged catalog transaction targeting this
    * table (`.catalog-staged-<txnId>` in the log dir): written when the
    * transaction stages its body, removed at backfill and by abandoned-
    * txn GC. [[vacuum]] refuses while one is present. */
  private[sources] val StagedMarkerPrefix = ".catalog-staged-"
  private[sources] def stagedMarkerPath(root: String, txnId: String): Path =
    new Path(s"$root/$LogDir/$StagedMarkerPrefix$txnId")

  private val SegPrefix = "# seg:"
  private val SegHeader = "# graft-manifest-segment "
  /** Pseudo-path a segment's rollup serializes under in the pointer
    * line (never a real file; the decode discards it). */
  private val SegRollupKey = "__segrollup__"

  /** Is this stored manifest text the two-tier pointer form? */
  private def isSegmented(text: String): Boolean = {
    val nl = text.indexOf('\n')
    val first = if (nl < 0) text else text.substring(0, nl)
    first.startsWith("# graft-manifest ") && first.contains(" segs=1")
  }

  /** Segment-file LRU — segments are immutable and content-unique
    * (uuid-named), so entries never go stale; a reader at v+10 re-reads
    * only the segments that checkpoint rewrote. */
  private val segmentCache = new PerRootLru[Segment](32, 64)

  private def segmentPath(root: String, name: String): Path =
    new Path(s"$root/$LogDir/$name")

  private def loadSegment(spark: SparkSession, root: String, name: String,
      expectCount: Int): Segment =
    segmentCache.getOrComputeK(root, name) {
      ComposeMeters.segmentLoads.incrementAndGet()
      val f = fs(spark, root)
      val in = f.open(segmentPath(root, name))
      val raw =
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
        finally in.close()
      val payload = verifyIntegrity(raw)
      val stats = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val meta = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val members = Vector.newBuilder[String]
      payload.linesIterator.foreach {
        case l if l.startsWith(StatsPrefix) =>
          val p = l.stripPrefix(StatsPrefix)
          stats += java.net.URLDecoder.decode(
            p.split('|')(0), StandardCharsets.UTF_8) -> l
        case l if l.startsWith(MetaPrefix) =>
          meta += l.stripPrefix(MetaPrefix).split("=", 2)(0) -> l
        case l if l.startsWith("#") =>
        case l if l.trim.nonEmpty => members += l
        case _ =>
      }
      val m = members.result()
      if (m.size != expectCount) throw new CorruptManifest(
        s"segment $name holds ${m.size} entries, manifest pointer expects $expectCount")
      Segment(name, m, stats.toMap, meta.toMap)
    }

  /** Write one immutable segment file (uuid-named — no claim needed;
    * lost-race orphans are invisible and vacuumed). Stats and rowbase
    * lines are the ALREADY-SERIALIZED strings of the composed state —
    * sealing a segment appends references, it never re-serializes
    * entries. A member's `rowbase-*` meta line lives with it because it
    * is immutable while the file is named (assigned once at first
    * commit; rewrites get NEW files with fresh entries), exactly the
    * carry-by-pointer contract. */
  private def writeSegment(spark: SparkSession, root: String,
      members: Seq[String], statsLines: Map[String, String],
      metaLines: Map[String, String]): Segment = {
    val body = new StringBuilder(SegHeader).append("n=").append(members.size)
      .append(" crc=1\n")
    val segStats = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val segMeta = scala.collection.mutable.LinkedHashMap.empty[String, String]
    members.foreach { m =>
      statsLines.get(m).foreach { l => segStats += m -> l; body.append(l).append('\n') }
      val mk = RowBasePrefix + dvFileKey(m)
      metaLines.get(mk).foreach { l => segMeta += mk -> l; body.append(l).append('\n') }
    }
    members.foreach(m => body.append(m).append('\n'))
    val name = s"seg-${UUID.randomUUID()}.seg"
    val f = fs(spark, root)
    val out = f.create(segmentPath(root, name), false)
    try out.write(withIntegrityTrailer(body.toString).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // the segment's own stats rollup ([[ManifestStats.rollup]]'s
    // keep-biased construction over exactly these members) — O(members)
    // at seal time, carried by the pointer for O(columns) exclusion at
    // plan time. Absent whenever any member lacks stats or no column
    // survives, like the table rollup.
    val segRollup = {
      val schemaJson = metaLines.get(SchemaKey)
        .map(_.stripPrefix(MetaPrefix).split("=", 2)(1))
      val memberStats = segStats.iterator.map { case (_, l) =>
        ManifestStats.deserialize(l.stripPrefix(StatsPrefix))
      }.toMap
      ManifestStats.rollup(members, memberStats,
        schemaJson.map(j => physicalSchema(
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType])))
    }
    val seg = Segment(name, members.toVector, segStats.toMap, segMeta.toMap, segRollup)
    segmentCache.putK(root, name, seg)
    seg
  }

  /** Parse STORED manifest text — inline full form, or the two-tier
    * pointer form (header ` segs=1`): meta + the table rollup stay
    * inline, file entries resolve through the referenced segments. */
  private def parseStored(spark: SparkSession, root: String, text: String): Parsed = {
    if (!isSegmented(text)) return parseFull(text)
    val payload = verifyIntegrity(text)
    val meta = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val refs = Vector.newBuilder[(String, Int, Option[String])]
    var version = 0L
    var op = "unknown"
    payload.linesIterator.next().stripPrefix("# graft-manifest ").split(' ').foreach {
      case s if s.startsWith("version=") => version = s.stripPrefix("version=").toLong
      case s if s.startsWith("op=") => op = s.stripPrefix("op=")
      case _ =>
    }
    payload.linesIterator.drop(1).foreach {
      case l if l.startsWith(MetaPrefix) =>
        meta += l.stripPrefix(MetaPrefix).split("=", 2)(0) -> l
      case l if l.startsWith(StatsPrefix) =>
        val p = l.stripPrefix(StatsPrefix)
        stats += java.net.URLDecoder.decode(
          p.split('|')(0), StandardCharsets.UTF_8) -> l
      case l if l.startsWith(SegPrefix) =>
        val parts = l.stripPrefix(SegPrefix).split('|')
        refs += ((parts(0), parts(1).toInt, parts.lift(2)))
      case _ =>
    }
    val segs = refs.result().map { case (n, c, ru) =>
      val s = loadSegment(spark, root, n, c)
      // the rollup lives in the pointer, not the segment file — attach
      // it (a cache hit from the writing JVM already carries it)
      ru.filter(_ => s.rollup.isEmpty).fold(s)(t => s.copy(
        rollup = Some(ManifestStats.deserialize(
          java.net.URLDecoder.decode(t, StandardCharsets.UTF_8))._2)))
    }
    val files = segs.iterator.flatMap(_.members).toVector
    val statsLines = segs.foldLeft(stats.toMap)((m, s) => m ++ s.stats)
    val metaLines = segs.foldLeft(meta.toMap)((m, s) => m ++ s.meta)
    Parsed(s"# graft-manifest version=$version op=$op",
      metaLines, statsLines, files)(Some(segs))
  }

  /** The tiered serialization point [[commit]] publishes through.
    *
    * Non-checkpoint versions compose INCREMENTALLY: the new structural
    * state is built from the cached base state + the op's inputs with
    * O(delta) string work — carried stats lines are reused byte-for-byte
    * when their parsed FileStats are unchanged (struct equality against
    * the cached base stats map, no re-serialization), so the full
    * snapshot text is never built. A DELTA against version-1 is written
    * whenever (a) this isn't a checkpoint version, (b) the op kept the
    * carried files in base order with adds appended (every append /
    * merge / MOR / metadata op does; restore may not), and (c) the diff
    * is actually smaller than the snapshot (an overwrite isn't — it
    * checkpoints naturally).
    *
    * The round-10 byte-for-byte self-check is decomposed into two
    * gates that together cover the same bug classes at a fraction of
    * the cost: (1) EVERY delta commit re-parses its own delta text with
    * the READER's [[parseDelta]] and re-applies it with the READER's
    * [[applyDeltaParsed]] — the result must equal the intended state
    * exactly, so encode/decode asymmetries (the realistic diff-bug
    * class) degrade to a full write, never a wrong manifest; (2) every
    * CHECKPOINT version — where the full text is composed anyway —
    * verifies the writer's incrementally-maintained state of version-1
    * against a from-DISK structural replay of the published chain, so
    * writer-state drift can never survive past one checkpoint interval
    * undetected. Render equivalence (state → text) is exercised at
    * every checkpoint and full write via render∘parse identity.
    *
    * A compose returns the stored `body` and the version's `state`,
    * which carries whatever decoded maps the compose built
    * ([[Parsed.composedMeta]]/[[Parsed.composedStats]]); [[commit]]
    * makes that state resident as is. */
  private final case class ComposedManifest(body: String, state: Parsed)

  /** Commit-path instrumentation (spec-read): inline full-body renders
    * and per-file stats-line SERIALIZATIONS. The scale contract is that
    * N streaming appends to a many-file table grow these by O(N·delta),
    * never O(N·files) — the full per-file stats text is simply never
    * materialized on the append path, checkpoints included. */
  private[graft] object ComposeMeters {
    val fullBodies = new java.util.concurrent.atomic.AtomicLong()
    val statsLinesSerialized = new java.util.concurrent.atomic.AtomicLong()
    /** Segment member entries VISITED while composing a segmented full —
      * the dirtiness-ledger contract: a checkpoint after appends-only
      * commits visits O(tail) members (clean segments carry by name),
      * never O(files). */
    val memberVisits = new java.util.concurrent.atomic.AtomicLong()
    /** Segment FILES read from disk (cache misses) — the cold-routing
      * contract: [[tableMayMatch]] resolves from the pointer body +
      * delta chain alone, zero segment loads. */
    val segmentLoads = new java.util.concurrent.atomic.AtomicLong()
    /** [[manifestMeta]] calls — the maintainer watermark contract: one
      * maintenance window over an N-version mart does O(1) meta reads
      * (the tip carries every txn-* watermark — [[txnWatermark]]),
      * never an O(versions) history scan. */
    val metaReads = new java.util.concurrent.atomic.AtomicLong()
    /** Pointer-body decodes: [[coldOverlayAt]] chain walks over a
      * SEGMENTED base, whether routing or pruned planning asked (flat
      * bases are not counted) — the persisted prune-index contract:
      * after the first cold probe writes the `.pruneidx` sidecar, later
      * cold processes decode ZERO pointer bytes. */
    val coldPointerDecodes = new java.util.concurrent.atomic.AtomicLong()
    def snapshot: (Long, Long) = (fullBodies.get, statsLinesSerialized.get)
  }

  /** The delta-action text — factored so the writer's encode is the
    * byte-inverse of the reader's [[parseDelta]] by construction. */
  private def renderDelta(next: Long, op: String,
      metaPlus: Seq[(String, String)], metaMinus: Seq[String],
      statsPlus: Seq[(String, String)], statsMinus: Seq[String],
      removes: Seq[String], adds: Seq[String]): String = {
    val d = new StringBuilder(s"${DeltaHeader}version=$next op=$op base=${next - 1} crc=1\n")
    metaPlus.foreach { case (_, l) =>
      d.append(MetaPlusPrefix).append(l.stripPrefix(MetaPrefix)).append('\n') }
    metaMinus.foreach(k => d.append(MetaMinusPrefix).append(k).append('\n'))
    statsPlus.foreach { case (_, l) =>
      d.append(StatsPlusPrefix).append(l.stripPrefix(StatsPrefix)).append('\n') }
    statsMinus.foreach(p => d.append(StatsMinusPrefix).append(p).append('\n'))
    removes.foreach(p => d.append('-').append(p).append('\n'))
    adds.foreach(p => d.append('+').append(p).append('\n'))
    withIntegrityTrailer(d.toString)
  }

  /** The table rollup exactly as [[composeBody]] computes it (physical
    * schema types the columns — stats are keyed by on-disk names). */
  private def rollupOf(meta: Map[String, String], allFiles: Seq[String],
      stats: Map[String, ManifestStats.FileStats]): Option[ManifestStats.FileStats] =
    ManifestStats.rollup(allFiles, stats,
      meta.get(SchemaKey).map(j => physicalSchema(
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])))

  private def physicalSchemaOf(meta: Map[String, String]) =
    meta.get(SchemaKey).map(j => physicalSchema(
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]))

  /** Structural equivalent of [[composeBody]]: the full state of `next`
    * (with its decoded maps) with ZERO text rendering — the segmented
    * branch's input when no base state exists to diff against, offering
    * `segSource` (the prior version's segments) for reuse. */
  private def stateFor(next: Long, op: String, meta0: Map[String, String],
      allFiles: Seq[String], stats: Map[String, ManifestStats.FileStats],
      segSource: Option[Vector[Segment]]): Parsed = {
    val meta = normalizeMeta(meta0, allFiles)
    val metaLines = meta.map { case (k, v) => k -> s"$MetaPrefix$k=$v" }
    val statsLines = scala.collection.mutable.HashMap.empty[String, String]
    val statsMap = scala.collection.mutable.HashMap.empty[String, ManifestStats.FileStats]
    allFiles.foreach { p =>
      stats.get(p).foreach { fsNew =>
        statsMap += p -> fsNew
        statsLines += p -> (StatsPrefix + ManifestStats.serialize(p, fsNew))
        ComposeMeters.statsLinesSerialized.incrementAndGet()
      }
    }
    rollupOf(meta, allFiles, stats).foreach { r =>
      statsMap += ManifestStats.RollupKey -> r
      statsLines += ManifestStats.RollupKey ->
        (StatsPrefix + ManifestStats.serialize(ManifestStats.RollupKey, r))
    }
    Parsed(s"# graft-manifest version=$next op=$op", metaLines,
      statsLines.toMap, allFiles.toVector)(segSource, None, Some(meta), Some(statsMap.toMap))
  }

  /** Store a FULL-form version from its composed state: inline flat
    * text below the segment threshold (one dependency-free file), the
    * two-tier pointer form above it. Either way the returned state keeps
    * the composed maps. */
  private def composeStoredFull(spark: SparkSession, root: String, next: Long,
      op: String, state: Parsed): ComposedManifest =
    if (state.files.size < SegmentTargetSize) {
      val body = renderParsed(state)
      ComposedManifest(body, parseFull(body).relaid(
        composedMeta = state.composedMeta, composedStats = state.composedStats))
    } else composeSegmented(spark, root, next, op, state)

  /** The TWO-TIER full form (Iceberg's manifest-list shape in the
    * repo's text format): carry every untouched base segment (the
    * state's `segSource`) by POINTER, rewrite only segments that lost members or changed stats,
    * seal the unsegmented tail (everything appended since the last
    * segmented full) into fresh segments. Checkpoint string work is
    * O(delta + touched segments + #segments + table-level meta), never
    * O(files) — the per-commit map walks stay cheap struct compares,
    * and the every-Nth-version gigabyte string build this replaces
    * simply never happens. Per-FILE meta (`rowbase-*` row-id entries,
    * which scale with file count on row-tracked tables) lives inside
    * the segments beside its files; only table-level meta stays inline
    * in the pointer body. */
  private def composeSegmented(spark: SparkSession, root: String, next: Long,
      op: String, state: Parsed): ComposedManifest = {
    val segSource = state.segSource
    // ---- TRACKED branch: the dirtiness ledger says exactly which
    // segments a delta touched, so clean segments carry with ZERO
    // member visits and the walk is O(dirty members + tail + segments).
    // An O(segments) live-count invariant falls back to the full walk
    // on any ledger drift (and the checkpoint divergence gate would
    // catch what survives that).
    val tracked: Option[Vector[Segment]] =
      (segSource, state.segTracking) match {
        case (Some(srcSegs), Some(tr)) =>
          val out = Vector.newBuilder[Segment]
          var live = 0
          srcSegs.foreach { s =>
            if (!tr.dirty.contains(s.name)) { out += s; live += s.members.size }
            else {
              val survivors = s.members.filterNot(tr.removed)
              ComposeMeters.memberVisits.addAndGet(s.members.size.toLong)
              if (survivors.nonEmpty) {
                out += writeSegment(spark, root, survivors,
                  state.statsLines, state.metaLines)
                live += survivors.size
              }
            }
          }
          tr.tail.grouped(SegmentTargetSize).foreach { g =>
            ComposeMeters.memberVisits.addAndGet(g.size.toLong)
            out += writeSegment(spark, root, g, state.statsLines, state.metaLines)
          }
          live += tr.tail.size
          if (live == state.files.size) Some(out.result()) else None
        case _ => None
      }
    val segs = tracked.getOrElse {
      val fileSet = state.files.toSet
      val covered = new java.util.HashSet[String]()
      val out = Vector.newBuilder[Segment]
      segSource.getOrElse(Vector.empty).foreach { s =>
        ComposeMeters.memberVisits.addAndGet(s.members.size.toLong)
        val intact = s.members.forall(m =>
          fileSet.contains(m) && state.statsLines.get(m) == s.stats.get(m)) &&
          s.meta.forall { case (k, l) => state.metaLines.get(k).contains(l) }
        if (intact) { out += s; s.members.foreach(covered.add) }
        else {
          val survivors = s.members.filter(fileSet.contains)
          if (survivors.nonEmpty) {
            out += writeSegment(spark, root, survivors, state.statsLines, state.metaLines)
            survivors.foreach(covered.add)
          }
        }
      }
      val tail = state.files.filterNot(covered.contains)
      tail.grouped(SegmentTargetSize).foreach { g =>
        ComposeMeters.memberVisits.addAndGet(g.size.toLong)
        out += writeSegment(spark, root, g, state.statsLines, state.metaLines)
      }
      var built = out.result()
      // order guard: the flattened segments MUST reproduce the state's
      // file order exactly (a removed-then-re-added path — restore — would
      // otherwise surface at its OLD position); reseal from scratch when
      // they don't. O(files) reference-equality compare, untracked only —
      // the tracked branch's ledger places re-adds in the tail by
      // construction.
      if (built.iterator.flatMap(_.members).toVector != state.files)
        built = state.files.grouped(SegmentTargetSize)
          .map(g => writeSegment(spark, root, g, state.statsLines, state.metaLines))
          .toVector
      built
    }
    // inline meta = table-level entries only: per-file lines covered by
    // a segment live with their files (old segments without meta slices
    // leave theirs inline — graceful mixing of formats)
    val segMetaKeys = segs.iterator.flatMap(_.meta.keysIterator)
      .foldLeft(Set.empty[String])(_ + _)
    val body = new StringBuilder(
      s"# graft-manifest version=$next op=$op segs=1 crc=1\n")
    (state.metaLines -- segMetaKeys).toSeq.sortBy(_._1).foreach { case (_, l) =>
      body.append(l).append('\n') }
    state.statsLines.get(ManifestStats.RollupKey).foreach(l =>
      body.append(l).append('\n'))
    segs.foreach { s =>
      body.append(SegPrefix).append(s.name).append('|').append(s.members.size)
      // the per-segment rollup rides the POINTER line (URL-encoded — no
      // '|' survives encoding), so a planner reads every segment's
      // bounds from the pointer body alone in O(segments); old pointers
      // without the third field stay readable and simply keep-bias
      s.rollup.foreach(r => body.append('|').append(java.net.URLEncoder.encode(
        ManifestStats.serialize(SegRollupKey, r), StandardCharsets.UTF_8)))
      body.append('\n')
    }
    // re-initialize the dirtiness ledger for the next interval: when the
    // tracked walk ran, memberOf carries forward with O(removed + newly
    // sealed members) updates (entries of removed paths drop; entries
    // for rewritten/sealed segments overwrite; entries naming dead
    // segments are harmless — a dead name can never match a live
    // segment, and a re-added path lives in the tail until resealed).
    // After an untracked walk the map builds fresh at the O(files) cost
    // that walk already paid.
    val newTracking = Some {
      val mo0 = state.segTracking match {
        case Some(tr) if tracked.isDefined =>
          val oldNames = segSource.getOrElse(Vector.empty).iterator.map(_.name).toSet
          var mo = tr.memberOf
          tr.removed.foreach { p =>
            mo -= p
            mo -= (RowBasePrefix + dvFileKey(p))
          }
          segs.foreach { s =>
            if (!oldNames.contains(s.name)) {
              s.members.foreach(m => mo += m -> s.name)
              s.meta.keysIterator.foreach(k => mo += k -> s.name)
            }
          }
          mo
        case _ =>
          val b = Map.newBuilder[String, String]
          segs.foreach { s =>
            s.members.foreach(m => b += m -> s.name)
            s.meta.keysIterator.foreach(k => b += k -> s.name)
          }
          b.result()
      }
      SegTracking(mo0, Vector.empty, Set.empty, Set.empty)
    }
    ComposedManifest(withIntegrityTrailer(body.toString),
      state.relaid(Some(segs), newTracking))
  }

  private def composeTiered(spark: SparkSession, root: String, next: Long,
      op: String, meta0: Map[String, String], baseFiles: Seq[String],
      newFiles: Seq[String], stats: Map[String, ManifestStats.FileStats],
      appendShaped: Boolean): ComposedManifest = {

    def composeFull(): ComposedManifest = {
      val allFiles = baseFiles ++ newFiles
      if (allFiles.size < SegmentTargetSize) {
        val f = composeBody(next, op, meta0, allFiles, stats)
        ComposedManifest(f, parseFull(f))
      } else {
        val segSrc = Option(stateCache.get(root, next - 1)).flatMap(_.segSource)
        composeSegmented(spark, root, next, op,
          stateFor(next, op, meta0, allFiles, stats, segSrc))
      }
    }

    if (next <= 1) return composeFull()
    val isCkpt = next % CheckpointInterval == 0
    if (isCkpt) {
      // divergence gate at the natural O(files) point: the state this
      // writer maintained incrementally for version-1 must equal what
      // the PUBLISHED chain replays to from disk — a wrong delta can
      // never survive past one checkpoint interval undetected
      val cachedBase = Option(stateCache.get(root, next - 1))
      cachedBase.foreach { cb =>
        val disk =
          try Some(resolveParsedFromDisk(spark, root, next - 1))
          catch {
            // a chain failing its integrity trailer is DETECTED
            // corruption, not "unreadable" — checkpointing over it would
            // launder the writer's cache into truth with no disk witness
            case c: CorruptManifest => throw new IllegalStateException(
              s"tiered-log divergence at $root v${next - 1}: the published " +
                s"delta chain fails integrity — refusing to checkpoint (${c.getMessage})")
            case _: Exception => None // genuinely unreadable → nothing to verify
          }
        disk.foreach(d => if (d != cb) throw new IllegalStateException(
          s"tiered-log divergence at $root v${next - 1}: the writer's incremental " +
            "state does not match the published delta chain — refusing to commit"))
      }
    }
    val base =
      try parsedAt(spark, root, next - 1)
      catch { case _: Exception => return composeFull() }

    // ---- FAST path: append-shaped commits (the streaming hot path) ----
    // The op declared "carried files are the base verbatim, new files
    // append, carried stats untouched" — verified by reference identity
    // against the base state — so the new state derives with O(delta)
    // work total: no file-set diff, no stats walk, no rollup fold, no
    // full-meta re-validation. The reader-roundtrip gate compares the
    // decoded delta ACTIONS (O(delta)); writer-state drift beyond that
    // is what the checkpoint divergence gate exists to catch.
    if (appendShaped && (baseFiles eq base.files)) {
      val adds = newFiles.toVector
      val baseMeta = base.metaMap
      val newMetaMap = normalizeMetaAppend(meta0, adds, baseMeta)
      val metaPlus = newMetaMap.iterator
        .filter { case (k, v) => !baseMeta.get(k).contains(v) }
        .map { case (k, v) => k -> s"$MetaPrefix$k=$v" }
        .toSeq.sortBy(_._1)
      val metaMinus = (baseMeta.keySet -- newMetaMap.keySet).toSeq.sorted
      val statsPlusAdds = adds.flatMap(p => stats.get(p).map { fsNew =>
        ComposeMeters.statsLinesSerialized.incrementAndGet()
        p -> (StatsPrefix + ManifestStats.serialize(p, fsNew))
      })
      val baseStats = base.statsMap
      val newRollup: Option[ManifestStats.FileStats] =
        if (base.files.isEmpty) rollupOf(newMetaMap, adds, stats)
        else baseStats.get(ManifestStats.RollupKey) match {
          case Some(br) => ManifestStats.mergeRollup(
            br, adds, stats, physicalSchemaOf(newMetaMap))
          // an absent rollup stays absent under appends when it was
          // absent because some carried file lacks stats (still does) or
          // no tracked column survived the intersection (appending files
          // can only shrink it). The ONE curable absence is rollup()'s
          // all-empty keep-bias — every base file has stats but zero
          // rows — where a non-empty add makes the full recompute
          // produce bounds; recompute there so the fast path stays
          // provably equal to recomputing. Guards keep the O(files)
          // walk off the steady state: an add set that is itself all
          // zero-row (or stat-less) can never cure the all-empty
          // absence — the recompute would fold the same nothing — so
          // empty appends skip both the scan and the recompute in O(Δ);
          // and a base where some file LACKS stats shows up as a size
          // mismatch in O(1) before any walk. The remaining scan fires
          // only on a non-empty append while the rollup is absent, and
          // the curable case repairs permanently right there.
          case None =>
            val addsCanCure = adds.exists(p => stats.get(p).exists(_.rowCount > 0))
            val statsCoverBase = baseStats.size >= base.files.size
            val curable = addsCanCure && statsCoverBase &&
              base.files.forall(p => baseStats.get(p).exists(_.rowCount == 0))
            if (curable)
              rollupOf(newMetaMap, base.files ++ adds,
                (baseStats - ManifestStats.RollupKey) ++
                  adds.flatMap(p => stats.get(p).map(p -> _)))
            else None
        }
      val oldRollupLine = base.statsLines.get(ManifestStats.RollupKey)
      val newRollupLine = newRollup.map(r =>
        StatsPrefix + ManifestStats.serialize(ManifestStats.RollupKey, r))
      val statsPlus = statsPlusAdds ++ (newRollupLine match {
        case Some(l) if !oldRollupLine.contains(l) => Seq(ManifestStats.RollupKey -> l)
        case _ => Nil
      })
      val statsMinus: Seq[String] =
        if (newRollupLine.isEmpty && oldRollupLine.isDefined) Seq(ManifestStats.RollupKey)
        else Nil
      val parts = DeltaParts(next, op, metaPlus, metaMinus,
        statsPlus, statsMinus, adds, Set.empty)
      val newStatsMap = {
        val withAdds = adds.foldLeft(baseStats - ManifestStats.RollupKey)(
          (m, p) => stats.get(p).fold(m)(fsN => m + (p -> fsN)))
        newRollup.fold(withAdds)(r => withAdds + (ManifestStats.RollupKey -> r))
      }
      val newState = applyDeltaParsed(base, parts)
        .relaid(composedMeta = Some(newMetaMap), composedStats = Some(newStatsMap))
      if (isCkpt) return composeStoredFull(spark, root, next, op, newState)
      val delta = renderDelta(next, op, metaPlus, metaMinus,
        statsPlus, statsMinus, Nil, adds)
      // gate (1): the reader's decode of this delta must reproduce the
      // intended ACTIONS exactly — encode/decode asymmetries degrade to
      // a full write, never a wrong manifest
      if (parseDelta(delta) != parts) return composeFull()
      return ComposedManifest(delta, newState)
    }

    // ---- structural path: everything else (rewrites, metadata ops) ----
    // O(files) cheap struct compares against the cached base, O(delta)
    // serialization — these ops rewrite or re-derive table-wide state
    // anyway, so the walk is proportional to what they touched.
    val allFiles = baseFiles ++ newFiles
    val newMetaMap = normalizeMeta(meta0, allFiles)
    val metaLines = newMetaMap.map { case (k, v) => k -> s"$MetaPrefix$k=$v" }
    val baseSet = base.files.toSet
    val curSet = allFiles.toSet
    val adds = allFiles.filterNot(baseSet)
    val removes = base.files.filterNot(curSet)
    val deltaShaped = allFiles == base.files.filter(curSet) ++ adds
    if (!deltaShaped && !isCkpt) return composeFull()
    // stats lines of the NEW state: carried entries with unchanged
    // parsed stats reuse the base line; changed/new entries serialize
    // fresh — O(delta) serialization, O(files) cheap struct compares
    val baseStats = base.statsMap
    val statsLines = mutable.LinkedHashMap.empty[String, String]
    val newStatsMap = mutable.HashMap.empty[String, ManifestStats.FileStats]
    allFiles.foreach { p =>
      stats.get(p).foreach { fsNew =>
        newStatsMap += p -> fsNew
        statsLines += p -> (
          if (baseStats.get(p).contains(fsNew) && base.statsLines.contains(p))
            base.statsLines(p)
          else {
            ComposeMeters.statsLinesSerialized.incrementAndGet()
            StatsPrefix + ManifestStats.serialize(p, fsNew)
          })
      }
    }
    // the table rollup, recomputed exactly as composeBody recomputes it
    rollupOf(newMetaMap, allFiles, stats)
      .foreach { r =>
        newStatsMap += ManifestStats.RollupKey -> r
        statsLines += ManifestStats.RollupKey ->
          (StatsPrefix + ManifestStats.serialize(ManifestStats.RollupKey, r))
      }
    val metaPlus = metaLines.filter { case (k, l) => !base.metaLines.get(k).contains(l) }
    val metaMinus = base.metaLines.keySet -- metaLines.keySet
    val statsPlus = statsLines.filter { case (k, l) => !base.statsLines.get(k).contains(l) }
    val statsMinus = (base.statsLines.keySet -- statsLines.keySet) -- removes
    // delta-shaped structural commits keep the dirtiness ledger alive
    // (the diff pieces are exactly a delta's actions); non-delta-shaped
    // ops (restore) drop it — their checkpoint reseals anyway
    val newTracking =
      if (deltaShaped) updateTracking(base.segTracking, removes, adds,
        statsPlus.keysIterator.toSeq, statsMinus.toSeq,
        metaPlus.keysIterator.toSeq, metaMinus.toSeq)
      else None
    val newState = Parsed(s"# graft-manifest version=$next op=$op",
      metaLines, statsLines.toMap, allFiles.toVector)(
      base.segSource, newTracking, Some(newMetaMap), Some(newStatsMap.toMap))
    if (isCkpt || !deltaShaped)
      return composeStoredFull(spark, root, next, op, newState)
    val deltaLines = adds.size + removes.size + metaPlus.size + metaMinus.size +
      statsPlus.size + statsMinus.size
    if (deltaLines >= allFiles.size + statsLines.size + metaLines.size)
      return composeStoredFull(spark, root, next, op, newState)
    val delta = renderDelta(next, op,
      metaPlus.toSeq.sortBy(_._1), metaMinus.toSeq.sorted,
      statsPlus.toSeq, statsMinus.toSeq.sorted, removes, adds)
    // gate (1): the reader's decode of this delta, applied with the
    // reader's merge, must reproduce the intended state EXACTLY
    val replay = applyDeltaParsed(base, parseDelta(delta))
    if (replay != newState)
      return composeStoredFull(spark, root, next, op, newState)
    ComposedManifest(delta, newState)
  }

  /** The file list a given version names (root-relative paths). */
  def manifestFiles(spark: SparkSession, root: String, version: Long): Seq[String] =
    parsedAt(spark, root, version).files

  /** Caller metadata committed WITH a version (`# meta:key=value` header
    * lines) — rides the same atomic publish as the file list, so e.g. a
    * pipeline's input-state fingerprint can never be newer or older than
    * the data it describes. */
  def manifestMeta(spark: SparkSession, root: String, version: Long): Map[String, String] = {
    ComposeMeters.metaReads.incrementAndGet()
    parsedAt(spark, root, version).metaMap
  }

  /** The op recorded in a version's manifest header (commit or delta). */
  private def opAt(spark: SparkSession, root: String, version: Long): String =
    parsedAt(spark, root, version).header.split("op=").lift(1).getOrElse("unknown")

  private val MetaPrefix = "# meta:"
  private val StatsPrefix = "# stats:"
  private val TransformsKey = "transforms"

  /** CHECK-constraint meta keys (`check-<name>=<sql expr>`): Delta's
    * `ALTER TABLE ADD CONSTRAINT ... CHECK` as table metadata. SQL CHECK
    * semantics — a row violates only when the expression is FALSE; NULL
    * passes. Carried through every content commit like [[TransformsKey]]
    * (and restored/cloned with the version they were part of). */
  private val CheckPrefix = "check-"

  /** Per-writer idempotence watermarks (`txn-<writerId>=<batchId>`).
    * Carried forward max-wins through EVERY commit (Delta keeps
    * SetTransaction actions alive through checkpoints for the same
    * reason): the tip manifest always holds every writer's high-water
    * mark, so [[vacuum]] retiring old manifests — or a [[restore]]
    * re-publishing an old version's meta — can never forget a batch
    * that already landed and let a re-delivery land it twice. */
  private val TxnPrefix = "txn-"

  /** The CHECK constraints committed with `version`: name → SQL
    * expression text. */
  def checkConstraintsOf(spark: SparkSession, root: String, version: Long): Map[String, String] =
    manifestMeta(spark, root, version).collect {
      case (k, v) if k.startsWith(CheckPrefix) => k.stripPrefix(CheckPrefix) -> v
    }

  /** ROW TRACKING (Delta's row-tracking feature / Iceberg v3 row
    * lineage): every row carries a table-unique, immutable id so
    * id-preserving rewrites (OPTIMIZE) become provably empty deltas for
    * change consumers. Layout: ids partition by FILE — each data file
    * owns the id block `[seq·2^36, seq·2^36 + rows)` where `seq` is a
    * monotonically allocated per-file integer (meta [[RowIdHighKey]]),
    * and a fresh file's row id is simply `base + _metadata.row_index`
    * (zero storage cost). A REWRITE that must preserve ids across the
    * position shuffle materializes them as a physical [[RowIdCol]]
    * parquet column (Delta does exactly this) and marks its files
    * `rowbase-<file>=stored`. Seqs are never reused, so ids never
    * collide; ops that change row content (merge/COW delete/overwrite)
    * retire the old ids and their rewritten files get fresh blocks. */
  private[sources] val RowTrackingKey = "rowtracking"
  private[sources] val RowIdHighKey = "rowid-high"
  private[sources] val RowBasePrefix = "rowbase-"
  private[sources] val RowBaseStored = "stored"
  private[sources] val RowIdCol = "graft__row_id"
  private[sources] val RowIdShift = 1L << 36

  private def rowTrackingMeta(k: String): Boolean =
    k == RowTrackingKey || k == RowIdHighKey || k.startsWith(RowBasePrefix)

  /** Is row tracking enabled at `version`? */
  def rowTrackingEnabled(spark: SparkSession, root: String, version: Long): Boolean =
    manifestMeta(spark, root, version).get(RowTrackingKey).contains("on")

  /** Meta keys that ride every content commit (transform spec + CHECK
    * constraints + row-tracking state); txn-* watermarks are handled by
    * [[commit]] itself. */
  private def carriedMetaKey(k: String): Boolean =
    k == TransformsKey || k == DvKey || k.startsWith(CheckPrefix) ||
      k.startsWith(GenPrefix) || rowTrackingMeta(k)

  /** Column names a constraint expression references (unresolved —
    * parsed, not analyzed; flat names only, which is all a CHECK over a
    * flat parquet schema can use). */
  private def referencedCols(exprText: String): Seq[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(exprText).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
    }.distinct

  /** Throw unless every CHECK constraint of `version` holds on `df`
    * (one combined aggregate pass, however many constraints exist —
    * the write-path cost Delta fuses into its writer, paid here as one
    * extra job per write on constraint-bearing tables). */
  private def enforceChecks(spark: SparkSession, root: String,
      version: Option[Long], df: DataFrame, op: String): Unit =
    version.foreach { v =>
      val cs = checkConstraintsOf(spark, root, v).toSeq.sortBy(_._1)
      if (cs.nonEmpty) {
        import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
        val aggs = cs.map { case (n, t) =>
          sum(when(not(coalesce(expr(t), lit(true))), 1L).otherwise(0L)).as(n)
        }
        val row = df.agg(aggs.head, aggs.drop(1): _*).head()
        cs.zipWithIndex.foreach { case ((n, t), i) =>
          val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
          require(bad == 0L, s"$op violates CHECK constraint '$n' ($t): $bad rows")
        }
      }
    }

  /** `ALTER TABLE ADD CONSTRAINT name CHECK (expr)` (Delta's CHECK
    * constraints): validates the expression against the CURRENT content
    * first — exactly like Delta, adding a constraint existing rows
    * violate is refused with the violation count — then publishes it as
    * ONE metadata commit. From then on every [[append]] / [[merge]] /
    * [[overwrite]] batch pays one aggregate pass and refuses to land
    * rows where the expression is FALSE (NULL passes — SQL CHECK
    * semantics). The constraint rides every commit like the transform
    * spec, is restored/cloned with its version, and blocks
    * [[renameColumn]]/[[dropColumn]] of the columns it references. */
  def addCheckConstraint(spark: SparkSession, root: String,
      name: String, exprText: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    require(!exprText.exists(c => c == '\n' || c == '\r'),
      "constraint expression must be single-line")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    require(!checkConstraintsOf(spark, root, v0).contains(name),
      s"constraint '$name' already exists")
    val schema = schemaOf(spark, root, v0)
    val visible = schema.map(visibleSchema(_).fieldNames.toSet)
    val refs = referencedCols(exprText)
    require(refs.nonEmpty, s"constraint '$name' references no columns: $exprText")
    visible.foreach(cols => refs.foreach(c => require(cols.contains(c),
      s"constraint '$name' references unknown column '$c' (have ${cols.mkString(", ")})")))
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    val badRow = read(spark, root, Some(v0))
      .agg(sum(when(not(coalesce(expr(exprText), lit(true))), 1L).otherwise(0L)).as("bad"))
      .head()
    val bad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(bad == 0L,
      s"cannot add CHECK constraint '$name' ($exprText): $bad existing rows violate it")
    commit(spark, root, "add_constraint", v0, Seq.empty, manifestFiles(spark, root, v0),
      manifestMeta(spark, root, v0) + (s"$CheckPrefix$name" -> exprText),
      fileStats(spark, root, v0))
  }

  /** `ALTER TABLE DROP CONSTRAINT name` — one metadata commit. */
  def dropCheckConstraint(spark: SparkSession, root: String, name: String): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    require(checkConstraintsOf(spark, root, vs.max).contains(name),
      s"no CHECK constraint '$name' (have ${checkConstraintsOf(spark, root, vs.max).keys.mkString(", ")})")
    commit(spark, root, "drop_constraint", Seq.empty,
      tip => manifestFiles(spark, root, tip),
      tip => manifestMeta(spark, root, tip) - (s"$CheckPrefix$name"),
      tip => fileStats(spark, root, tip))
  }

  /** Meta-key prefix for GENERATED columns (Delta's
    * `GENERATED ALWAYS AS (expr)`): `gen-<column>` → expression text.
    * The contract on every write ([[append]]/[[merge]]/[[overwrite]]):
    * a batch that OMITS the column gets it computed from the expression
    * (one projection — free at any scale); a batch that PROVIDES it is
    * validated in one aggregate pass (null-safe equality) and refused
    * on any divergence — the column can never silently drift from its
    * definition. Definitions ride commits like CHECK constraints and
    * block rename/drop of the columns they touch. */
  private val GenPrefix = "gen-"

  /** The generated-column definitions committed with `version`. */
  def generatedColumnsOf(spark: SparkSession, root: String, version: Long): Map[String, String] =
    manifestMeta(spark, root, version).collect {
      case (k, v) if k.startsWith(GenPrefix) => k.stripPrefix(GenPrefix) -> v
    }

  /** Compute omitted generated columns and validate provided ones
    * against `version`'s definitions; throws on divergence. The compute
    * leg is a pure projection; the validate leg is ONE combined
    * aggregate pass however many definitions exist (same write-path
    * cost shape as [[enforceChecks]]). */
  private def enforceGenerated(spark: SparkSession, root: String,
      version: Option[Long], df: DataFrame, op: String): DataFrame =
    version.fold(df) { v =>
      val gens = generatedColumnsOf(spark, root, v).toSeq.sortBy(_._1)
      if (gens.isEmpty) df
      else {
        import org.apache.spark.sql.functions.{expr, not, sum, when}
        val (present, missing) = gens.partition { case (n, _) => df.columns.contains(n) }
        if (present.nonEmpty) {
          val aggs = present.map { case (n, t) =>
            sum(when(not(col(n) <=> expr(t)), 1L).otherwise(0L)).as(n)
          }
          val row = df.agg(aggs.head, aggs.drop(1): _*).head()
          present.zipWithIndex.foreach { case ((n, t), i) =>
            val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
            require(bad == 0L,
              s"$op violates GENERATED column '$n' ($t): $bad rows differ from the expression")
          }
        }
        missing.foldLeft(df) { case (d, (n, t)) => d.withColumn(n, expr(t)) }
      }
    }

  /** `ALTER TABLE ... ADD GENERATED` on an EXISTING column: validates
    * the whole current content against the expression first (one
    * aggregate pass — adding a definition existing rows violate is
    * refused with the count, the CHECK-constraint rule), then commits
    * the definition as one metadata line. From then on every write
    * computes-or-validates the column (see [[GenPrefix]]). The column
    * must already exist: a brand-new generated column on old files
    * would read NULL there and violate its own definition — add it via
    * a definition-bearing [[overwrite]] or widening [[append]] first.
    */
  def addGeneratedColumn(spark: SparkSession, root: String,
      name: String, exprText: String): Long = {
    require(!exprText.exists(c => c == '\n' || c == '\r'),
      "generation expression must be single-line")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    require(!generatedColumnsOf(spark, root, v0).contains(name),
      s"column '$name' already has a generation expression")
    val visible = schemaOf(spark, root, v0).map(visibleSchema(_).fieldNames.toSet)
    visible.foreach(cols => require(cols.contains(name),
      s"no column '$name' in (${cols.mkString(", ")}) — generated columns define existing columns"))
    val refs = referencedCols(exprText)
    require(!refs.contains(name), s"generated column '$name' may not reference itself")
    visible.foreach(cols => refs.foreach(c => require(cols.contains(c),
      s"generation expression references unknown column '$c' (have ${cols.mkString(", ")})")))
    import org.apache.spark.sql.functions.{expr, not, sum, when}
    val badRow = read(spark, root, Some(v0))
      .agg(sum(when(not(col(name) <=> expr(exprText)), 1L).otherwise(0L)).as("bad"))
      .head()
    val bad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(bad == 0L,
      s"cannot mark '$name' generated as ($exprText): $bad existing rows differ")
    commit(spark, root, "add_generated", v0, Seq.empty, manifestFiles(spark, root, v0),
      manifestMeta(spark, root, v0) + (s"$GenPrefix$name" -> exprText),
      fileStats(spark, root, v0))
  }

  /** Drop a generated-column DEFINITION (the column and its data stay;
    * writes stop computing/validating it) — one metadata commit. */
  def dropGeneratedColumn(spark: SparkSession, root: String, name: String): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    require(generatedColumnsOf(spark, root, vs.max).contains(name),
      s"no generated column '$name' (have ${generatedColumnsOf(spark, root, vs.max).keys.mkString(", ")})")
    commit(spark, root, "drop_generated", Seq.empty,
      tip => manifestFiles(spark, root, tip),
      tip => manifestMeta(spark, root, tip) - (s"$GenPrefix$name"),
      tip => fileStats(spark, root, tip))
  }

  /** Partition transforms committed with `version` (empty when the table
    * isn't transform-clustered). Unknown transform kinds written by a
    * future version parse to nothing — keep-biased. */
  def transformsOf(spark: SparkSession, root: String, version: Long): Seq[PartitionTransform] =
    manifestMeta(spark, root, version).get(TransformsKey).toSeq
      .flatMap(_.split(';'))
      .flatMap(PartitionTransform.parse)

  /** Per-file column stats committed with `version` (empty for files the
    * writer didn't track — absence always means "keep", never "skip").
    * The table-level rollup pseudo-entry is excluded — read it through
    * [[tableRollup]]. See [[ManifestStats]] for the data-skipping
    * design. */
  def fileStats(spark: SparkSession, root: String, version: Long): Map[String, ManifestStats.FileStats] =
    rawStats(spark, root, version) - ManifestStats.RollupKey

  /** Total on-disk bytes of `version`'s live data files — driver-side
    * O(files) status calls, for maintenance sizing decisions (e.g. the
    * recluster width in [[graft.ops.LakeOps]]). */
  def liveBytes(spark: SparkSession, root: String, version: Long): Long = {
    val f = fs(spark, root)
    manifestFiles(spark, root, version).iterator
      .map(p => f.getFileStatus(new Path(dataPath(root, p))).getLen).sum
  }

  /** The TABLE-LEVEL stats rollup committed with `version` (see
    * [[ManifestStats.rollup]]) — absent when any file lacks stats. */
  def tableRollup(spark: SparkSession, root: String, version: Long): Option[ManifestStats.FileStats] =
    rawStats(spark, root, version).get(ManifestStats.RollupKey)

  /** A version's decoded stats, the rollup included — held by its
    * resident state ([[Parsed.statsMap]]), which the commit path builds
    * with the map already decoded, so its own versions never re-decode
    * O(files). */
  private def rawStats(spark: SparkSession, root: String, version: Long): Map[String, ManifestStats.FileStats] =
    parsedAt(spark, root, version).statsMap

  /** Read the table at `version` (default: latest) scanning ONLY the
    * files whose committed stats admit rows matching `filter` — file
    * skipping off the manifest, no footer reads, no listing job. The
    * full filter is re-applied to the survivors, so the result is
    * EXACTLY `read(...).filter(filter)` regardless of how much pruning
    * the stats achieved. */
  def readPruned(spark: SparkSession, root: String, filter: org.apache.spark.sql.Column,
      version: Option[Long] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = version.getOrElse(vs.max)
    require(vs.contains(v0), s"version $v0 not in log (have ${vs.mkString(",")})")
    prunedColdPlan(spark, root, v0, filter) match {
      case Some((kept, schema, dvRel)) =>
        readFiles(spark, root, schema, kept, dvRel).filter(filter)
      case None =>
        val (kept, _, v) = pruneFiles(spark, root, filter, Some(v0))
        val schema = schemaOf(spark, root, v)
        val df =
          if (kept.isEmpty) read(spark, root, Some(v)).limit(0) // schema-correct empty
          else readFiles(spark, root, schema, kept, deletionVector(spark, root, v))
        df.filter(filter)
    }
  }

  /** THE cold decode of one version — everything routing
    * ([[tableMayMatch]]) and pruned planning ([[prunedColdPlan]],
    * [[pruneCounts]]) derive from the STORED bytes alone (full form +
    * delta chain), independent of any particular filter: meta, table
    * rollup, segment refs with their pointer rollups, the unsegmented
    * tail with its stats overlay, and removed paths. Defined for every
    * stored base; meta and rollup are always exact. `trusted` says
    * whether the per-segment half can plan a pruned read: false for a
    * flat base (small table, no segment refs — heavy path) and once a
    * delta replaced or retracted an EXISTING member's stats
    * (rewrite-shaped, rare). LRU-cached per (root, version), so the
    * repeated cold probes of a maintainer's [[readPrunedByKeys]] loop —
    * or [[readCatalog]]'s route-then-read — decode the chain ONCE per
    * version instead of once per probe. */
  private final case class ColdOverlay(
      meta: Map[String, String],
      tableRu: Option[ManifestStats.FileStats],
      refs: Vector[(String, Int, Option[ManifestStats.FileStats])],
      tail: Vector[String],
      removed: Set[String],
      statsOverlay: Map[String, ManifestStats.FileStats],
      statsRetracted: Set[String],
      trusted: Boolean)

  private val coldOverlayCache = new PerRootLru[ColdOverlay](8, 64)

  /** Render a [[ColdOverlay]] as sidecar text (CRC-trailed; see
    * [[pruneIdxPath]]). Line shapes reuse the manifest vocabulary:
    * `# meta:`/`# seg:` exactly as the pointer body writes them; tail
    * entries carry a flag (s=stats, r=retracted, n=none). */
  private def renderOverlay(v: Long, ov: ColdOverlay): String = {
    val b = new StringBuilder(
      s"# graft-pruneidx version=$v trusted=${if (ov.trusted) 1 else 0} crc=1\n")
    ov.meta.toSeq.sortBy(_._1).foreach { case (k, value) =>
      b.append(MetaPrefix).append(k).append('=').append(value).append('\n') }
    ov.tableRu.foreach(r => b.append("# ru:")
      .append(ManifestStats.serialize(ManifestStats.RollupKey, r)).append('\n'))
    ov.refs.foreach { case (name, count, ru) =>
      b.append(SegPrefix).append(name).append('|').append(count)
      ru.foreach(r => b.append('|').append(java.net.URLEncoder.encode(
        ManifestStats.serialize(SegRollupKey, r), StandardCharsets.UTF_8)))
      b.append('\n')
    }
    ov.tail.foreach { p =>
      if (ov.statsRetracted.contains(p))
        b.append("# tail:r|").append(java.net.URLEncoder.encode(p, StandardCharsets.UTF_8))
      else ov.statsOverlay.get(p) match {
        case Some(st) => b.append("# tail:s|").append(ManifestStats.serialize(p, st))
        case None => b.append("# tail:n|")
          .append(java.net.URLEncoder.encode(p, StandardCharsets.UTF_8))
      }
      b.append('\n')
    }
    ov.removed.toSeq.sorted.foreach(p => b.append("# removed:")
      .append(java.net.URLEncoder.encode(p, StandardCharsets.UTF_8)).append('\n'))
    withIntegrityTrailer(b.toString)
  }

  /** Parse sidecar text back into the overlay; any malformation throws
    * (the caller falls back to the chain walk). */
  private def parseOverlay(text: String): ColdOverlay = {
    require(text.startsWith("# graft-pruneidx "), "not a prune-index sidecar")
    val payload = verifyIntegrity(text)
    var trusted = true
    payload.linesIterator.next().stripPrefix("# graft-pruneidx ").split(' ').foreach {
      case s if s.startsWith("trusted=") => trusted = s.stripPrefix("trusted=") == "1"
      case _ =>
    }
    var meta = Map.empty[String, String]
    var ru: Option[ManifestStats.FileStats] = None
    val refs = Vector.newBuilder[(String, Int, Option[ManifestStats.FileStats])]
    val tail = Vector.newBuilder[String]
    val statsOverlay = Map.newBuilder[String, ManifestStats.FileStats]
    val retracted = Set.newBuilder[String]
    val removed = Set.newBuilder[String]
    payload.linesIterator.drop(1).foreach {
      case l if l.startsWith(MetaPrefix) =>
        val kv = l.stripPrefix(MetaPrefix).split("=", 2)
        if (kv.length == 2) meta += kv(0) -> kv(1)
      case l if l.startsWith("# ru:") =>
        ru = Some(ManifestStats.deserialize(l.stripPrefix("# ru:"))._2)
      case l if l.startsWith(SegPrefix) =>
        val parts = l.stripPrefix(SegPrefix).split('|')
        refs += ((parts(0), parts(1).toInt, parts.lift(2).map(t =>
          ManifestStats.deserialize(
            java.net.URLDecoder.decode(t, StandardCharsets.UTF_8))._2)))
      case l if l.startsWith("# tail:") =>
        val body = l.stripPrefix("# tail:")
        val flag = body.charAt(0)
        val rest = body.substring(2)
        flag match {
          case 's' =>
            val (p, st) = ManifestStats.deserialize(rest)
            tail += p; statsOverlay += p -> st; ()
          case 'r' =>
            val p = java.net.URLDecoder.decode(rest, StandardCharsets.UTF_8)
            tail += p; retracted += p; ()
          case _ =>
            tail += java.net.URLDecoder.decode(rest, StandardCharsets.UTF_8); ()
        }
      case l if l.startsWith("# removed:") =>
        removed += java.net.URLDecoder.decode(
          l.stripPrefix("# removed:"), StandardCharsets.UTF_8); ()
      case _ =>
    }
    ColdOverlay(meta, ru, refs.result(), tail.result(), removed.result(),
      statsOverlay.result(), retracted.result(), trusted)
  }

  /** [[ColdOverlay]] of `v`: a trusted `.pruneidx` sidecar when one
    * exists, else the chain walk. A sidecar marked `trusted=0` is never
    * read back: its meta and rollup may be folded only part-way down
    * the chain, and routing must not answer from them. */
  private def coldOverlayAt(spark: SparkSession, root: String,
      v: Long): ColdOverlay = coldOverlayCache.getOrCompute(root, v) {
    val f0 = fs(spark, root)
    val sidecar = pruneIdxPath(root, v)
    val fromSidecar: Option[ColdOverlay] =
      if (!f0.exists(sidecar)) None
      else try {
        val in = f0.open(sidecar)
        val text = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
        finally in.close()
        Some(parseOverlay(text)).filter(_.trusted)
      } catch { case scala.util.control.NonFatal(_) => None } // damaged: chain walk
    fromSidecar.getOrElse(retryingCorrupt {
      val (full, chain) = storedChainAt(spark, root, v)
      val segmented = isSegmented(full)
      if (segmented) ComposeMeters.coldPointerDecodes.incrementAndGet()
      // base header parse: meta, table rollup, segment refs — the
      // inline header every stored full form carries, flat or pointer
      val payload = verifyIntegrity(full)
      var meta = Map.empty[String, String]
      var tableRu: Option[ManifestStats.FileStats] = None
      val refs = Vector.newBuilder[(String, Int, Option[ManifestStats.FileStats])]
      payload.linesIterator.foreach {
        case l if l.startsWith(MetaPrefix) =>
          val kv = l.stripPrefix(MetaPrefix).split("=", 2)
          if (kv.length == 2) meta += kv(0) -> kv(1)
        case l if l.startsWith(StatsPrefix) =>
          val p = l.stripPrefix(StatsPrefix)
          if (java.net.URLDecoder.decode(
              p.split('|')(0), StandardCharsets.UTF_8) == ManifestStats.RollupKey)
            tableRu = Some(ManifestStats.deserialize(p)._2)
        case l if l.startsWith(SegPrefix) =>
          val parts = l.stripPrefix(SegPrefix).split('|')
          refs += ((parts(0), parts(1).toInt, parts.lift(2).map(t =>
            ManifestStats.deserialize(
              java.net.URLDecoder.decode(t, StandardCharsets.UTF_8))._2)))
        case _ =>
      }
      // delta overlay — mirrors applyDeltaParsed's merge (minus before
      // plus). Meta and the table rollup fold to the END of the chain;
      // the tail-stats tracking only pruning needs (tail files with
      // their stats, removed paths) stops once the overlay is distrusted
      // (a flat base never starts it: its files are not in the overlay)
      var tail = Vector.empty[String]
      val tailSet = mutable.Set.empty[String]
      val removed = mutable.Set.empty[String]
      val statsOverlay = mutable.Map.empty[String, ManifestStats.FileStats]
      val statsRetracted = mutable.Set.empty[String]
      var trusted = segmented
      chain.reverseIterator.foreach { d =>
        val parts = parseDelta(d)
        meta = (meta -- parts.metaMinus) ++ parts.metaPlus.iterator.map {
          case (k, line) => k -> line.stripPrefix(MetaPrefix).split("=", 2)(1)
        }
        if (trusted) {
          if (parts.removes.nonEmpty) {
            removed ++= parts.removes
            tail = tail.filterNot(parts.removes)
            parts.removes.foreach { p =>
              tailSet -= p; statsOverlay -= p; statsRetracted -= p; ()
            }
          }
          tail = tail ++ parts.adds
          tailSet ++= parts.adds
        }
        parts.statsMinus.foreach { k =>
          if (k == ManifestStats.RollupKey) tableRu = None
          else if (!trusted) ()
          else if (tailSet.contains(k)) { statsOverlay -= k; statsRetracted += k; () }
          else trusted = false // an existing member lost stats
        }
        parts.statsPlus.foreach { case (k, line) =>
          if (k == ManifestStats.RollupKey)
            tableRu = Some(ManifestStats.deserialize(line.stripPrefix(StatsPrefix))._2)
          else if (!trusted) ()
          else if (tailSet.contains(k)) {
            statsOverlay(k) = ManifestStats.deserialize(line.stripPrefix(StatsPrefix))._2
            statsRetracted -= k; ()
          } else trusted = false // an existing member's stats changed
        }
      }
      val ov = ColdOverlay(meta, tableRu, refs.result(), tail, removed.toSet,
        statsOverlay.toMap, statsRetracted.toSet, trusted)
      // persist a trusted digest beside the checkpoint so the NEXT cold
      // process plans from one read (atomic tmp+rename; deterministic
      // content per version, so a lost race is ignored; best-effort —
      // a read-only filesystem just keeps paying the chain walk)
      if (trusted) try {
        val tmp = new Path(s"$root/$LogDir/.tmp-${UUID.randomUUID()}")
        val out = f0.create(tmp, false)
        try out.write(renderOverlay(v, ov).getBytes(StandardCharsets.UTF_8))
        finally out.close()
        if (!f0.rename(tmp, sidecar)) { f0.delete(tmp, false); () }
      } catch { case scala.util.control.NonFatal(_) => }
      ov
    })
  }

  /** The analysis base a cold decision compiles `filter` against: the
    * committed schema and partition transforms in `meta`. None for a
    * pre-schema log or a filter the stats layer cannot analyze — both
    * mean keep-everything. */
  private def coldConds(spark: SparkSession, meta: Map[String, String],
      filter: org.apache.spark.sql.Column)
      : Option[(org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.catalyst.expressions.Expression])] =
    meta.get(SchemaKey).flatMap { j =>
      val schema = org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val transforms = meta.get(TransformsKey).toSeq
        .flatMap(_.split(';')).flatMap(PartitionTransform.parse)
      ManifestStats.compileConds(spark, schema, filter, transforms,
        columnRenames(schema)).map(schema -> _)
    }

  /** The cold pruning walk over a trusted overlay, shared by
    * [[prunedColdPlan]] and [[pruneCounts]]: a segment whose pointer
    * rollup rules `conds` out is reported to `excluded` with its member
    * count and ZERO loads; every other segment loads, and each live
    * member, then each tail file, is `visit`ed with its verdict —
    * `None` when it carries no stats (absence means keep, never skip). */
  private def walkColdOverlay(spark: SparkSession, root: String, ov: ColdOverlay,
      conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])(
      excluded: Int => Unit, visit: (String, Option[Boolean]) => Unit): Unit = {
    def verdict(st: Option[ManifestStats.FileStats]): Option[Boolean] =
      st.map(ManifestStats.mayMatchConds(conds, _))
    ov.refs.foreach { case (name, count, ruOpt) =>
      if (ruOpt.exists(r => !ManifestStats.mayMatchConds(conds, r))) excluded(count)
      else {
        val seg = loadSegment(spark, root, name, count)
        seg.members.foreach { m =>
          if (!ov.removed.contains(m)) visit(m, verdict(
            if (ov.statsRetracted.contains(m)) None
            else ov.statsOverlay.get(m).orElse(seg.stats.get(m).map(l =>
              ManifestStats.deserialize(l.stripPrefix(StatsPrefix))._2))))
        }
      }
    }
    ov.tail.foreach(m => visit(m, verdict(
      if (ov.statsRetracted.contains(m)) None else ov.statsOverlay.get(m))))
  }

  /** COLD pruned-read plan — the lazy half of the two-tier layout: for
    * an un-resident version whose stored form is the pointer body, the
    * (kept files, schema, deletion vector) of a predicate read resolve
    * from the pointer + delta chain loading ONLY segments whose rollup
    * ADMITS the predicate. A point lookup on a cold 10M-file table
    * reads one pointer body and the handful of surviving segment files
    * — never the O(files) structural state, never the excluded
    * segments' entries. None (caller falls back to the heavy path,
    * bit-identical results) when: the state is already resident (the
    * heavy path is then O(1)); the overlay is not trusted (flat base,
    * or a delta replaced/retracted an EXISTING file's stats, so
    * per-segment rollups can no longer be trusted without knowing which
    * segment); the filter has no analysis base; or nothing survives
    * (the heavy empty-read keeps schema nuances exact). Exclusion
    * soundness under removes holds because a rollup over a member
    * SUPERSET only over-approximates — it can only keep too much, never
    * drop a live match. */
  private def prunedColdPlan(spark: SparkSession, root: String, v: Long,
      filter: org.apache.spark.sql.Column)
      : Option[(Seq[String], Option[org.apache.spark.sql.types.StructType], Option[String])] = {
    if (stateCache.get(root, v) != null) return None
    val ov = coldOverlayAt(spark, root, v)
    if (!ov.trusted) return None // flat base, or rollups distrusted: heavy path
    val (schema, conds) = coldConds(spark, ov.meta, filter)
      .getOrElse(return None) // no analysis base: keep-everything, heavy path
    if (ov.tableRu.exists(r => !ManifestStats.mayMatchConds(conds, r)))
      return None // provably empty: heavy empty-read keeps schema exact
    val kept = Seq.newBuilder[String]
    walkColdOverlay(spark, root, ov, conds)(
      _ => { ManifestStats.PruneMeters.segmentsExcluded.incrementAndGet(); () },
      (m, verdict) => {
        if (verdict.isDefined) ManifestStats.PruneMeters.filesEvaluated.incrementAndGet()
        if (verdict.forall(identity)) kept += m
      })
    val keptFiles = kept.result()
    if (keptFiles.isEmpty) None // heavy empty-read keeps schema nuances exact
    else Some((keptFiles, Some(schema), ov.meta.get(DvKey)))
  }

  /** The NAMES-FREE sibling of [[pruneFiles]]: (kept, dropped) FILE
    * COUNTS of a predicate read at `version`, computed COLD in
    * O(pointer + surviving segments) — an EXCLUDED segment contributes
    * its pointer COUNT to `dropped` without loading a single member
    * entry, so a multi-table planner can rank tables by selectivity
    * without paying pruneFiles' O(files) dropped-names contract.
    * Falls back to counting [[pruneFiles]]' result (bit-identical
    * totals) when the overlay can't answer exactly: flat base,
    * distrusted rollups, removes in the delta window (a removed path's
    * segment is unknown without loading members), unanalyzable filter,
    * or a resident state (the heavy path is then O(1) anyway). */
  def pruneCounts(spark: SparkSession, root: String,
      filter: org.apache.spark.sql.Column,
      version: Option[Long] = None): (Long, Long, Long) = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in log (have ${vs.mkString(",")})")
    def heavy(): (Long, Long, Long) = {
      val (k, d, ver) = pruneFiles(spark, root, filter, Some(v))
      (k.size.toLong, d.size.toLong, ver)
    }
    if (stateCache.get(root, v) != null) return heavy()
    val ov = coldOverlayAt(spark, root, v)
    if (!ov.trusted || ov.removed.nonEmpty) return heavy()
    val (_, conds) = coldConds(spark, ov.meta, filter).getOrElse(return heavy())
    if (ov.tableRu.exists(r => !ManifestStats.mayMatchConds(conds, r)))
      // provably empty: every file drops, counted from pointer + tail
      return (0L, ov.refs.iterator.map(_._2.toLong).sum + ov.tail.size, v)
    var kept = 0L
    var dropped = 0L
    walkColdOverlay(spark, root, ov, conds)(
      dropped += _,
      (_, verdict) => if (verdict.forall(identity)) kept += 1 else dropped += 1)
    (kept, dropped, v)
  }

  /** The (kept, dropped, version) split [[readPruned]] would use —
    * driver-only planning, exposed so callers and specs can observe
    * skipping effectiveness directly. */
  def pruneFiles(spark: SparkSession, root: String, filter: org.apache.spark.sql.Column,
      version: Option[Long] = None): (Seq[String], Seq[String], Long) = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in log (have ${vs.mkString(",")})")
    val parsed = parsedAt(spark, root, v)
    val files = parsed.files
    val schema = schemaOf(spark, root, v).getOrElse(
      return (files, Seq.empty, v)) // pre-schema log: no sound analysis base
    val raw = parsed.statsMap
    val stats = raw - ManifestStats.RollupKey
    val transforms = transformsOf(spark, root, v)
    val renames = columnRenames(schema)
    // table-level short-circuit: when the committed rollup PROVES no
    // file can match, skip the per-file pass entirely — O(columns)
    // instead of O(files), the decision a multi-table catalog makes
    // per table before planning anything
    raw.get(ManifestStats.RollupKey).foreach { r =>
      if (!ManifestStats.statsMayMatch(spark, schema, filter, r, transforms, renames))
        return (Seq.empty, files, v)
    }
    // segment-level tier: on a two-tier table, exclude whole segments
    // by their pointer rollup in O(segments) before any per-file stats
    // work — per-file predicate evaluation happens only inside
    // segments (and the unsegmented tail) the rollups couldn't rule out
    val (kept, dropped) = parsed.pruneIndex match {
      case Some(idx) => ManifestStats.pruneGrouped(
        spark, schema, filter, stats, idx.groups,
        transforms = transforms, renames = renames)
      case None => ManifestStats.prune(
        spark, schema, filter, stats, files,
        transforms = transforms, renames = renames)
    }
    (kept, dropped, v)
  }

  /** Plan-tier grouping for a version of a SEGMENTED table: per
    * segment, its live members (members a later delta removed drop
    * out) and its rollup — kept only when every live member still
    * carries exactly the stats line the rollup was computed over (a
    * delta can REPLACE a member's stats; a rollup over superseded
    * stats must not exclude). Files no segment covers (the delta tail
    * appended since the checkpoint) form a rollup-less final group.
    * Built once per resident state ([[Parsed.pruneIndex]]) — O(files)
    * cheap map lookups — then every planned query pays only
    * O(segments + surviving members). */
  private final case class PruneIndex(
      groups: Vector[(Option[ManifestStats.FileStats], Vector[String])])

  /** O(pointer-bytes + columns) driver-side routing test: can ANY row
    * of this table match `filter`? `false` only when the committed
    * table-level rollup PROVES it (the Iceberg manifest-list idea: a
    * catalog of per-day/per-tenant tables answers "which tables are
    * even relevant" without touching per-file stats, let alone data);
    * `true` whenever the table lacks a rollup or the rollup admits the
    * predicate — keep-biased like every skipping tier.
    *
    * COLD cost is the point: a resident structural state answers from
    * its decoded meta and stats (decoded at most once per resident
    * version, and never for a version this JVM committed); otherwise the (meta, rollup) pair comes from the version's
    * [[ColdOverlay]] — the inline header of the stored full form plus
    * the delta chain's overlay, or the trusted `.pruneidx` sidecar —
    * WITHOUT loading a single segment file or building the O(files)
    * structural state. Routing a predicate across 10k tables of 10M
    * files each reads 10k pointer bodies, not 10^10 file entries. A
    * cold route of a segmented table persists the sidecar exactly as a
    * cold [[readPruned]] does, and a route-then-read of one version
    * ([[readCatalog]]) decodes its chain once. */
  def tableMayMatch(spark: SparkSession, root: String,
      filter: org.apache.spark.sql.Column,
      version: Option[Long] = None): Boolean = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in log (have ${vs.mkString(",")})")
    val resident = stateCache.get(root, v)
    val (meta, rollup) =
      if (resident != null)
        (resident.metaMap, resident.statsMap.get(ManifestStats.RollupKey))
      else {
        val ov = coldOverlayAt(spark, root, v)
        (ov.meta, ov.tableRu)
      }
    rollup.forall(r => coldConds(spark, meta, filter)
      .forall { case (_, conds) => ManifestStats.mayMatchConds(conds, r) })
  }

  /** Read the table at `version` (default: latest).
    *
    * The schema comes from the MANIFEST (committed with the data), never
    * from sampling parquet footers — at 100 TB a footer-merge pass over
    * the file list is a job of its own, and the log already knows the
    * answer. Files written before a widening append simply lack the new
    * columns and read them as NULL (the parquet reader back-fills
    * against the provided schema — same contract as src5's
    * schema-evolution reads). Pre-schema manifests (none in practice)
    * fall back to footer inference. */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in log (have ${vs.mkString(",")})")
    readAt(spark, root, v)
  }

  /** [[read]] at a version the caller already found in the log. */
  private def readAt(spark: SparkSession, root: String, v: Long): DataFrame = {
    val files = manifestFiles(spark, root, v)
    val stored = manifestMeta(spark, root, v).get(SchemaKey)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    (files, stored) match {
      case (Nil, Some(s)) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], visibleSchema(s))
      case (Nil, None) => spark.emptyDataFrame
      case (fs, s) => readFiles(spark, root, s, fs, deletionVector(spark, root, v))
    }
  }

  /** Resolve `TIMESTAMP AS OF` to a version (Delta's rule): the LATEST
    * version whose commit time is at or before `tsMillis`, where commit
    * time is the manifest file's modification time adjusted for
    * monotonicity — a wall-clock regression between commits (NTP step,
    * failover) must never make a later version resolve before an
    * earlier one, so each version's effective time is the running max
    * (exactly Delta's commit-timestamp adjustment). Before-first-commit
    * timestamps error loudly, like Delta's `TIMESTAMP AS OF` does.
    * O(versions) driver-side file stats; no data touched. */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val f = fs(spark, root)
    var acc = Long.MinValue
    val mono = vs.map { v =>
      acc = math.max(acc, f.getFileStatus(manifestPath(root, v)).getModificationTime)
      v -> acc
    }
    val eligible = mono.takeWhile(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"timestamp $tsMillis predates the first commit (${mono.head._2}) of $root")
    eligible.last._1
  }

  /** `SELECT ... TIMESTAMP AS OF`: [[read]] at [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    read(spark, root, Some(versionAsOf(spark, root, tsMillis)))

  /** The committed schema at `version` (absent only for pre-schema logs). */
  def schemaOf(spark: SparkSession, root: String, version: Long): Option[org.apache.spark.sql.types.StructType] =
    manifestMeta(spark, root, version).get(SchemaKey)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  private val SchemaKey = "schema"

  /** Field-metadata key recording a renamed column's on-disk name —
    * Delta's column-mapping idea carried inside the committed schema
    * json, so the mapping rides every commit that carries [[SchemaKey]]
    * (append, merge, delete, analyze, restore) with no extra meta
    * plumbing. Fields without the key are unmapped: physical = logical.
    */
  private val PhysicalKey = "graft.physical"

  /** Field-metadata flag marking a DROPPED column's tombstone (see
    * [[dropColumn]]): the field stays in the committed schema under the
    * reserved [[DroppedPrefix]] logical name so its physical slot stays
    * taken, but no read ever projects it. */
  private val DroppedKey = "graft.dropped"

  /** Reserved logical-name prefix for drop tombstones; batches and
    * renames may not use it. */
  private val DroppedPrefix = "graft__dropped__"

  /** Meta key naming the version's DELETION VECTOR — the merge-on-read
    * delete sidecar (Delta's deletion vectors / Iceberg v2 positional
    * deletes, re-expressed for this manifest protocol): a parquet of
    * `(file, pos)` rows marking deleted positions in otherwise-untouched
    * data files. A [[deleteMor]] commit changes NO data files — at
    * 100 TB a point delete that touches 10k files is one tiny sidecar
    * write instead of a 10k-file copy-on-write rewrite. Readers apply
    * the vector as a broadcast ANTI join on (file suffix, row position)
    * at scan — the data side never shuffles. The key rides
    * [[carriedMetaKey]] so appends/merges/deletes/restore carry it;
    * rewrite-everything ops ([[compact]]/[[optimizeZOrder]]/
    * [[optimizeClusterBy]]) read THROUGH the vector and drop the key,
    * i.e. they materialize the deletes for free. */
  private val DvKey = "dv"
  private val DvDir = "_dv"

  /** Helper column names for positional-delete plumbing; reserved like
    * [[DroppedPrefix]] but never committed to any schema. */
  private val DvFileCol = "graft__dv_file"
  private val DvPosCol = "graft__dv_pos"

  /** The deletion-vector path of `version`, if any. */
  def deletionVector(spark: SparkSession, root: String, version: Long): Option[String] =
    manifestMeta(spark, root, version).get(DvKey)

  /** Exact visible row count of `version` from its files' parquet
    * footers — driver-side, zero Spark jobs. None when a deletion vector
    * hides rows (stored ≠ visible) or any footer is unreadable; callers
    * fall back to a counting read then. The write-then-footer-count
    * pattern lets a maintainer report the rows it just committed without
    * recomputing the frame it staged (a bootstrap join mart previously
    * ran its full join TWICE: once for count(), once for the write). */
  private[graft] def committedRowCount(spark: SparkSession, root: String,
      version: Long): Option[Long] =
    if (deletionVector(spark, root, version).isDefined) None
    else ManifestStats.rowCountFromFooters(spark, root,
      manifestFiles(spark, root, version))

  private def dvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType)))

  /** Read a deletion vector's `(file, pos)` rows. `file` is the LAST TWO
    * path components (`tx-<uuid>/part-*.parquet`) — unique by the tx
    * UUID, and invariant under table relocation and [[shallowClone]]'s
    * absolute-path entries, unlike a full path. */
  private def dvFrame(spark: SparkSession, root: String, dvPath: String): DataFrame =
    spark.read.schema(dvSchema).parquet(dataPath(root, dvPath))

  /** The files (in [[dvFileKey]] form) the deletion vector `dv` names —
    * one distinct-file collect, bounded by the table's file count. */
  private def dvFiles(spark: SparkSession, root: String, dv: Option[String]): Set[String] =
    dv.fold(Set.empty[String])(p =>
      dvFrame(spark, root, p).select("file").distinct().collect().map(_.getString(0)).toSet)

  private def emptyDvFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dvSchema)

  /** The last-two-components suffix used as a DV file key, for a
    * manifest entry (relative `data/tx-u/f` or absolute clone path). */
  private def dvFileKey(manifestEntry: String): String =
    manifestEntry.split('/').takeRight(2).mkString("/")

  private def isDropped(f: org.apache.spark.sql.types.StructField): Boolean =
    f.metadata.contains(DroppedKey) && f.metadata.getBoolean(DroppedKey)

  /** The schema readers serve: every field except drop tombstones. */
  private[sources] def visibleSchema(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.filterNot(isDropped))

  /** On-disk parquet column name of a possibly-renamed field. */
  private def physName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey) else f.name

  private def hasMapping(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(f => physName(f) != f.name)

  private def physicalSchema(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(f => f.copy(name = physName(f))))

  /** logical → physical name map for the RENAMED fields only. */
  private def columnRenames(s: org.apache.spark.sql.types.StructType): Map[String, String] =
    s.fields.iterator.map(f => f.name -> physName(f)).filter(p => p._1 != p._2).toMap

  /** Resolve a manifest file entry: entries are root-relative, except
    * the ABSOLUTE paths a shallow [[shallowClone]] commits for the
    * files it borrows from its source table. Borrowed files live
    * outside the clone's data dir, so [[vacuum]]'s local listing can
    * never touch them, and the clone's own rewrites stage relative as
    * always. */
  private def dataPath(root: String, p: String): String =
    if (p.startsWith("/")) p else s"$root/$p"

  /** Read data files under the LOGICAL names the committed schema
    * exposes: scan with the physical schema of the VISIBLE fields (a
    * dropped column is never requested, so its bytes are never even
    * decoded — parquet reads by name), then alias — a pure projection,
    * free at any scale. */
  private[sources] def readFiles(spark: SparkSession, root: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      paths: Seq[String],
      dv: Option[String] = None): DataFrame = dv match {
    case Some(p) =>
      // merge-on-read: drop deleted positions at scan. Broadcast ANTI
      // join — the vector holds deleted positions only (a tiny fraction
      // of the table, or someone should have run [[purgeDeletes]]), so
      // the 100 TB side streams through unshuffled. Stale entries for
      // files no longer in `paths` match nothing — harmlessly carried.
      import org.apache.spark.sql.functions.broadcast
      val pf = readFilesWithPos(spark, root, schema, paths)
      val d = dvFrame(spark, root, p)
      pf.join(broadcast(d),
        pf(DvFileCol) === d("file") && pf(DvPosCol) === d("pos"), "left_anti")
        .drop(DvFileCol, DvPosCol)
    case None => schema match {
      case Some(s0) if hasMapping(s0) || s0.fields.exists(isDropped) =>
        val s = visibleSchema(s0)
        spark.read.schema(physicalSchema(s)).parquet(paths.map(dataPath(root, _)): _*)
          .toDF(s.fieldNames.toIndexedSeq: _*)
      case Some(s) => spark.read.schema(s).parquet(paths.map(dataPath(root, _)): _*)
      case None => spark.read.parquet(paths.map(dataPath(root, _)): _*)
    }
  }

  /** [[readFiles]] plus the two positional columns DV plumbing keys on:
    * [[DvFileCol]] (last-two-components file suffix) and [[DvPosCol]]
    * (`_metadata.row_index` — the row's position in its immutable file).
    * Metadata columns must be bound ON the file scan, before any
    * aliasing projection, hence the shared helper. */
  private def readFilesWithPos(spark: SparkSession, root: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    def withPos(scan: DataFrame): DataFrame = scan.select(col("*"),
      expr("substring_index(_metadata.file_path, '/', -2)").as(DvFileCol),
      col("_metadata.row_index").as(DvPosCol))
    schema match {
      case Some(s0) if hasMapping(s0) || s0.fields.exists(isDropped) =>
        val s = visibleSchema(s0)
        withPos(spark.read.schema(physicalSchema(s))
            .parquet(paths.map(dataPath(root, _)): _*))
          .toDF((s.fieldNames :+ DvFileCol :+ DvPosCol).toIndexedSeq: _*)
      case Some(s) => withPos(
        spark.read.schema(s).parquet(paths.map(dataPath(root, _)): _*))
      case None => withPos(spark.read.parquet(paths.map(dataPath(root, _)): _*))
    }
  }

  /** Turn on row tracking: one metadata commit sets [[RowTrackingKey]]
    * and [[composeBody]] allocates an id block to every current file in
    * the same publish — zero data rewritten, ids spring into existence
    * as `base + _metadata.row_index`. From here every commit allocates
    * blocks for its new files automatically, and the id-preserving
    * rewrites ([[compact]]/[[optimizeZOrder]]/[[optimizeClusterBy]]/
    * [[purgeDeletes]]) materialize ids into a physical [[RowIdCol]]
    * column so the identity survives position shuffles — which is what
    * lets the change feed serve an EMPTY delta across an OPTIMIZE
    * instead of refusing. Ops that change row content (merge / COW
    * delete / overwrite) retire ids: their rewritten files get fresh
    * blocks, and id-based consumers refuse across them (correctly — the
    * delta there is not id-expressible). */
  def enableRowTracking(spark: SparkSession, root: String): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    require(!rowTrackingEnabled(spark, root, v0),
      s"row tracking is already enabled on $root")
    // a RE-enable (tracking was on once, then a RESTORE to a
    // pre-tracking version dropped it) must resume the seq allocator
    // past every block the LOG ever granted — an on-disk
    // (time-travelable) file still owns its old block, and restarting
    // at 0 would mint colliding ids
    val logHigh = vs.flatMap(v =>
      manifestMeta(spark, root, v).get(RowIdHighKey)).map(_.toLong)
      .reduceOption(_ max _)
    commit(spark, root, "enable_row_tracking", v0, Seq.empty, manifestFiles(spark, root, v0),
      manifestMeta(spark, root, v0) + (RowTrackingKey -> "on") ++
        logHigh.map(h => Map(RowIdHighKey -> h.toString)).getOrElse(Map.empty),
      fileStats(spark, root, v0))
  }

  /** Read `version` (default tip) with each row's immutable tracking id
    * as `_row_id`: fresh files compute `base + _metadata.row_index`
    * (zero storage), rewrite files serve their materialized [[RowIdCol]]
    * column; the deletion vector applies exactly as in [[read]]. The id
    * join is a broadcast over the file-count-sized base table — the
    * data side streams through unshuffled. */
  def readWithRowIds(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in log (have ${vs.mkString(",")})")
    readFilesWithRowIdsApplied(spark, root, v, manifestFiles(spark, root, v))
  }

  /** `paths` of version `v` with `_row_id`, the version's deletion
    * vector applied — the shared id-read for whole-table reads, the
    * id-preserving rewrites, and the change-feed walk's id-diff. */
  private def readFilesWithRowIdsApplied(spark: SparkSession, root: String,
      v: Long, paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val u = readFilesWithRowIds(spark, root, v, paths)
    (deletionVector(spark, root, v) match {
      case Some(p) =>
        val d = dvFrame(spark, root, p)
        u.join(broadcast(d),
          u(DvFileCol) === d("file") && u(DvPosCol) === d("pos"), "left_anti")
      case None => u
    }).drop(DvFileCol, DvPosCol)
  }

  /** `paths` of version `v` read with `_row_id` plus the two positional
    * helper columns (the caller applies or ignores the deletion vector).
    * Per-file id source: `base + row_index` for fresh files, the
    * materialized [[RowIdCol]] for rewrite files; the base lookup is a
    * broadcast over a file-count-sized frame. */
  private def readFilesWithRowIds(spark: SparkSession, root: String,
      v: Long, paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, expr}
    val meta = manifestMeta(spark, root, v)
    require(meta.get(RowTrackingKey).contains("on"),
      s"row tracking is not enabled on $root at v$v — call enableRowTracking first")
    val schema = schemaOf(spark, root, v).getOrElse(throw new IllegalStateException(
      s"$root@v$v has no committed schema — row tracking requires one"))
    val visible = visibleSchema(schema)
    require(!visible.fieldNames.contains("_row_id"),
      "the table has a user column named '_row_id' — row tracking reserves that name")
    val bases: Map[String, String] = meta.collect {
      case (k, b) if k.startsWith(RowBasePrefix) => k.stripPrefix(RowBasePrefix) -> b
    }
    paths.foreach(f => require(bases.contains(dvFileKey(f)),
      s"file $f has no row-id block at v$v — manifest corrupt or pre-tracking"))
    val (stored, fresh) = paths.partition(f => bases(dvFileKey(f)) == RowBaseStored)
    val outCols = visible.fieldNames.map(col).toIndexedSeq ++
      Seq(col("_row_id"), col(DvFileCol), col(DvPosCol))
    val freshPart =
      if (fresh.isEmpty) None
      else {
        val baseRows = fresh.map(f => (dvFileKey(f), bases(dvFileKey(f)).toLong))
        val baseDf = spark.createDataFrame(baseRows).toDF("graft__base_file", "graft__base")
        Some(readFilesWithPos(spark, root, Some(schema), fresh)
          .join(broadcast(baseDf), col(DvFileCol) === col("graft__base_file"))
          .withColumn("_row_id", col("graft__base") + col(DvPosCol))
          .select(outCols: _*))
      }
    val storedPart =
      if (stored.isEmpty) None
      else {
        val physWithId = org.apache.spark.sql.types.StructType(
          physicalSchema(visible).fields :+ org.apache.spark.sql.types.StructField(
            RowIdCol, org.apache.spark.sql.types.LongType))
        Some(spark.read.schema(physWithId).parquet(stored.map(dataPath(root, _)): _*)
          .select(col("*"),
            expr("substring_index(_metadata.file_path, '/', -2)").as(DvFileCol),
            col("_metadata.row_index").as(DvPosCol))
          .toDF((visible.fieldNames :+ "_row_id" :+ DvFileCol :+ DvPosCol).toIndexedSeq: _*)
          .select(outCols: _*))
      }
    (freshPart.toSeq ++ storedPart.toSeq) match {
      case Seq() => // no files: schema-correct empty frame, helper cols included
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(visible.fields ++ Seq(
            org.apache.spark.sql.types.StructField("_row_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(DvFileCol, org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField(DvPosCol, org.apache.spark.sql.types.LongType))))
      case parts => parts.reduce(_.unionByName(_))
    }
  }

  /** Catalog read: the filtered union of MANY manifest tables (the
    * per-day / per-tenant layout), consulting each table's committed
    * rollup FIRST — an irrelevant table costs one manifest parse and an
    * O(columns) test, never a per-file pass or a scan. Relevant tables
    * read through [[readPruned]], so per-file skipping still applies
    * inside them; when nothing survives, the first table's schema
    * shapes the empty result. Tables must share a schema by name
    * (unionByName, the widening-append contract). */
  def readCatalog(spark: SparkSession, roots: Seq[String],
      filter: org.apache.spark.sql.Column): DataFrame = {
    require(roots.nonEmpty, "readCatalog needs at least one table")
    val relevant = roots.filter(tableMayMatch(spark, _, filter))
    if (relevant.isEmpty) read(spark, roots.head).limit(0).filter(filter)
    else relevant.map(readPruned(spark, _, filter)).reduce(_.unionByName(_))
  }

  /** Shallow CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE src`): a
    * NEW table at `destRoot` whose first manifest names the SOURCE's
    * data files by ABSOLUTE path — zero bytes copied, one metadata
    * commit, schema/stats/transform spec carried. The tables then
    * diverge copy-on-write: the clone's merges/deletes/compactions
    * rewrite only the files they touch into clone-local storage, and
    * appends on either side are invisible to the other. The standard
    * caveat applies and is the caller's contract: [[vacuum]] on the
    * SOURCE can reclaim files a live clone still references (exactly
    * Delta's documented shallow-clone hazard) — clone from sources
    * whose retention outlives the clone. */
  def shallowClone(spark: SparkSession, srcRoot: String, destRoot: String,
      version: Option[Long] = None): Long = {
    require(new Path(srcRoot).isAbsolute,
      s"shallow clone needs an absolute source root, got $srcRoot")
    val vs = versions(spark, srcRoot)
    require(vs.nonEmpty, s"$srcRoot is not a manifest table (no $LogDir)")
    require(versions(spark, destRoot).isEmpty, s"$destRoot already has a manifest log")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in log (have ${vs.mkString(",")})")
    val rel = manifestFiles(spark, srcRoot, v)
    val files = rel.map(dataPath(srcRoot, _)) // clone-of-clone entries pass through
    val meta = manifestMeta(spark, srcRoot, v)
      .filter { case (k, _) => k == SchemaKey || carriedMetaKey(k) }
      // the deletion vector travels like the data files: by absolute
      // path into the source's storage (same retention caveat)
      .map { case (k, p) if k == DvKey => k -> dataPath(srcRoot, p)
             case kv => kv }
    val stats = fileStats(spark, srcRoot, v)
    val absStats = rel.flatMap(p => stats.get(p).map(dataPath(srcRoot, p) -> _)).toMap
    commit(spark, destRoot, s"clone-v$v", files, _ => Seq.empty, _ => meta, _ => absStats)
  }

  /** Rename a LOGICAL-named frame back to physical column names before
    * staging — data files stay physically homogeneous forever, whatever
    * rename history the table accumulates. */
  private def toPhysical(df: DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema.filter(hasMapping).fold(df) { s =>
      columnRenames(s).foldLeft(df) { case (d, (logical, phys)) =>
        if (d.columns.contains(logical)) d.withColumnRenamed(logical, phys) else d
      }
    }

  private def toPhysicalCols(schema: Option[org.apache.spark.sql.types.StructType],
      cols: Seq[String]): Seq[String] =
    schema.fold(cols) { s =>
      val m = columnRenames(s); cols.map(c => m.getOrElse(c, c))
    }

  /** Metadata-only column RENAME (Delta Lake's column mapping, VLDB 2020
    * §4; Iceberg achieves the same through field ids): the committed
    * schema's field takes the new LOGICAL name and records its on-disk
    * PHYSICAL name in field metadata — zero data files rewrite, one
    * manifest commit. Reads alias physical→logical after the scan;
    * writes (append / merge / delete / compact / zorder) alias back
    * before staging; stats, blooms, and partition transforms stay keyed
    * by physical names and keep full skipping power, with predicate
    * attributes rewritten logical→physical at prune time. Renaming back
    * to the original name drops the mapping entry. Same concurrency
    * contract as [[merge]]: a racing commit aborts the publish. */
  def renameColumn(spark: SparkSession, root: String, from: String, to: String): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    val schema = schemaOf(spark, root, v0).getOrElse(throw new IllegalArgumentException(
      s"$root has no committed schema — nothing to rename"))
    require(from != to, s"rename '$from' to itself is a no-op")
    require(!from.startsWith(DroppedPrefix) && !to.startsWith(DroppedPrefix),
      s"'$DroppedPrefix*' names are reserved drop tombstones")
    require(schema.fields.exists(f => f.name == from && !isDropped(f)),
      s"no column '$from' in (${visibleSchema(schema).fieldNames.mkString(", ")})")
    require(!schema.fieldNames.contains(to), s"column '$to' already exists")
    val refCs = checkConstraintsOf(spark, root, v0)
      .filter { case (_, t) => referencedCols(t).contains(from) }
    require(refCs.isEmpty,
      s"CHECK constraint(s) ${refCs.keys.mkString(", ")} reference '$from' — drop them first")
    val gens = generatedColumnsOf(spark, root, v0)
    val refGs = gens.filter { case (n, t) => n == from || referencedCols(t).contains(from) }
    require(refGs.isEmpty,
      s"generated column(s) ${refGs.keys.mkString(", ")} involve '$from' — drop the definition(s) first")
    // a DROPPED column's physical slot does NOT block the logical name:
    // reads never request it, so `append c2; rename c2→c` is exactly the
    // documented way to re-introduce a dropped column's logical name
    require(!schema.fields.exists(f => f.name != from && !isDropped(f) && physName(f) == to),
      s"'$to' is the physical name of another column — files would be ambiguous")
    val renamed = org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (f.name != from) f
      else {
        val phys = physName(f)
        val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        val md = if (phys == to) mb.remove(PhysicalKey).build() // renamed back to its disk name
                 else mb.putString(PhysicalKey, phys).build()
        org.apache.spark.sql.types.StructField(to, f.dataType, f.nullable, md)
      }
    })
    commit(spark, root, "rename_column", v0, Seq.empty, manifestFiles(spark, root, v0),
      manifestMeta(spark, root, v0) + (SchemaKey -> renamed.json),
      fileStats(spark, root, v0))
  }

  /** Metadata-only DROP COLUMN (the column-mapping drop of Delta's
    * VLDB 2020 §4 / `ALTER TABLE DROP COLUMN`; Iceberg drops by field
    * id): ONE manifest commit, zero files rewritten. The field stays in
    * the committed schema as a TOMBSTONE — logical name rewritten to
    * the reserved `graft__dropped__<physical>` slot, flagged
    * [[DroppedKey]] — so its on-disk physical name stays permanently
    * reserved and a later widening append can never resurrect the old
    * bytes under a fresh column of the same name (the hazard Delta
    * sidesteps with GUID physical names; same guard, different
    * spelling — [[append]] refuses any new column whose name collides
    * with ANY field's physical slot, tombstones included).
    *
    * What falls out for free: reads project the column away AT THE SCAN
    * (parquet reads by name — dropped bytes are never decoded, so the
    * read-side cost disappears immediately at any scale); copy-on-write
    * rewrites (merge / delete / compact / zorder) physically shed the
    * column from every file they touch, converging on Delta's
    * `REORG ... PURGE` without a dedicated pass; RESTORE to a pre-drop
    * version resurrects the column exactly (the schema rides
    * [[restore]]'s metadata). Re-introducing the LOGICAL name later:
    * append it under a fresh name and [[renameColumn]] — logical names
    * are free, physical slots are not.
    *
    * Refuses to drop: a missing or already-dropped column, the last
    * visible column, or a column a committed partition transform
    * clusters by (the transform's pruning would silently die — recluster
    * first; the ADVICE keep-bias rule applied at the API boundary).
    * Same concurrency contract as [[renameColumn]]. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    val schema = schemaOf(spark, root, v0).getOrElse(throw new IllegalArgumentException(
      s"$root has no committed schema — nothing to drop"))
    val field = schema.fields.find(f => f.name == name && !isDropped(f))
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$name' in (${visibleSchema(schema).fieldNames.mkString(", ")})"))
    require(visibleSchema(schema).length > 1, "cannot drop the last visible column")
    val phys = physName(field)
    require(transformsOf(spark, root, v0).forall(_.sourceCol != phys),
      s"a partition transform clusters by '$name' — recluster before dropping it")
    val refCs = checkConstraintsOf(spark, root, v0)
      .filter { case (_, t) => referencedCols(t).contains(name) }
    require(refCs.isEmpty,
      s"CHECK constraint(s) ${refCs.keys.mkString(", ")} reference '$name' — drop them first")
    val refGs = generatedColumnsOf(spark, root, v0)
      .filter { case (n, t) => n == name || referencedCols(t).contains(name) }
    require(refGs.isEmpty,
      s"generated column(s) ${refGs.keys.mkString(", ")} involve '$name' — drop the definition(s) first")
    val dropped = org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (f.name != name) f
      else org.apache.spark.sql.types.StructField(
        s"$DroppedPrefix$phys", f.dataType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putString(PhysicalKey, phys).putBoolean(DroppedKey, true).build())
    })
    commit(spark, root, "drop_column", v0, Seq.empty, manifestFiles(spark, root, v0),
      manifestMeta(spark, root, v0) + (SchemaKey -> dropped.json),
      fileStats(spark, root, v0))
  }

  /** Widening-only schema merge: common columns must keep their exact
    * type; columns new in `b` append. The table schema only ever widens
    * (dbt on_schema_change: append_new_columns — same rule as the
    * incremental materialization's unionByName). */
  private def widenSchema(
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val aByName = a.fields.map(f => f.name -> f).toMap
    b.fields.foreach { f =>
      aByName.get(f.name).foreach { old =>
        require(old.dataType == f.dataType,
          s"schema conflict on '${f.name}': table has ${old.dataType}, batch has ${f.dataType}")
      }
    }
    org.apache.spark.sql.types.StructType(
      a.fields ++ b.fields.filterNot(f => aByName.contains(f.name)))
  }

  /** Incremental consumption — the change-data-feed a downstream pipeline
    * reads instead of rescanning the table: the rows ADDED after
    * `sinceVersion`, i.e. the files the tip manifest names that
    * `sinceVersion`'s does not. Returns (added rows, tip version); the
    * consumer processes the frame, records the tip as its new cursor, and
    * repeats — with [[appendIdempotent]] on the producer side this is an
    * end-to-end exactly-once incremental pipeline.
    *
    * Sound ONLY while the lineage sinceVersion→tip is append-only: an
    * overwrite or compact in between removed/rewrote files, so "what was
    * added" is no longer the delta — this throws and the consumer must
    * full-refresh (the same contract Structured Streaming exposes when
    * reading a transactional table as a source: appends stream,
    * arbitrary changes require a restart). Detection is structural — the
    * old file set must survive into the tip — never op-name trust. */
  def readChangesSince(
      spark: SparkSession,
      root: String,
      sinceVersion: Long,
      untilVersion: Option[Long] = None): (DataFrame, Long) = {
    val vs = versions(spark, root)
    refuse(vs.contains(sinceVersion),
      s"version $sinceVersion not in log (have ${vs.mkString(",")}) — cursor invalid, full refresh required")
    untilVersion.foreach(u => refuse(vs.contains(u),
      s"version $u not in log (have ${vs.mkString(",")}) — bounded read invalid"))
    val tip = untilVersion.getOrElse(vs.max)
    val old = manifestFiles(spark, root, sinceVersion).toSet
    val cur = manifestFiles(spark, root, tip)
    refuse(old.subsetOf(cur.toSet),
      s"non-append change between v$sinceVersion and v$tip (files were removed/rewritten) — incremental read unsound, full refresh required")
    // a deletion-vector change removes rows without touching the file
    // set — just as non-append as a rewrite, and just as unsound to
    // stream past (a new file can't be in an older vector, so equal
    // vectors + append-only files ⇒ the delta really is the added files)
    refuse(manifestMeta(spark, root, sinceVersion).get(DvKey) ==
      manifestMeta(spark, root, tip).get(DvKey),
      s"deletion vector changed between v$sinceVersion and v$tip (rows removed merge-on-read) — incremental read unsound, full refresh required")
    val added = cur.filterNot(old)
    val df =
      if (added.isEmpty)
        readAt(spark, root, tip).limit(0) // empty, but schema-correct
      else
        // the TIP schema, so a delta spanning a widening append reads
        // the new columns (NULL-backfilled in pre-widening files) and a
        // delta spanning a rename arrives under the tip's logical names
        readFiles(spark, root, schemaOf(spark, root, tip), added)
    (df, tip)
  }

  /** THE change feed: the net delta between `sinceVersion` and
    * `untilVersion` (default: the tip) as table rows tagged
    * `_change_type` ('insert' | 'delete'), plus the consumed version.
    * The table picks its own feed from its metadata AT the cursor: a
    * row-tracked table takes the version walk
    * ([[readChangesRowTracked]] — empty deltas across id-preserving
    * rewrites, id-diffs across MERGE), any other the positional
    * deletion-vector diff ([[readChangesWithDeletes]] — appends, MOR
    * deletes, RESTOREs past a vector). The log is listed ONCE, and a
    * cursor it no longer holds (vacuumed past) is the designed
    * [[NotDeltaExpressible]] refusal, never an IO error from probing
    * state at a missing version. `includeRowId` exposes `_row_id` and
    * needs row tracking at the cursor. */
  def readChanges(
      spark: SparkSession,
      root: String,
      sinceVersion: Long,
      untilVersion: Option[Long] = None,
      includeRowId: Boolean = false): (DataFrame, Long) = {
    val vs = versions(spark, root)
    refuse(vs.contains(sinceVersion),
      s"version $sinceVersion not in log on $root — cursor invalid (vacuumed?), full refresh required")
    if (rowTrackingEnabled(spark, root, sinceVersion))
      readChangesRowTracked(spark, root, sinceVersion, untilVersion, includeRowId, Some(vs))
    else {
      require(!includeRowId,
        s"includeRowId=true needs row tracking enabled on $root (enableRowTracking)")
      readChangesWithDeletes(spark, root, sinceVersion, untilVersion, Some(vs))
    }
  }

  /** Change-data feed WITH row-level deletes — the Delta-CDF shape for
    * merge-on-read tables, where [[readChangesSince]]'s pure-insert
    * contract refuses: the NET delta between `sinceVersion` and the tip
    * as rows tagged `_change_type` ('insert' | 'delete').
    *
    * The deletion-vector diff IS the delete feed: positions in
    * dv(tip) \ dv(since) that live in files `sinceVersion` already
    * named are rows the consumer saw and must now retract; positions
    * referencing files ADDED in the window are add-then-delete — net
    * zero, excluded from both sides (inserts read through the TIP
    * vector). The reverse diff (dv(since) \ dv(tip) — a RESTORE past a
    * MOR delete) resurrects rows, emitted as inserts. File rewrites
    * still refuse (same rule as [[readChangesSince]]): with the file
    * set append-only and vectors diffed both ways, the emitted rows are
    * exactly read(tip) − read(since).
    *
    * Cost: the dv diff is sidecar-sized; delete/resurrect rows read
    * ONLY the files the diff references (positional semi-join at the
    * scan); inserts read only the added files. Nothing table-sized
    * moves. */
  private[graft] def readChangesWithDeletes(
      spark: SparkSession,
      root: String,
      sinceVersion: Long,
      untilVersion: Option[Long] = None,
      listed: Option[Seq[Long]] = None): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val vs = listed.getOrElse(versions(spark, root))
    refuse(vs.contains(sinceVersion),
      s"version $sinceVersion not in log (have ${vs.mkString(",")}) — cursor invalid, full refresh required")
    val tip = untilVersion.getOrElse(vs.max)
    require(vs.contains(tip) && tip >= sinceVersion,
      s"until-version $tip invalid (log has ${vs.mkString(",")}, cursor $sinceVersion)")
    val old = manifestFiles(spark, root, sinceVersion).toSet
    val cur = manifestFiles(spark, root, tip)
    refuse(old.subsetOf(cur.toSet),
      s"non-append change between v$sinceVersion and v$tip (files were removed/rewritten) — row-level delta unsound, full refresh required")
    val schema = schemaOf(spark, root, tip)
    val ct = "_change_type"
    val dvNewP = deletionVector(spark, root, tip)
    val dvOldP = deletionVector(spark, root, sinceVersion)
    val emptyTagged = readAt(spark, root, tip).limit(0).withColumn(ct, lit("insert"))
    // rows at `positions` within `files`, via a positional SEMI join
    def rowsAt(files: Seq[String], positions: DataFrame, tag: String): DataFrame =
      if (files.isEmpty) emptyTagged
      else {
        val pf = readFilesWithPos(spark, root, schema, files)
        pf.join(broadcast(positions),
          pf(DvFileCol) === positions("file") && pf(DvPosCol) === positions("pos"),
          "left_semi")
          .drop(DvFileCol, DvPosCol)
          .withColumn(ct, lit(tag))
      }
    val added = cur.filterNot(old)
    val inserts =
      if (added.isEmpty) emptyTagged
      else readFiles(spark, root, schema, added, dvNewP).withColumn(ct, lit("insert"))
    val (deletes, resurrectedRows) = dvDiff(spark, root, dvNewP, dvOldP) match {
      case None => (emptyTagged, emptyTagged)
      case Some(d) =>
        def touching(keys: Set[String]): Seq[String] =
          cur.filter(f => old.contains(f) && keys.contains(dvFileKey(f)))
        (rowsAt(touching(d.grownKeys), d.grown, "delete"),
          rowsAt(touching(d.shrunkKeys), d.shrunk, "insert"))
    }
    (inserts.unionByName(deletes).unionByName(resurrectedRows), tip)
  }

  /** Both directions of a deletion-vector change: the (file, pos)
    * positions the vector `grew` by and `shrunk` by, each with the file
    * keys those positions reference. */
  private final case class DvDiff(grown: DataFrame, grownKeys: Set[String],
      shrunk: DataFrame, shrunkKeys: Set[String])

  /** The change-feed diff of two deletion-vector paths. Vectors are
    * immutable uuid-named files, so equal paths mean an unchanged
    * vector: None, with zero Spark jobs (the common append-only
    * window). Otherwise ONE checkpointed ±1 union-aggregate job computes
    * both directions (the rows of a vector are unique — every writer
    * distincts before the write), and ONE collect of the distinct
    * (file, grew?) pairs answers both directions' key sets — bounded by
    * the table's FILE count, like the manifest itself. The POSITIONS
    * stay distributed: a 10× A/B showed that driver-collecting them into
    * local relations embeds change-rate-sized row sets into every plan
    * that consumes the feed (task-binary bloat); consumers broadcast
    * them at the positional semi-join instead. */
  private def dvDiff(spark: SparkSession, root: String,
      newPath: Option[String], oldPath: Option[String]): Option[DvDiff] =
    if (newPath == oldPath) None
    else {
      import org.apache.spark.sql.functions.{lit, sum}
      def side(p: Option[String], sign: Long): DataFrame =
        p.map(dvFrame(spark, root, _)).getOrElse(emptyDvFrame(spark))
          .withColumn("_side", lit(sign))
      val diff = side(newPath, 1L).unionByName(side(oldPath, -1L))
        .groupBy(col("file"), col("pos")).agg(sum(col("_side")).as("_side"))
        .filter(col("_side") =!= 0L)
        .localCheckpoint()
      val sides = diff.select(col("file"), (col("_side") > 0L).as("__grew"))
        .distinct().collect()
        .map(r => (r.getString(0), r.getBoolean(1)))
      def keys(grew: Boolean): Set[String] =
        sides.collect { case (f, g) if g == grew => f }.toSet
      Some(DvDiff(diff.filter(col("_side") > 0L).select("file", "pos"), keys(grew = true),
        diff.filter(col("_side") < 0L).select("file", "pos"), keys(grew = false)))
    }

  /** Change-data feed over a ROW-TRACKED table — the version walk that
    * serves an EMPTY delta across id-preserving rewrites, where the
    * positional CDF ([[readChangesWithDeletes]]) must refuse: with row
    * tracking on, OPTIMIZE ([[compact]]/[[optimizeZOrder]]/
    * [[optimizeClusterBy]]/[[purgeDeletes]]) no longer breaks streams.
    *
    * Per version in (since, tip]: an append-like commit contributes its
    * added files' rows as INSERT events; a deletion-vector growth
    * contributes the referenced rows as DELETE events; an id-preserving
    * rewrite (verified: its files carry materialized ids) contributes
    * NOTHING — the ids prove the rows all survived; a file-set-stable
    * RESTORE's vector shrink contributes resurrection INSERTs; a
    * content-changing rewrite — MERGE or COW DELETE, which under
    * tracking preserve carried rows' ids — contributes the ID-DIFF of
    * its removed vs added files (deletes = matched/removed rows' old
    * versions, inserts = the new versions), bounded by the op's own
    * affected set; only OVERWRITE and a file-set-changing RESTORE still
    * refuse (those replace the table — the full refresh they demand).
    * Events then net per row id:
    * visibility at the cursor is `first event == delete`, visibility at
    * the tip is `last event != delete` (ids are unique per version —
    * a commit cannot both insert and delete one id), and only
    * visible→gone (delete) and absent→visible (insert) rows emit.
    * Positions may move across rewrites mid-window; identities cannot —
    * which is exactly why this nets correctly where (file, pos) cannot.
    *
    * Cost: O(versions in window) manifest reads; data volume = added
    * files + vector-diff-referenced files only. Nothing table-sized. */
  private[graft] def readChangesRowTracked(
      spark: SparkSession,
      root: String,
      sinceVersion: Long,
      untilVersion: Option[Long] = None,
      includeRowId: Boolean = false,
      listed: Option[Seq[Long]] = None): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{broadcast, lit, struct, when, max => fmax, min => fmin}
    val vs = listed.getOrElse(versions(spark, root))
    refuse(vs.contains(sinceVersion),
      s"version $sinceVersion not in log (have ${vs.mkString(",")}) — cursor invalid, full refresh required")
    val tip = untilVersion.getOrElse(vs.max)
    require(vs.contains(tip) && tip >= sinceVersion,
      s"until-version $tip invalid (log has ${vs.mkString(",")}, cursor $sinceVersion)")
    refuse(rowTrackingEnabled(spark, root, sinceVersion),
      s"cursor v$sinceVersion predates row tracking on $root — full refresh required")
    val steps = (sinceVersion + 1) to tip
    steps.foreach(v => refuse(vs.contains(v),
      s"version $v missing from the log (vacuumed mid-window) — full refresh required"))
    val schema = schemaOf(spark, root, tip)
    val ct = "_change_type"
    val rewriteOps = Set("compact", "compact-small", "zorder", "cluster", "purge-dv")
    def opOf(v: Long): String = opAt(spark, root, v)
    def dvDiffAt(v: Long): Option[DvDiff] = dvDiff(spark, root,
      deletionVector(spark, root, v), deletionVector(spark, root, v - 1))
    // rows at dv positions `pos` within version v's manifest, with ids;
    // `keys` are the file keys the positions reference, precomputed by
    // the single side-summary collect of [[dvDiff]] — this must not run
    // its own per-direction collect job
    def rowsAt(v: Long, pos: DataFrame, keys: Set[String]): DataFrame = {
      val refd = manifestFiles(spark, root, v).filter(f => keys.contains(dvFileKey(f)))
      val pf = readFilesWithRowIds(spark, root, v, refd)
      pf.join(broadcast(pos),
        pf(DvFileCol) === pos("file") && pf(DvPosCol) === pos("pos"), "left_semi")
        .drop(DvFileCol, DvPosCol)
    }
    var events = Seq.empty[DataFrame] // cols: schema(v) + _row_id + __v + __kind
    steps.foreach { v =>
      val op = opOf(v)
      val prevF = manifestFiles(spark, root, v - 1).toSet
      val curF = manifestFiles(spark, root, v)
      val added = curF.filterNot(prevF)
      val removed = prevF -- curF.toSet
      if (removed.nonEmpty || rewriteOps.contains(op)) {
        if (rewriteOps.contains(op)) {
          val meta = manifestMeta(spark, root, v)
          added.foreach(f => refuse(
            meta.get(RowBasePrefix + dvFileKey(f)).contains(RowBaseStored),
            s"v$v ($op) did not materialize row ids (pre-tracking rewrite) — full refresh required"))
          // id-preserving: contributes nothing; its dv drop (if any) is
          // materialization of already-reported deletes, not new events
        } else {
          // content-changing rewrite (merge / COW delete): the delta IS
          // the id-diff between the removed and added files — both
          // bounded by the op's own affected set, never the table.
          // Requires the op to have carried the vector verbatim (both
          // do); an op that also mutated visibility in UNTOUCHED files
          // would hide changes from the diff, so refuse that shape.
          refuse(!op.startsWith("restore-") && op != "overwrite",
            s"v$v ($op) replaced the file set — delta not incrementally expressible, full refresh required")
          refuse(deletionVector(spark, root, v) == deletionVector(spark, root, v - 1),
            s"v$v ($op) changed files AND the deletion vector — delta not id-expressible, full refresh required")
          val rem = readFilesWithRowIdsApplied(spark, root, v - 1, removed.toSeq)
            .localCheckpoint()
          val add = readFilesWithRowIdsApplied(spark, root, v, added)
            .localCheckpoint()
          events :+= rem.join(add.select("_row_id"), Seq("_row_id"), "left_anti")
            .withColumn("__v", lit(v)).withColumn("__kind", lit("del"))
          events :+= add.join(rem.select("_row_id"), Seq("_row_id"), "left_anti")
            .withColumn("__v", lit(v)).withColumn("__kind", lit("ins"))
        }
      } else if (op.startsWith("restore-")) {
        refuse(added.isEmpty,
          s"v$v ($op) changed the file set — delta not id-expressible, full refresh required")
        // a grown vector deletes, a shrunk one resurrects
        dvDiffAt(v).foreach { d =>
          events :+= rowsAt(v, d.grown, d.grownKeys)
            .withColumn("__v", lit(v)).withColumn("__kind", lit("del"))
          events :+= rowsAt(v, d.shrunk, d.shrunkKeys)
            .withColumn("__v", lit(v)).withColumn("__kind", lit("ins"))
        }
      } else {
        if (added.nonEmpty)
          events :+= readFilesWithRowIds(spark, root, v, added)
            .drop(DvFileCol, DvPosCol)
            .withColumn("__v", lit(v)).withColumn("__kind", lit("ins"))
        // the shrink refusal and the grown-empty check read the diff's
        // key sets — no further jobs
        dvDiffAt(v).foreach { d =>
          refuse(d.shrunkKeys.isEmpty,
            s"v$v ($op) shrank the deletion vector outside RESTORE — full refresh required")
          if (d.grownKeys.nonEmpty)
            events :+= rowsAt(v, d.grown, d.grownKeys)
              .withColumn("__v", lit(v)).withColumn("__kind", lit("del"))
        }
      }
    }
    val outFields = schema.map(visibleSchema(_).fieldNames.toSeq)
      .getOrElse(Seq.empty)
    // identity exposure: _row_id is the table-unique immutable id —
    // downstream mirrors can key on it instead of a business key (the
    // Delta row-tracking consumer contract), which is the only sound
    // key when business keys are non-unique
    val outCols: Seq[String] =
      if (includeRowId) "_row_id" +: outFields else outFields
    val emptyFeed = {
      val base = readAt(spark, root, tip).limit(0)
      val withId = if (includeRowId)
        base.withColumn("_row_id", lit(null).cast("long")) else base
      withId.select((outCols.map(col) :+ lit("insert").as(ct)).map(c => c): _*)
    }
    if (events.isEmpty) return (emptyFeed, tip)
    // schema may widen mid-window: align by name, absent columns null
    val all = events.reduce(_.unionByName(_, allowMissingColumns = true))
    val payload = struct((outFields.map(col) :+ col("__kind")).map(c => c): _*)
    val netted = all.groupBy("_row_id")
      .agg(fmin(struct(col("__v"), col("__kind"))).as("__first"),
        fmax(struct(col("__v"), payload.as("__p"))).as("__last"))
      .select(col("_row_id"), col("__first.__kind").as("__first_kind"),
        col("__last.__p.*"))
    val feed = netted
      .withColumn(ct,
        when(col("__first_kind") === "del" && col("__kind") === "del", lit("delete"))
          .when(col("__first_kind") =!= "del" && col("__kind") =!= "del", lit("insert")))
      .filter(col(ct).isNotNull)
      .select((outCols.map(col) :+ col(ct)).map(c => c): _*)
    (feed, tip)
  }

  /** Stage `df` as immutable data files under a fresh tx dir; returns the
    * root-relative paths. Public for the crash-simulation spec: staging
    * WITHOUT a subsequent commit is exactly the torn-write state, and the
    * table must read identically before/after. */
  def stage(spark: SparkSession, root: String, df: DataFrame): Seq[String] = {
    val tx = s"$DataDir/tx-${UUID.randomUUID()}"
    df.write.parquet(s"$root/$tx")
    val f = fs(spark, root)
    f.listStatus(new Path(s"$root/$tx")).iterator
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(s => s"$tx/${s.getPath.getName}")
      .toSeq.sorted
  }

  /** Publish `newFiles` as version tip+1 via the atomic slot claim;
    * retries on a lost race. What the new version carries beside
    * `newFiles` follows one of three policies:
    *
    *  - PLANNED (the overload taking `v0`): the op read the table at
    *    `v0`, and its carried files, meta and stats are values derived
    *    from `v0`. If any other commit landed first, the publish aborts
    *    with [[ConcurrentCommit]] ("concurrent modification … re-run").
    *    The check is on the version, not the file set: a racer that
    *    keeps the files (a MOR delete's vector, a metadata op) would
    *    otherwise be clobbered by the v0-derived meta. Every content
    *    rewrite, MOR op and schema/spec/constraint addition plans.
    *  - RE-BASE: `base`, `metaAt` and `statsAt` re-resolve against the
    *    tip each attempt lands on, so the racer's work is kept (append,
    *    analyze, dropping a constraint or a generated column).
    *  - REPLACE: `base` is empty and meta/stats ignore the tip, so the
    *    new version names only its own files (create, overwrite,
    *    restore, apply-refresh, clone). */
  private def commit(
      spark: SparkSession,
      root: String,
      op: String,
      v0: Long,
      newFiles: Seq[String],
      carried: Seq[String],
      meta: Map[String, String],
      stats: Map[String, ManifestStats.FileStats]): Long =
    commit(spark, root, op, newFiles, _ => carried, _ => meta, _ => stats,
      plannedAt = Some(v0))

  private def commit(
      spark: SparkSession,
      root: String,
      op: String,
      newFiles: Seq[String],
      base: Long => Seq[String],
      metaAt: Long => Map[String, String],
      statsAt: Long => Map[String, ManifestStats.FileStats] = _ => Map.empty,
      appendShaped: Boolean = false,
      plannedAt: Option[Long] = None): Long = {
    val f = fs(spark, root)
    f.mkdirs(new Path(s"$root/$LogDir"))
    var attempt = 0
    var lastCorrupt: CorruptManifest = null
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      try {
        val tip = versions(spark, root).lastOption.getOrElse(0L)
        plannedAt.foreach(v0 => if (tip != v0) throw new ConcurrentCommit(
          s"concurrent modification of $root during $op (planned v$v0, tip v$tip) — re-run"))
        val next = tip + 1
        // metadata re-resolves against the tip the retry lands on, exactly
        // like the file base — an append's widened schema must widen the
        // WINNER's schema, not the one this committer first read
        val meta = metaWithTxnCarry(spark, root, tip, metaAt(tip))
        val cm = composeTiered(spark, root, next, op, meta,
          base(tip), newFiles, statsAt(tip), appendShaped)
        // the atomic publish: rename refuses an existing destination, so
        // exactly one of two racing committers wins version `next`
        if (publishRaw(spark, root, next, cm.body)) {
          // make the composed state resident: same-JVM readers of this
          // version never re-parse, chain-walk or re-decode the maps the
          // compose built
          stateCache.put(root, next, cm.state)
          return next
        }
      } catch {
        // the tip this attempt planned against is UNREADABLE — listed
        // but failing the header/CRC guards. Through a claim arm whose
        // byte copy is not atomically visible, that is a racing winner's
        // publish still in flight: re-basing against it as an empty or
        // smaller state would silently drop the winner's rows (the lost
        // update the battery caught), so back off and re-read until the
        // bytes land. Bounded: a tip that NEVER becomes readable (torn
        // copy that crashed, disk-full truncation) rethrows loudly below
        // — an abort, never silent loss.
        case c: CorruptManifest =>
          lastCorrupt = c
          Thread.sleep(math.min(200L, 4L << attempt))
      }
    }
    if (lastCorrupt != null) throw new IllegalStateException(
      s"manifest commit at $root: the tip stayed unreadable across " +
        s"$MaxCommitAttempts attempts — an in-flight publish that never " +
        "completed, or a corrupt log; refusing to compose over it", lastCorrupt)
    throw new IllegalStateException(
      s"manifest commit lost $MaxCommitAttempts races at $root — sustained contention")
  }

  /** The stored `txn-*` watermark of `root` — ONE meta read, at the tip.
    * Sound because [[metaWithTxnCarry]] carries every `txn-*` key of the
    * tip forward into every commit with max semantics: the tip's value
    * IS the max over the whole history, so scanning `versions(root)` for
    * it (O(history) meta reads per mart per maintenance window) buys
    * nothing. `None` = the mart has never recorded the key (bootstrap).
    * `tipHint` skips the log listing when the caller already holds it. */
  def txnWatermark(spark: SparkSession, root: String, txnKey: String,
      tipHint: Option[Long] = None): Option[Long] = {
    val tip = tipHint.orElse(versions(spark, root).lastOption)
    tip.filter(_ > 0).flatMap(v =>
      manifestMeta(spark, root, v).get(txnKey)).map(_.toLong)
  }

  /** txn-* watermarks survive every commit: tip's keys carry forward,
    * and a caller-supplied txn key takes the max so a replayed lower
    * batchId can never regress a watermark (see [[TxnPrefix]]). */
  private[sources] def metaWithTxnCarry(spark: SparkSession, root: String,
      tip: Long, callerMeta: Map[String, String]): Map[String, String] = {
    val tipTxn =
      if (tip == 0) Map.empty[String, String]
      else manifestMeta(spark, root, tip).filter(_._1.startsWith(TxnPrefix))
    tipTxn ++ callerMeta.map {
      case (k, v) if k.startsWith(TxnPrefix) =>
        k -> tipTxn.get(k).map(o => math.max(o.toLong, v.toLong).toString).getOrElse(v)
      case kv => kv
    }
  }

  /** Render a manifest body for `next` — the single serialization point
    * shared by [[commit]] and [[ManifestCatalog]]'s staged transaction
    * manifests (which compose at transaction time and publish later). */
  /** Row-id block allocation + line-safety validation — THE meta
    * transformation of the serialization choke point, factored so the
    * incremental compose path ([[composeTiered]]) derives meta
    * byte-identical to [[composeBody]]'s: any file of this manifest
    * without a rowbase entry gets the next seq (its rows are base +
    * row_index), rewrites pre-mark theirs `stored`, and entries for
    * files this manifest no longer names are dropped (seqs are never
    * reused, so dropping is safe). */
  private def normalizeMeta(meta0: Map[String, String],
      allFiles: Seq[String]): Map[String, String] = {
    val meta =
      if (!meta0.get(RowTrackingKey).contains("on")) meta0
      else {
        val keys = allFiles.map(f => RowBasePrefix + dvFileKey(f)).toSet
        var high = meta0.get(RowIdHighKey).map(_.toLong).getOrElse(0L)
        val fresh = allFiles.map(f => RowBasePrefix + dvFileKey(f))
          .distinct.sorted.filterNot(meta0.contains)
          .map { k => val b = high * RowIdShift; high += 1; k -> b.toString }
        meta0.filterNot(kv => kv._1.startsWith(RowBasePrefix) && !keys(kv._1)) ++
          fresh + (RowIdHighKey -> high.toString)
      }
    meta.foreach { case (k, v) =>
      require(!k.contains("=") && !(k + v).exists(c => c == '\n' || c == '\r'),
        s"manifest meta key/value must be line-safe and '='-free: $k")
    }
    meta
  }

  /** [[normalizeMeta]] specialized to the APPEND shape so the fast path
    * stays O(delta): every carried file already holds its rowbase entry
    * (each committed manifest's normalization guaranteed that), nothing
    * is dropped, so fresh row-id blocks allocate over the ADDS alone —
    * provably the same seqs the full walk would assign, because carried
    * keys fall out of its `filterNot(meta0.contains)` anyway. Line
    * safety re-validates only entries whose value CHANGED vs the base
    * (carried entries were validated when first committed). */
  private def normalizeMetaAppend(meta0: Map[String, String], adds: Seq[String],
      baseMeta: Map[String, String]): Map[String, String] = {
    val meta =
      if (!meta0.get(RowTrackingKey).contains("on")) meta0
      else {
        var high = meta0.get(RowIdHighKey).map(_.toLong).getOrElse(0L)
        val fresh = adds.map(f => RowBasePrefix + dvFileKey(f))
          .distinct.sorted.filterNot(meta0.contains)
          .map { k => val b = high * RowIdShift; high += 1; k -> b.toString }
        meta0 ++ fresh + (RowIdHighKey -> high.toString)
      }
    meta.foreach { case (k, v) =>
      if (!baseMeta.get(k).contains(v))
        require(!k.contains("=") && !(k + v).exists(c => c == '\n' || c == '\r'),
          s"manifest meta key/value must be line-safe and '='-free: $k")
    }
    meta
  }

  /** Compose a STAGED body for [[ManifestCatalog]]'s transactions: flat
    * text below the segment threshold, the two-tier pointer form above
    * it — a transaction staging a 10M-file table must not render the
    * full text its own log stopped rendering. Segment files land in the
    * TABLE's log dir (where the published pointer will resolve them);
    * until the catalog publishes they are unreferenced — exactly the
    * lost-race orphan class vacuum's grace window protects, and an
    * abandoned transaction's segments GC the same way. The same
    * known exposure as staged DATA files applies: a table vacuumed
    * between a crashed publish and the next reader's recovery can
    * reclaim what the staged body references — recovery at every
    * snapshot() closes the window. Recovery's byte-compare stays sound
    * in pointer form because every backfiller publishes the SAME staged
    * file (segment names and all); only a direct writer differs. */
  private[sources] def composeStagedStored(spark: SparkSession, root: String,
      next: Long, op: String, meta0: Map[String, String], allFiles: Seq[String],
      stats: Map[String, ManifestStats.FileStats]): String =
    if (allFiles.size < SegmentTargetSize) composeBody(next, op, meta0, allFiles, stats)
    else {
      // reuse the prior version's segments when it exists; ONLY the
      // no-prior-version case (version 1, or a vacuumed-away base —
      // surfacing as a missing-file read) may degrade to resealing from
      // scratch. Integrity failures must PROPAGATE: swallowing a
      // CorruptManifest here would mask a corrupted log behind an
      // O(files) full reseal that "works"
      val segSrc =
        if (next <= 1) None
        else (try Some(parsedAt(spark, root, next - 1))
          catch {
            case _: java.io.FileNotFoundException => None
            case e: IllegalArgumentException
                if e.getMessage != null && e.getMessage.contains("not a manifest") => None
          }).flatMap(_.segSource)
      composeSegmented(spark, root, next, op,
        stateFor(next, op, meta0, allFiles, stats, segSrc)).body
    }

  private[sources] def composeBody(next: Long, op: String,
      meta0: Map[String, String], allFiles: Seq[String],
      stats: Map[String, ManifestStats.FileStats]): String = {
    // row-id block allocation happens at the single serialization choke
    // point ([[normalizeMeta]]), so every write path — including
    // [[ManifestCatalog]]'s staged transaction bodies, which bypass
    // [[commit]] — allocates the same way.
    ComposeMeters.fullBodies.incrementAndGet()
    val meta = normalizeMeta(meta0, allFiles)
    // inline fulls carry the same integrity trailer as deltas and
    // segmented pointers (` crc=1` announced in the header), so EVERY
    // manifest this engine writes detects mid-body truncation on read —
    // a partially-visible publish can never parse as a smaller valid
    // table (the header guard in [[parseFull]] covers the
    // truncated-to-nothing case, the trailer covers everything between)
    val body = new StringBuilder(s"# graft-manifest version=$next op=$op crc=1\n")
    meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
      body.append(MetaPrefix).append(k).append('=').append(v).append('\n')
    }
    // stats ride the same publish as the file list; entries for files
    // not in this manifest (e.g. dropped by a racing overwrite the
    // retry landed on) are silently irrelevant and omitted
    allFiles.foreach { p =>
      stats.get(p).foreach { fs =>
        ComposeMeters.statsLinesSerialized.incrementAndGet()
        body.append(StatsPrefix).append(ManifestStats.serialize(p, fs)).append('\n')
      }
    }
    // table-level rollup, recomputed HERE at the single serialization
    // choke point from exactly this manifest's files — a stale rollup
    // in a carried stats map is never consulted (only real paths are)
    // and never re-published
    // the PHYSICAL schema types the rollup's columns — stats are keyed
    // by on-disk names, and on a column-mapped table the logical names
    // would miss every renamed column
    ManifestStats.rollup(allFiles, stats,
      meta.get(SchemaKey).map(j => physicalSchema(
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])))
      .foreach(r => body.append(StatsPrefix)
        .append(ManifestStats.serialize(ManifestStats.RollupKey, r)).append('\n'))
    allFiles.foreach(p => body.append(p).append('\n'))
    withIntegrityTrailer(body.toString)
  }

  /** Publish a pre-rendered body as `root`'s version `next` via an
    * atomic tmp-write + slot claim; false when the slot is already
    * taken (the caller inspects the occupant — a racing committer, or
    * a catalog recovery that already ran).
    *
    * The claim primitive is filesystem-specific: HDFS `rename` refuses
    * an existing destination atomically, but POSIX `rename(2)` — what
    * the LOCAL filesystem delegates to — OVERWRITES it, so two racers
    * passing an exists() pre-check can both "win" and the first body is
    * silently replaced (a lost commit, caught by the concurrency spec
    * battery). On local filesystems the claim is `link(2)` instead,
    * which is atomic win-or-fail; object stores need put-if-absent,
    * exactly as the Delta paper notes. */
  private[sources] def publishRaw(spark: SparkSession, root: String,
      next: Long, body: String): Boolean = {
    val f = fs(spark, root)
    f.mkdirs(new Path(s"$root/$LogDir"))
    val tmp = new Path(s"$root/$LogDir/.tmp-${UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val won = atomicClaim(f, tmp, manifestPath(root, next))
    f.delete(tmp, false) // winner: dst keeps the inode; loser: cleanup
    if (won) primeTip(root, next)
    won
  }

  /** Claim `dst` with `tmp`'s content, atomically win-or-fail even
    * against a concurrent claimer — the slot primitive of the whole
    * commit protocol (see [[publishRaw]]), routed through the
    * [[SlotClaimer]] seam: local filesystems claim with link(2), HDFS
    * with rename-refuses-dst, and object stores plug in a put-if-absent
    * arm via [[registerSlotClaimer]]. The caller deletes `tmp`
    * afterwards in every outcome. */
  private[sources] def atomicClaim(f: FileSystem,
      tmp: Path, dst: Path): Boolean =
    claimerFor(f).claim(f, tmp, dst)

  /** Custom claim arms by URI scheme (e.g. "s3a"), consulted before the
    * built-in local/HDFS dispatch. An S3-family deployment registers a
    * conditional-put arm here once per JVM. */
  private val slotClaimers =
    new java.util.concurrent.ConcurrentHashMap[String, SlotClaimer]()

  /** Install the slot-claim arm for every filesystem whose URI scheme is
    * `scheme` — the object-store seam of the commit protocol. The arm
    * MUST be atomic win-or-fail against concurrent claimers of the same
    * `dst` (put-if-absent / HTTP `If-None-Match: *`); a non-atomic arm
    * reintroduces the lost-update race the concurrency battery caught
    * on POSIX rename. */
  def registerSlotClaimer(scheme: String, claimer: SlotClaimer): Unit = {
    slotClaimers.put(scheme.toLowerCase(java.util.Locale.ROOT), claimer)
    ()
  }

  /** Remove a registered arm (the scheme falls back to the built-in
    * dispatch) — contract tests swap a fake in and restore. */
  def unregisterSlotClaimer(scheme: String): Unit = {
    slotClaimers.remove(scheme.toLowerCase(java.util.Locale.ROOT))
    ()
  }

  private def claimerFor(f: FileSystem): SlotClaimer = {
    val custom = Option(f.getUri).flatMap(u => Option(u.getScheme))
      .flatMap(s => Option(slotClaimers.get(s.toLowerCase(java.util.Locale.ROOT))))
    custom.getOrElse(f match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem => LocalLinkClaimer
      case _ => RenameRefusesDstClaimer
    })
  }

  /** Local-filesystem claim: `link(2)` (`Files.createLink`) is atomic
    * win-or-fail — POSIX `rename(2)` silently OVERWRITES an existing
    * destination, the lost-update race the concurrency battery caught.
    * Filesystems that refuse hard links (some overlay/network mounts
    * surface UnsupportedOperationException or a generic
    * FileSystemException) fall back to the exists+rename claim rather
    * than failing every commit outright — that fallback is NOT atomic
    * against a concurrent claimer, but on a mount without link(2) it is
    * the strongest primitive available and matches the pre-link
    * behavior. Winners keep the dst inode; the local claim leaves no
    * Hadoop `.crc` sidecar (created via link, not FS create), so reads
    * skip checksum verification — fine for the manifest's own
    * self-checks. */
  private object LocalLinkClaimer extends SlotClaimer {
    def claim(f: FileSystem, tmp: Path, dst: Path): Boolean =
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        // lost the race — the slot is taken (must precede the
        // FileSystemException arm below, which it extends)
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          RenameRefusesDstClaimer.claim(f, tmp, dst)
      }
  }

  /** HDFS-family claim: `FileSystem.rename` REFUSES an existing
    * destination atomically on HDFS, so exists+rename is win-or-fail
    * there (the exists() is only a cheap pre-check). Object stores'
    * rename is copy+delete and NOT atomic — they must register a
    * put-if-absent arm instead of falling through to this one. */
  private object RenameRefusesDstClaimer extends SlotClaimer {
    def claim(f: FileSystem, tmp: Path, dst: Path): Boolean =
      !f.exists(dst) && f.rename(tmp, dst)
  }

  /** The raw STORED text of `version`'s manifest (full or delta form,
    * un-resolved) — [[ManifestCatalog]]'s recovery compares staged
    * bodies byte-for-byte against published occupants, and staged
    * bodies are always the full form ([[composeBody]]), so an occupant
    * in delta form is by construction a direct write racing the
    * catalog. */
  private[sources] def rawManifestText(spark: SparkSession, root: String,
      version: Long): String = rawText(spark, root, version)

  /** Create the table (version 1). Fails if a log already exists.
    * `statsColumns` opts files into per-file min/max/nullCount stats for
    * [[readPruned]] file skipping (one extra aggregation pass over the
    * staged batch — see [[ManifestStats.collect]]). */
  def create(spark: SparkSession, root: String, df: DataFrame,
      meta: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    require(versions(spark, root).isEmpty, s"$root already has a manifest log")
    df.schema.fieldNames.foreach(c => require(!c.startsWith(DroppedPrefix),
      s"column '$c' uses the reserved drop-tombstone prefix"))
    val schemaJson = df.schema.json
    val staged = stage(spark, root, df)
    val stats = ManifestStats.collect(spark, root, staged, statsColumns, bloomColumns)
    commit(spark, root, "create", staged, _ => Seq.empty,
      _ => meta + (SchemaKey -> schemaJson), _ => stats)
  }

  /** Append rows (new files beside every file the tip names). The batch
    * schema may WIDEN the table (new columns append; common columns must
    * keep their type — dbt on_schema_change: append_new_columns); older
    * files read the new columns as NULL via the manifest schema. */
  def append(spark: SparkSession, root: String, df: DataFrame,
      meta: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    val (nf, b, m, st) = prepareAppend(spark, root, df, meta, statsColumns, bloomColumns)
    commit(spark, root, "append", nf, b, m, st, appendShaped = true)
  }

  /** Everything [[append]] does BEFORE the publish — data staged, checks
    * and generated columns enforced, closures over the base version
    * produced — so [[ManifestCatalog.transact]] can stage the same
    * append into a transaction manifest instead of committing it. */
  private[sources] def prepareAppend(spark: SparkSession, root: String, df: DataFrame,
      meta: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): (Seq[String], Long => Seq[String],
        Long => Map[String, String], Long => Map[String, ManifestStats.FileStats]) = {
    val batchSchema = df.schema
    batchSchema.fieldNames.foreach(c => require(!c.startsWith(DroppedPrefix),
      s"column '$c' uses the reserved drop-tombstone prefix"))
    val tipV = versions(spark, root).lastOption
    val tipSchema = tipV.flatMap(schemaOf(spark, root, _))
    // batches arrive under LOGICAL names and stage under PHYSICAL ones
    // (files stay homogeneous across renames); a genuinely-new column
    // may not shadow a renamed column's on-disk name — or a DROPPED
    // column's tombstoned slot, which would resurrect dead bytes in
    // every pre-drop file — or old files would ambiguously serve both
    tipSchema.filter(hasMapping).foreach { ts =>
      val physTaken = ts.fields.map(physName).toSet
      batchSchema.fieldNames.filterNot(ts.fieldNames.contains).foreach(c =>
        require(!physTaken.contains(c),
          s"new column '$c' collides with the physical name of a renamed or dropped column"))
    }
    // generated columns first (a CHECK may reference one the batch omits)
    val genDf = enforceGenerated(spark, root, tipV, df, "append")
    enforceChecks(spark, root, tipV, genDf, "append")
    val physDf = toPhysical(genDf, tipSchema)
    val staged = stage(spark, root, physDf)
    // a transform-clustered table keeps its pruning power across appends:
    // new files get virtual transform stats in the same collect pass (the
    // batch isn't re-clustered — its files may span buckets, which only
    // widens their virtual range, never unsounds it), and the transform
    // spec carries into the new manifest
    val tipTransforms = tipV
      .map(transformsOf(spark, root, _)).getOrElse(Nil)
      .filter(t => physDf.columns.contains(t.sourceCol))
    val newStats = ManifestStats.collect(spark, root, staged,
      toPhysicalCols(tipSchema, statsColumns), toPhysicalCols(tipSchema, bloomColumns),
      virtualCols = tipTransforms.map(t => t.name -> t.expr))
    (staged,
      tip => if (tip == 0) Seq.empty else manifestFiles(spark, root, tip),
      tip => {
        val merged =
          if (tip == 0) batchSchema
          else schemaOf(spark, root, tip)
            .map(widenSchema(_, batchSchema)).getOrElse(batchSchema)
        val carried = if (tip == 0) Map.empty[String, String]
          else manifestMeta(spark, root, tip).filter(kv => carriedMetaKey(kv._1))
        carried ++ meta + (SchemaKey -> merged.json)
      },
      // carried-over files keep the stats the tip committed for them —
      // appends never lose skipping power on old data
      tip => (if (tip == 0) Map.empty[String, ManifestStats.FileStats]
              else fileStats(spark, root, tip)) ++ newStats)
  }

  /** Idempotent append — the exactly-once streaming-sink contract (the
    * published Structured Streaming foreachBatch pattern; Delta's `txn`
    * action): each commit records its (writer, batchId) in the manifest
    * metadata, and a REPLAYED batch — batchId at or below the writer's
    * high-water mark anywhere in the log — is acknowledged without
    * writing anything. Re-delivery after a sink crash (foreachBatch's
    * at-least-once) therefore lands each batch exactly once; the
    * dedup decision rides the same atomic publish as the data, so there
    * is no window where the batch is written but not recorded.
    *
    * One active instance per writerId is the caller's contract (a
    * Structured Streaming query guarantees this for its own sink);
    * DIFFERENT writers interleave freely through the normal commit race.
    * The high-water mark is ONE tip meta read ([[txnWatermark]]) — the
    * txn-* carry makes the tip the history's max. */
  def appendIdempotent(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      writerId: String,
      batchId: Long,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    val key = s"txn-$writerId"
    val vs = versions(spark, root)
    // ONE tip meta read: the txn-* watermark carries forward max-wins
    // through every commit ([[metaWithTxnCarry]]), so the tip holds the
    // history's high-water mark — the per-batch replay check must not
    // scan O(versions) metas (it runs on every streaming commit)
    val seen = txnWatermark(spark, root, key, tipHint = vs.lastOption)
    if (seen.exists(batchId <= _)) vs.max // replay: already landed
    else {
      val meta = Map(key -> batchId.toString)
      if (vs.isEmpty) create(spark, root, df, meta, statsColumns, bloomColumns)
      else append(spark, root, df, meta, statsColumns, bloomColumns)
    }
  }

  /** Partition-spec EVOLUTION (Iceberg's headline layout feature —
    * `ALTER TABLE ... ADD PARTITION FIELD`): add `transform` to the
    * committed spec WITHOUT rewriting a byte — one metadata commit.
    * Iceberg's rule "a spec applies to the files written under it"
    * falls out of the keep-bias architecture for free: files already on
    * disk carry no virtual stats for the new transform and simply stay
    * unprunable on that dimension (never wrong), while every subsequent
    * append — and any later OPTIMIZE — collects virtual stats for ALL
    * committed transforms, so new data prunes on the new dimension
    * immediately and the old transform keeps pruning old files the
    * whole time. The caller names the source column LOGICALLY;
    * [[optimizeClusterBy]] by contrast re-clusters the data and RESETS
    * the spec to its single transform (the "change the default spec"
    * operation). */
  def evolvePartitionSpec(spark: SparkSession, root: String,
      transform: PartitionTransform): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    val tipSchema = schemaOf(spark, root, v0)
    val pt = transform.withSourceCol(
      toPhysicalCols(tipSchema, Seq(transform.sourceCol)).head)
    tipSchema.foreach { s =>
      require(physicalSchema(visibleSchema(s)).fieldNames.contains(pt.sourceCol),
        s"transform column '${transform.sourceCol}' not in table schema " +
          visibleSchema(s).fieldNames.mkString(", "))
    }
    val cur = transformsOf(spark, root, v0)
    require(!cur.exists(_.name == pt.name),
      s"transform '${pt.name}' is already part of the spec")
    val newSpec = (cur :+ pt).map(_.serialized).mkString(";")
    commit(spark, root, "evolve_spec", v0, Seq.empty, manifestFiles(spark, root, v0),
      manifestMeta(spark, root, v0) + (TransformsKey -> newSpec),
      fileStats(spark, root, v0))
  }

  /** `ALTER TABLE ... DROP PARTITION FIELD` — the inverse of
    * [[evolvePartitionSpec]], one metadata commit: the transform leaves
    * the committed spec, so predicates stop translating through it and
    * the per-file virtual stats it left behind simply go unconsulted
    * (keep-biased — reads stay correct, that dimension just stops
    * pruning, exactly Iceberg's drop semantics). Data files untouched;
    * re-adding the same transform later resumes pruning on every file
    * that still carries its virtual stats. */
  def dropPartitionField(spark: SparkSession, root: String,
      transformName: String): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    val cur = transformsOf(spark, root, v0)
    require(cur.exists(_.name == transformName),
      s"no transform '$transformName' in the spec (have ${cur.map(_.name).mkString(", ")})")
    val remaining = cur.filterNot(_.name == transformName)
    val base = manifestMeta(spark, root, v0)
    commit(spark, root, "drop_partition_field", v0, Seq.empty, manifestFiles(spark, root, v0),
      if (remaining.isEmpty) base - TransformsKey
      else base + (TransformsKey -> remaining.map(_.serialized).mkString(";")),
      fileStats(spark, root, v0))
  }

  /** Idempotent upsert — [[appendIdempotent]]'s exactly-once contract
    * applied to [[merge]]: the streaming-CDC sink shape (a foreachBatch
    * body that MERGES each micro-batch of change rows by key instead of
    * appending them). The (writer, batchId) watermark rides the same
    * atomic commit as the rewritten files, so a crash between merge and
    * acknowledgment re-delivers the batch and it lands exactly once —
    * an upsert replay would otherwise be silently "idempotent-looking"
    * but re-rewrite files and re-fire CDF consumers. Same single-writer
    * contract and O(log) watermark scan as [[appendIdempotent]]; the
    * table must already exist (CDC applies changes to a base). */
  def mergeIdempotent(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      keyCol: String,
      writerId: String,
      batchId: Long,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    val key = s"txn-$writerId"
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir) — create the base first")
    // tip-only replay check, like [[appendIdempotent]]'s
    val seen = txnWatermark(spark, root, key, tipHint = vs.lastOption)
    if (seen.exists(batchId <= _)) vs.max // replay: already landed
    else merge(spark, root, df, keyCol,
      statsColumns = statsColumns, bloomColumns = bloomColumns,
      meta = Map(key -> batchId.toString))._1
  }

  /** Apply one keyed CDC batch — rows tagged `_change_type` ∈
    * ('insert' | 'delete') by key, the [[readChanges]] /
    * change-feed-source shape — in ONE atomic commit: delete keys land
    * as positions in the cumulative deletion vector (a merge-on-read
    * delete — ZERO data files rewritten), insert rows stage as appended
    * files, and the (writer, batchId) watermark rides the same publish.
    * The exactly-once MIRROR-maintenance sink: compose with the
    * delete-aware streaming source and a downstream table tracks an
    * upstream MOR table including its deletes, where the append-only
    * sink ([[appendIdempotent]]) would refuse.
    *
    * Semantics: deletes bind to PRE-batch rows only (positions are
    * computed over the files the planned tip names — the staged inserts
    * are not among them), so a key deleted and re-inserted in one batch
    * nets to the inserted row — the CDC apply order. Delete keys that
    * match nothing (or only already-deleted positions) are a no-op; a
    * batch with no rows still commits the watermark, so replay detection
    * never regresses. Insert rows must carry the table schema
    * (column-mapped tables accept LOGICAL names, like every write path).
    *
    * Cost at 100 TB: delete-key pruning reuses [[merge]]'s bounded
    * key-collect + stats/bloom prune (files provably clear of every
    * delete key are never read; past `maxKeys` the position scan falls
    * back to all files — correct, just not incremental); the vector
    * write is sidecar-sized; inserts are an ordinary append. Same
    * single-writer contract as [[appendIdempotent]]; the commit is
    * planned like [[merge]]'s, and its abort re-plans (below). */
  def applyChangesMor(
      spark: SparkSession,
      root: String,
      feed: DataFrame,
      keyCol: String,
      writerId: String,
      batchId: Long,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      maxKeys: Int = 1000000,
      extraMeta: Map[String, String] = Map.empty,
      feedTags: Option[Set[String]] = None): Long = {
    // caller metadata rides the SAME atomic publish as the batch (a
    // maintainer's source cursors can never be newer or older than the
    // rows they describe). `txn-*` keys are allowed and get the
    // max-wins carry through EVERY subsequent commit — the right home
    // for monotone cursors that must survive an unrelated OPTIMIZE on
    // the maintained table; they must be numeric for the max. Other
    // reserved keys stay the protocol's.
    extraMeta.foreach { case (k, v) =>
      if (k.startsWith(TxnPrefix)) require(scala.util.Try(v.toLong).isSuccess,
        s"applyChangesMor extraMeta txn key '$k' needs a numeric value (max-wins carry), got '$v'")
      else require(k != SchemaKey && k != DvKey && !carriedMetaKey(k),
        s"applyChangesMor extraMeta key '$k' collides with a reserved manifest key")
    }
    // SELF-HEAL on the CAS abort: a streaming CDC sink races periodic
    // maintenance (OPTIMIZE, another writer's commit) as a matter of
    // course, and applying is idempotent by watermark — each re-plan
    // re-reads the vector, the file set, and the replay watermark, so a
    // batch another attempt already landed no-ops
    replanOnConflict(applyChangesMorOnce(spark, root, feed, keyCol,
      writerId, batchId, statsColumns, bloomColumns, maxKeys, extraMeta, feedTags))
  }

  /** Run `once` — an op that plans at the tip and commits PLANNED — and
    * re-run it from scratch when a racing commit aborts it with
    * [[ConcurrentCommit]], up to `attempts` runs in all; sustained
    * contention surfaces the last abort. Sound only for ops whose
    * re-plan at the new tip is always equivalent (declarative or
    * watermark-idempotent: [[applyChangesMor]], [[deleteMor]]). The
    * abort is matched by type; message text is never parsed. */
  private def replanOnConflict[T](once: => T, attempts: Int = 4): T =
    try once
    catch { case _: ConcurrentCommit if attempts > 1 => replanOnConflict(once, attempts - 1) }

  private def applyChangesMorOnce(
      spark: SparkSession,
      root: String,
      feed: DataFrame,
      keyCol: String,
      writerId: String,
      batchId: Long,
      statsColumns: Seq[String],
      bloomColumns: Seq[String],
      maxKeys: Int,
      extraMeta: Map[String, String],
      feedTags: Option[Set[String]]): Long = {
    import org.apache.spark.sql.functions.broadcast
    val ct = "_change_type"
    require(feed.columns.contains(ct),
      s"applyChangesMor needs a '$ct' column tagging each row 'insert' or 'delete'")
    val key = s"$TxnPrefix$writerId"
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir) — create the base first")
    // tip-only replay check (the txn-* carry makes the tip the max) —
    // this runs on EVERY applied batch, so an O(versions) meta scan here
    // would grow each streaming commit with the mart's history
    val seen = txnWatermark(spark, root, key, tipHint = vs.lastOption)
    if (seen.exists(batchId <= _)) return vs.max // replay: already landed
    val v0 = vs.max
    val planned = manifestFiles(spark, root, v0)
    val tableSchema = schemaOf(spark, root, v0)
    // the batch is consumed up to FOUR times below (tag discovery,
    // delete-key collect, the insert-side stage, plus the generated/
    // check aggregates when declared) — and a change-feed batch is a
    // scan + positional semi-joins, so each pass re-runs that pipeline.
    // Persist it once per attempt (batch-sized by contract: one
    // micro-batch of changes, the thing this call stages to disk
    // anyway), release on every exit path. Measured on the st10-14
    // mirror drains: the apply phase is the dominant cost and the feed
    // recomputation was most of it.
    val fd = feed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // an unknown tag must fail loudly, not silently drop the row — a
    // feed that speaks a richer dialect (update_preimage, ...) needs
    // translating, not truncating
    // a caller that CONSTRUCTED the feed (a maintainer unioning its own
    // literal-tagged branches) declares the tag set and skips the
    // discovery job entirely; an undeclared feed (CDC from elsewhere)
    // pays ONE groupBy-count pass whose per-tag counts then make two
    // MORE per-batch jobs conditional (guide §2.4 — don't run a job to
    // learn what a finished job already told you): zero 'delete' rows
    // skips the delete-key collect, zero 'insert' rows skips the
    // insert-side isEmpty probe — an initial-load or delete-only batch
    // drops from four feed passes to two. The collect is bounded: only
    // four tags are legal, so a fifth row already proves the feed bad.
    val tagCounts: Option[Map[Any, Long]] =
      if (feedTags.isDefined) None
      else Some(fd.groupBy(col(ct)).agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__n")).limit(5).collect()
        .map(r => (r.get(0), r.getLong(1))).toMap)
    val tags: Set[Any] = feedTags.map(_.map(t => t: Any)).getOrElse(tagCounts.get.keySet)
    require(tags.subsetOf(Set[Any]("insert", "delete", "refresh", "truncate")),
      s"applyChangesMor understands '$ct' tags 'insert', 'delete', 'refresh', and 'truncate' only — " +
        s"got ${tags.mkString(", ")}")
    // a FULL-REFRESH batch (what the change-feed source emits under
    // onRefusal=refresh when a window is not delta-expressible): the
    // 'refresh'-tagged rows ARE the whole new state — one atomic
    // overwrite carrying the same exactly-once watermark, after which
    // incremental windows resume from this batch's version. The source
    // always includes one all-NULL 'truncate' sentinel row so a
    // refresh-to-EMPTY state is still recognizable here (zero 'refresh'
    // rows + the sentinel ⇒ truncate the mirror) — without it an empty
    // refresh batch would fall through to the incremental path, commit
    // the watermark, and silently leave stale rows behind.
    if (tags.contains("refresh") || tags.contains("truncate")) {
      require(tags.subsetOf(Set[Any]("refresh", "truncate")),
        "a refresh batch must be refresh-only (the rows replace the whole table)")
      val (staged, base, metaAt, statsAt) = prepareOverwrite(spark, root,
        fd.filter(col(ct) === "refresh").drop(ct),
        extraMeta + (key -> batchId.toString), statsColumns, bloomColumns)
      return commit(spark, root, "apply-refresh", staged, base, metaAt, statsAt)
    }
    val inserts = fd.filter(col(ct) === "insert").drop(ct)
    val delKeys = fd.filter(col(ct) === "delete").select(col(keyCol)).distinct()
    // -------- delete side: grow the cumulative vector (MOR) ----------
    // the tag counts (when discovered above) prove an insert-only batch
    // has zero delete keys — skip the collect job outright then
    val collected =
      if (tagCounts.exists(_.getOrElse("delete", 0L) == 0L))
        Array.empty[org.apache.spark.sql.Row]
      else delKeys.limit(maxKeys + 1).collect()
    require(collected.forall(_.get(0) != null), s"delete keys ($keyCol) must be non-null")
    val dvRel: Option[String] =
      if (collected.isEmpty) None
      else {
        val affected =
          if (collected.length > maxKeys) planned
          else pruneFiles(spark, root,
            col(keyCol).isin(collected.map(_.get(0)).toIndexedSeq: _*), Some(v0))._1
        val newlyDeleted =
          if (affected.isEmpty) emptyDvFrame(spark)
          else {
            val pf = readFilesWithPos(spark, root, tableSchema, affected)
            // SEMI join: hint broadcast only when the key frame is KNOWN
            // batch-sized (≤ maxKeys, the pruning threshold). Above it
            // the batch is unbounded — a forced hint would pin a
            // batch-proportional broadcast AQE can't demote (100M keys ≈
            // GBs to every executor); let AQE pick the strategy there.
            val keySide =
              if (collected.length <= maxKeys) broadcast(delKeys) else delKeys
            pf.join(keySide, pf(keyCol) === delKeys(keyCol), "left_semi")
              .select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
          }
        val allRows = deletionVector(spark, root, v0)
          .map(p => dvFrame(spark, root, p)).getOrElse(emptyDvFrame(spark))
          .unionByName(newlyDeleted).distinct()
        val rel = s"$DvDir/dv-${UUID.randomUUID()}"
        allRows.write.parquet(s"$root/$rel")
        Some(rel)
      }
    // -------- insert side: an ordinary append of the batch ----------
    val genDf = enforceGenerated(spark, root, Some(v0), inserts, "apply-changes")
    tableSchema.foreach { ts =>
      val visible = visibleSchema(ts)
      require(visible.fields.map(f => (f.name, f.dataType)).toSet ==
        genDf.schema.fields.map(f => (f.name, f.dataType)).toSet,
        s"apply-changes insert schema ${genDf.schema.simpleString} does not match table ${visible.simpleString}")
    }
    enforceChecks(spark, root, Some(v0), genDf, "apply-changes")
    // zero 'insert' rows (proved by the tag counts) skips the isEmpty
    // probe — a delete-only batch stages nothing without another pass
    val insertsEmpty = tagCounts
      .map(_.getOrElse("insert", 0L) == 0L)
      .getOrElse(genDf.isEmpty)
    val staged =
      if (insertsEmpty) Seq.empty[String]
      else stage(spark, root, toPhysical(genDf, tableSchema))
    val tipTransforms = transformsOf(spark, root, v0)
    val newStats = ManifestStats.collect(spark, root, staged,
      toPhysicalCols(tableSchema, statsColumns), toPhysicalCols(tableSchema, bloomColumns),
      virtualCols = tipTransforms.map(t => t.name -> t.expr))
    // -------- ONE publish: files + vector + watermark together ------
    commit(spark, root, "apply-changes", v0, staged, planned,
      manifestMeta(spark, root, v0).filter(kv => carriedMetaKey(kv._1)) ++
        tableSchema.map(s => Map(SchemaKey -> s.json)).getOrElse(Map.empty) ++
        dvRel.map(r => Map(DvKey -> r)).getOrElse(Map.empty) ++
        extraMeta + (key -> batchId.toString),
      fileStats(spark, root, v0) ++ newStats)
    } finally fd.unpersist(blocking = false)
  }

  /** Replace the table content (the tip's files drop out of the new
    * manifest; they stay on disk for time travel until [[vacuum]]). */
  def overwrite(spark: SparkSession, root: String, df: DataFrame,
      meta: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    val (nf, b, m, st) = prepareOverwrite(spark, root, df, meta, statsColumns, bloomColumns)
    commit(spark, root, "overwrite", nf, b, m, st)
  }

  /** [[overwrite]]'s prepare phase (see [[prepareAppend]]). */
  private[sources] def prepareOverwrite(spark: SparkSession, root: String, df: DataFrame,
      meta: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): (Seq[String], Long => Seq[String],
        Long => Map[String, String], Long => Map[String, ManifestStats.FileStats]) = {
    val tipV = versions(spark, root).lastOption
    val genDf = enforceGenerated(spark, root, tipV, df, "overwrite")
    val schemaJson = genDf.schema.json
    enforceChecks(spark, root, tipV, genDf, "overwrite")
    val staged = stage(spark, root, genDf)
    val stats = ManifestStats.collect(spark, root, staged, statsColumns, bloomColumns)
    (staged, _ => Seq.empty,
      // row tracking survives an overwrite: the content is all new, so
      // every staged file just gets a fresh id block (old ids retire)
      tip => (if (tip == 0) Map.empty[String, String]
              else manifestMeta(spark, root, tip).filter(k =>
                k._1.startsWith(CheckPrefix) || k._1.startsWith(GenPrefix) ||
                  rowTrackingMeta(k._1))) ++
        meta + (SchemaKey -> schemaJson), _ => stats)
  }

  /** OPTIMIZE: rewrite the current content into ceil(bytes/target) files
    * and commit the rewrite as a new version. Relational content is
    * untouched; readers on the old version keep their exact file set.
    * The committed partition spec survives and its virtual stats are
    * re-collected. A commit landing between plan and publish aborts with
    * [[ConcurrentCommit]] (re-run), as in [[compactSmall]] — replacing
    * the tip's files would drop the racer's rows.
    * Returns (newVersion, dataFilesAfter). */
  def compact(spark: SparkSession, root: String, targetFileBytes: Long,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): (Long, Int) = {
    require(targetFileBytes > 0, "compact requires a positive target file size")
    rewriteAll(spark, root, "compact", targetFileBytes, statsColumns, bloomColumns,
      recluster = None)(_.repartition(_))
  }

  /** The full-rewrite OPTIMIZE shared by [[compact]], [[optimizeZOrder]]
    * and [[optimizeClusterBy]]: plan at the tip v0, read all of v0
    * through [[readForRewrite]] (vector applied, ids materialized when
    * tracked), lay it out into ceil(bytes/target) files with `layout`
    * (logical names in and out), collect `statsColumns`/`bloomColumns`
    * plus the virtual stats of the spec the new version commits, and
    * publish PLANNED at v0. The spec is `recluster` alone when given
    * (source column named logically, committed physically), else v0's
    * spec carried. CHECK constraints, generated columns and row-tracking
    * state carry; the vector drops (it is applied). */
  private def rewriteAll(spark: SparkSession, root: String, op: String,
      targetFileBytes: Long, statsColumns: Seq[String], bloomColumns: Seq[String],
      recluster: Option[PartitionTransform])(
      layout: (DataFrame, Int) => DataFrame): (Long, Int) = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table")
    val v0 = vs.max
    val files = manifestFiles(spark, root, v0)
    val f = fs(spark, root)
    val totalBytes = files.map(p => f.getFileStatus(new Path(dataPath(root, p))).getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val schema = schemaOf(spark, root, v0)
    val tracked = rowTrackingEnabled(spark, root, v0)
    val current = readForRewrite(spark, root, v0, files, tracked)
    recluster.foreach(t => require(current.columns.contains(t.sourceCol),
      s"transform column '${t.sourceCol}' not in table schema ${current.columns.mkString(",")}"))
    val pt = recluster.map(t => t.withSourceCol(toPhysicalCols(schema, Seq(t.sourceCol)).head))
    val spec = pt.fold(transformsOf(spark, root, v0))(Seq(_))
    val staged = stage(spark, root, toPhysical(layout(current, nFiles), schema))
    val stats = ManifestStats.collect(spark, root, staged,
      toPhysicalCols(schema, statsColumns), toPhysicalCols(schema, bloomColumns),
      virtualCols = spec.map(t => t.name -> t.expr))
    val meta = manifestMeta(spark, root, v0).filter(k =>
      (pt.isEmpty && k._1 == TransformsKey) ||
        k._1.startsWith(CheckPrefix) || k._1.startsWith(GenPrefix) || rowTrackingMeta(k._1)) ++
      storedMarks(staged, tracked) ++ pt.map(t => TransformsKey -> t.serialized) +
      (SchemaKey -> schema.map(_.json).getOrElse(current.schema.json))
    (commit(spark, root, op, v0, staged, Seq.empty, meta, stats), staged.size)
  }

  /** Rewrite files that carry materialized row ids declare it in their
    * manifest entries, so readers take [[RowIdCol]] instead of
    * `base + row_index`. */
  private def storedMarks(staged: Seq[String], tracked: Boolean): Map[String, String] =
    if (!tracked) Map.empty
    else staged.map(f => RowBasePrefix + dvFileKey(f) -> RowBaseStored).toMap

  /** The input of a planned rewrite: `paths` as of `v0` with v0's
    * deletion vector applied (a rewrite never resurrects a MOR-deleted
    * row) and, when `tracked`, each row's id materialized as
    * [[RowIdCol]] so the rewritten files keep it. Shared by [[merge]],
    * [[delete]], [[compactSmall]], [[purgeDeletes]] and the full-rewrite
    * OPTIMIZEs ([[rewriteAll]]). */
  private def readForRewrite(spark: SparkSession, root: String, v0: Long,
      paths: Seq[String], tracked: Boolean): DataFrame =
    if (tracked)
      readFilesWithRowIdsApplied(spark, root, v0, paths).withColumnRenamed("_row_id", RowIdCol)
    else if (paths.isEmpty) read(spark, root, Some(v0)).limit(0)
    else readFiles(spark, root, schemaOf(spark, root, v0), paths, deletionVector(spark, root, v0))

  /** Bin-packing OPTIMIZE — the shape Delta's `OPTIMIZE` actually runs,
    * where [[compact]] is the full rewrite: rewrite ONLY the files
    * smaller than `minFileBytes` (the streaming-ingest small-file tail)
    * into ~ceil(bytes/target) packed files, carrying every right-sized
    * file byte-identical WITH its committed stats. On a 100 TB table fed
    * by micro-batches this is the difference between a usable and an
    * unusable maintenance op: the tail is packed, the petabytes of
    * already-right-sized data are never even read.
    *
    * Files the current deletion vector references join the rewrite set
    * regardless of size (they are read vector-applied, so this op
    * doubles as the targeted REORG [[purgeDeletes]] is), and the vector
    * key drops — afterwards the table is pure files with no small tail.
    * Id-preserving under row tracking ([[enableRowTracking]]): rewritten
    * rows keep their ids via the materialized column, so the change-feed
    * walk serves this commit as an empty delta too. No-op (returns the
    * tip) when nothing qualifies. Same concurrency abort as [[merge]]. */
  def compactSmall(spark: SparkSession, root: String, minFileBytes: Long,
      targetFileBytes: Long,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): (Long, MergeStats) = {
    require(minFileBytes > 0 && targetFileBytes > 0,
      "compactSmall requires positive size thresholds")
    val f = fs(spark, root)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    val planned = manifestFiles(spark, root, v0)
    val tableSchema = schemaOf(spark, root, v0)
    val tracked = rowTrackingEnabled(spark, root, v0)
    val dvKeys = dvFiles(spark, root, deletionVector(spark, root, v0))
    val sizes = planned.map(p =>
      p -> f.getFileStatus(new Path(dataPath(root, p))).getLen).toMap
    val (affected, untouched) = planned.partition(p =>
      sizes(p) < minFileBytes || dvKeys.contains(dvFileKey(p)))
    if (affected.isEmpty) return (v0, MergeStats(0, untouched.size, 0))
    val nFiles = math.max(1L,
      (affected.map(sizes).sum + targetFileBytes - 1) / targetFileBytes).toInt
    val staged = stage(spark, root,
      toPhysical(readForRewrite(spark, root, v0, affected, tracked), tableSchema)
        .repartition(nFiles))
    val tipTransforms = transformsOf(spark, root, v0)
    val newStats = ManifestStats.collect(spark, root, staged,
      toPhysicalCols(tableSchema, statsColumns), toPhysicalCols(tableSchema, bloomColumns),
      virtualCols = tipTransforms.map(t => t.name -> t.expr))
    val version = commit(spark, root, "compact-small", v0, staged, untouched,
      manifestMeta(spark, root, v0)
        .filter(kv => carriedMetaKey(kv._1) && kv._1 != DvKey) ++
        storedMarks(staged, tracked) ++
        tableSchema.map(s => Map(SchemaKey -> s.json)).getOrElse(Map.empty),
      fileStats(spark, root, v0) ++ newStats)
    (version, MergeStats(affected.size, untouched.size, staged.size))
  }

  /** Join-time file skipping — the dynamic-partition-pruning idea
    * applied to the manifest (Spark's DPP prunes directory partitions
    * off a dimension filter; this prunes FILES off the dimension's
    * actual join keys, using the same committed ranges and blooms as
    * [[readPruned]]): collect the small side's distinct join keys
    * (bounded by `maxKeys` — the same smallness bar a broadcast join
    * already imposes on that side), drop every fact file whose stats
    * prove it holds none of them, and return the pruned fact table for
    * the caller's join. Exceeding the cap falls back to the full read.
    * SOUND for joins that discard non-matching fact rows — inner, left
    * semi, left anti FROM the dimension — because dropped files hold
    * only rows that match no key; a fact-side OUTER join that keeps
    * unmatched fact rows must read the full table instead.
    *
    * At 100 TB this is the standard star-schema win: a dimension filter
    * that keeps 50 customers should not scan every fact file, and with
    * the fact table hash- or range-clustered on the key plus blooms
    * committed, it doesn't. */
  def readPrunedByKeys(
      spark: SparkSession,
      root: String,
      keyColumn: String,
      keys: DataFrame,
      maxKeys: Int = 100000,
      version: Option[Long] = None,
      keysDistinct: Boolean = false): DataFrame = {
    require(keys.schema.fields.length == 1,
      s"keys frame must have exactly the join-key column, got ${keys.columns.mkString(",")}")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in log (have ${vs.mkString(",")})")
    // cap + 1 bounds the collect: one extra row is enough to detect
    // overflow. keysDistinct skips the dedup shuffle when the caller's
    // frame is unique by construction (a groupBy output, a distinct it
    // already paid for) — the values land in one IN predicate, so
    // duplicates only cost work, never correctness
    val collected =
      (if (keysDistinct) keys else keys.distinct()).limit(maxKeys + 1).collect()
    if (collected.length > maxKeys) return read(spark, root, Some(v))
    val keyCol = org.apache.spark.sql.functions.col(keyColumn)
    val values = collected.map(_.get(0)).filter(_ != null)
    if (values.isEmpty) return read(spark, root, Some(v)).limit(0)
    // the key set becomes one big IN predicate over the stats layer —
    // ranges bound it, blooms test each member on exact-type layouts.
    // FILE-level pruning only: kept files are returned whole, the
    // caller's join does the exact matching
    val inPred = keyCol.isin(values.toIndexedSeq: _*)
    // cold fast path first: a dimension probe on an un-resident fact
    // loads only the segments whose rollup admits some key
    prunedColdPlan(spark, root, v, inPred) match {
      case Some((kept, schema, dvRel)) => readFiles(spark, root, schema, kept, dvRel)
      case None =>
        val (kept, _, _) = pruneFiles(spark, root, inPred, Some(v))
        if (kept.isEmpty) read(spark, root, Some(v)).limit(0)
        else readFiles(spark, root, schemaOf(spark, root, v), kept,
          deletionVector(spark, root, v))
    }
  }

  /** What a [[merge]] touched: rewritten vs carried-unchanged file counts
    * (the "minority rewrite" claim, observable). */
  final case class MergeStats(filesRewritten: Int, filesUntouched: Int, newFiles: Int)

  /** Copy-on-write MERGE — upsert `source` into the table on `keyCol`
    * (WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *, the standard
    * whole-row upsert): a target row whose key appears in `source` is
    * replaced by the source row; source rows with new keys insert; all
    * other target rows are untouched.
    *
    * The lakehouse part is WHICH files rewrite: the source's distinct
    * keys become one IN predicate over the committed per-file stats and
    * blooms ([[pruneFiles]] — same machinery as [[readPrunedByKeys]]),
    * and every file that provably holds none of the keys is CARRIED into
    * the new version byte-identical, keeping its committed stats. Only
    * the affected files are read, anti-joined against the source keys,
    * unioned with the batch, and staged as replacements — on a key- or
    * range-clustered table a small batch rewrites O(affected files), not
    * O(table), which is the difference between a usable and an unusable
    * upsert at 100 TB. Soundness is the prune's keep bias: a file that
    * MIGHT hold a key is always in the rewrite set, so no matched row
    * can survive in a carried file. Key sets beyond `maxKeys` fall back
    * to a full rewrite (correct, just not incremental).
    *
    * Concurrency: the commit is planned at the version the merge read
    * and aborts with [[ConcurrentCommit]] if any other commit landed
    * first (the Delta-style concurrent-modification conflict — the
    * caller re-runs the merge against the new tip; appends that
    * happened to commit first are preserved by the abort, never
    * silently dropped).
    *
    * The source schema must match the table schema (use [[append]] for
    * widening); source keys must be non-null and unique per key — two
    * source rows with one key would both survive, which is the ambiguous
    * MERGE the SQL standard rejects.
    */
  def merge(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keyCol: String,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      maxKeys: Int = 1000000,
      meta: Map[String, String] = Map.empty): (Long, MergeStats) = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    val planned = manifestFiles(spark, root, v0)
    val tableSchema = schemaOf(spark, root, v0)
    // compute omitted / validate provided generated columns BEFORE the
    // schema match — a source may ergonomically omit what the engine owns
    val genSource = enforceGenerated(spark, root, Some(v0), source, "merge")
    tableSchema.foreach { ts =>
      require(ts.fields.map(f => (f.name, f.dataType)).toSet ==
        genSource.schema.fields.map(f => (f.name, f.dataType)).toSet,
        s"merge source schema ${genSource.schema.simpleString} does not match table ${ts.simpleString}")
    }
    // bounded key collect, same cap contract as readPrunedByKeys: one row
    // past the cap detects overflow without materializing the key set
    val collected = genSource.select(col(keyCol)).distinct().limit(maxKeys + 1).collect()
    val keys = collected.map(_.get(0))
    require(keys.forall(_ != null), s"merge keys ($keyCol) must be non-null")
    val (affected, untouched) =
      if (keys.length > maxKeys) (planned, Seq.empty[String])
      else {
        val (kept, dropped, _) = pruneFiles(spark, root,
          col(keyCol).isin(keys.toIndexedSeq: _*), Some(v0))
        (kept, dropped)
      }
    enforceChecks(spark, root, Some(v0), genSource, "merge")
    val tracked = rowTrackingEnabled(spark, root, v0)
    // under row tracking the rewrite is ID-PRESERVING for the carried
    // (unmatched) rows — they stage with their materialized ids, in
    // files separate from the source rows (which get a fresh id block),
    // so the change-feed walk can serve this merge as an id-diff:
    // deletes = the matched rows' old versions, inserts = the source
    // rows, carried rows provably unchanged
    val carried = readForRewrite(spark, root, v0, affected, tracked)
      .join(genSource.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    val (staged, stagedStored) =
      if (tracked) {
        val sc = stage(spark, root, toPhysical(carried, tableSchema))
        val ss = stage(spark, root, toPhysical(genSource, tableSchema))
        (sc ++ ss, sc)
      } else (stage(spark, root, toPhysical(carried.unionByName(genSource), tableSchema)),
        Seq.empty[String])
    val newStats = ManifestStats.collect(spark, root, staged,
      toPhysicalCols(tableSchema, statsColumns), toPhysicalCols(tableSchema, bloomColumns))
    val version = commit(spark, root, "merge", v0, staged, untouched,
      // the transform spec carries (rewritten files lose their virtual
      // stats until the next OPTIMIZE — sound, just less prunable there)
      manifestMeta(spark, root, v0).filter(kv => carriedMetaKey(kv._1)) ++
        storedMarks(stagedStored, tracked) ++
        meta ++ tableSchema.map(s => Map(SchemaKey -> s.json)).getOrElse(Map.empty),
      // carried files keep the stats the planned version committed for
      // them; rewritten files take the freshly collected ones
      fileStats(spark, root, v0) ++ newStats)
    (version, MergeStats(affected.size, untouched.size, staged.size))
  }

  /** Copy-on-write DELETE — remove the rows WHERE `predicate` IS TRUE,
    * rewriting only the files whose committed stats/blooms cannot prove
    * them untouched ([[pruneFiles]], the same machinery as [[merge]]).
    * Rows where the predicate is NULL survive, per SQL DELETE semantics.
    * A right-sized delete (one user's rows on a key-clustered table)
    * rewrites O(affected files); files the stats clear carry
    * byte-identical with their stats. Same concurrency contract as
    * [[merge]]: a racing commit aborts the publish. */
  def delete(
      spark: SparkSession,
      root: String,
      predicate: org.apache.spark.sql.Column,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): (Long, MergeStats) = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    val planned = manifestFiles(spark, root, v0)
    val tableSchema = schemaOf(spark, root, v0)
    val (affected, untouched, _) = pruneFiles(spark, root, predicate, Some(v0))
    val tracked = rowTrackingEnabled(spark, root, v0)
    // under row tracking the surviving rows keep their ids
    // (materialized — an ID-PRESERVING rewrite), so the change-feed walk
    // serves this delete as an id-diff: exactly the removed rows
    // NOT(pred IS TRUE): a NULL predicate must keep the row
    val survivors = readForRewrite(spark, root, v0, affected, tracked)
      .filter(org.apache.spark.sql.functions.not(
        org.apache.spark.sql.functions.coalesce(predicate,
          org.apache.spark.sql.functions.lit(false))))
    val staged = stage(spark, root, toPhysical(survivors, tableSchema))
    val newStats = ManifestStats.collect(spark, root, staged,
      toPhysicalCols(tableSchema, statsColumns), toPhysicalCols(tableSchema, bloomColumns))
    val version = commit(spark, root, "delete", v0, staged, untouched,
      manifestMeta(spark, root, v0).filter(kv => carriedMetaKey(kv._1)) ++
        storedMarks(staged, tracked) ++
        tableSchema.map(s => Map(SchemaKey -> s.json)).getOrElse(Map.empty),
      fileStats(spark, root, v0) ++ newStats)
    (version, MergeStats(affected.size, untouched.size, staged.size))
  }

  /** Merge-on-read DELETE (Delta deletion vectors / Iceberg v2
    * positional deletes): remove the rows WHERE `predicate` IS TRUE
    * WITHOUT rewriting any data file — the affected files' matching
    * row positions are written as a `(file, pos)` sidecar parquet under
    * `_dv/` and committed as the version's [[DvKey]]. Rows where the
    * predicate is NULL survive, same as [[delete]].
    *
    * The 100 TB trade COW vs MOR: [[delete]] pays a full rewrite of
    * every file the stats can't clear (write-amplified, but reads stay
    * pure scans); deleteMor pays one tiny positional write (only the
    * affected files are even READ, via the same stats prune) and every
    * subsequent read pays a broadcast anti-join against the vector.
    * Small/frequent deletes (GDPR erasure, late-data retraction) want
    * MOR; once the vector grows, [[purgeDeletes]] — or any OPTIMIZE,
    * which reads through the vector and drops it — converts back to
    * pure files. Stacked MOR deletes union into ONE cumulative vector,
    * so a read never applies more than one.
    *
    * Concurrency: SELF-HEALS across the strict-CAS abort the same way
    * [[applyChangesMor]] does — a delete is declarative (rows WHERE
    * predicate), so re-planning from scratch at the new tip is always
    * equivalent: the retry re-reads the file set, the vector, and the
    * predicate prune, whatever the racer did (a periodic OPTIMIZE, a
    * racing MOR delete, a metadata commit). A batch-delete pipeline
    * beside scheduled compaction no longer flakes; sustained contention
    * (>4 racers in a row) still surfaces the typed [[ConcurrentCommit]].
    * Same non-append semantics for consumers — [[readChangesSince]]
    * refuses to stream past a vector change. Returns (version, stats)
    * with newFiles == 0. */
  def deleteMor(
      spark: SparkSession,
      root: String,
      predicate: org.apache.spark.sql.Column): (Long, MergeStats) =
    replanOnConflict(deleteMorOnce(spark, root, predicate))

  private def deleteMorOnce(
      spark: SparkSession,
      root: String,
      predicate: org.apache.spark.sql.Column): (Long, MergeStats) = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    val planned = manifestFiles(spark, root, v0)
    val tableSchema = schemaOf(spark, root, v0)
    val (affected, untouched, _) = pruneFiles(spark, root, predicate, Some(v0))
    // both no-op exits report the SAME untouched count (the full file
    // list) — a prune-to-zero no-op and a zero-fresh-match no-op are
    // semantically identical to callers
    if (affected.isEmpty) return (v0, MergeStats(0, planned.size, 0))
    val oldDv = deletionVector(spark, root, v0)
    val oldRows = oldDv.map(p => dvFrame(spark, root, p))
      .getOrElse(emptyDvFrame(spark))
    // already-deleted positions that re-match the predicate re-enter
    // here and are deduped by the distinct — the union is idempotent
    val newlyDeleted = readFilesWithPos(spark, root, tableSchema, affected)
      .filter(coalesce(predicate, lit(false)))
      .select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
      .persist()
    // zero-match short circuit: a predicate that deletes nothing must
    // stay INVISIBLE to incremental consumers — committing a fresh
    // (byte-identical) vector would change DvKey and spuriously force
    // change-feed/plain-stream full refreshes and demote history row
    // counts to "unknown" for a no-op
    val anyFresh = newlyDeleted
      .join(oldRows, Seq("file", "pos"), "left_anti").limit(1).count()
    if (anyFresh == 0L) {
      newlyDeleted.unpersist()
      return (v0, MergeStats(0, planned.size, 0))
    }
    val allRows = oldRows.unionByName(newlyDeleted).distinct()
    val rel = s"$DvDir/dv-${UUID.randomUUID()}"
    allRows.write.parquet(s"$root/$rel")
    newlyDeleted.unpersist()
    val version = commit(spark, root, "delete-mor", v0, Seq.empty, planned,
      // carriedMetaKey includes DvKey, so ++ order matters: the NEW
      // vector overrides the carried old one
      manifestMeta(spark, root, v0).filter(kv => carriedMetaKey(kv._1)) ++
        tableSchema.map(s => Map(SchemaKey -> s.json)).getOrElse(Map.empty) +
        (DvKey -> rel),
      // file stats carry UNCHANGED — they become keep-biased upper
      // bounds over the vector, which every skipping tier tolerates;
      // exact counting demotes DV'd files to a scan ([[countWhere]])
      fileStats(spark, root, v0))
    (version, MergeStats(affected.size, untouched.size, 0))
  }

  /** Materialize the deletion vector: rewrite ONLY the files the vector
    * references (DV-applied read, so deleted rows are dropped), carry
    * every clean file byte-identical with its stats, and commit WITHOUT
    * the [[DvKey]] — the table is pure files again and reads stop
    * paying the anti-join. The MOR analog of Delta's
    * `REORG TABLE ... APPLY (PURGE)`; [[compact]]/[[optimizeZOrder]]/
    * [[optimizeClusterBy]] achieve the same as a side effect of their
    * full rewrite, this is the targeted version. No-op (returns the
    * tip) when no vector exists. */
  def purgeDeletes(spark: SparkSession, root: String,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): (Long, MergeStats) = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v0 = vs.max
    val planned = manifestFiles(spark, root, v0)
    deletionVector(spark, root, v0) match {
      case None => (v0, MergeStats(0, planned.size, 0))
      case Some(p) =>
        val tableSchema = schemaOf(spark, root, v0)
        val tracked = rowTrackingEnabled(spark, root, v0)
        val dvKeys = dvFiles(spark, root, Some(p))
        val (affected, untouched) =
          planned.partition(f => dvKeys.contains(dvFileKey(f)))
        val staged =
          if (affected.isEmpty) Seq.empty[String]
          else stage(spark, root,
            toPhysical(readForRewrite(spark, root, v0, affected, tracked), tableSchema))
        val newStats = ManifestStats.collect(spark, root, staged,
          toPhysicalCols(tableSchema, statsColumns),
          toPhysicalCols(tableSchema, bloomColumns))
        val version = commit(spark, root, "purge-dv", v0, staged, untouched,
          manifestMeta(spark, root, v0)
            .filter(kv => carriedMetaKey(kv._1) && kv._1 != DvKey) ++
            storedMarks(staged, tracked) ++
            tableSchema.map(s => Map(SchemaKey -> s.json)).getOrElse(Map.empty),
          fileStats(spark, root, v0) ++ newStats)
        (version, MergeStats(affected.size, untouched.size, staged.size))
    }
  }

  /** ANALYZE: (re)compute skipping stats for the files the tip already
    * names and commit them as a new version — NO data rewrite, so a
    * table created before anyone opted into stats (or whose stats
    * columns should change) becomes skippable in one metadata commit
    * plus one aggregation scan. Existing stats for untracked columns
    * are replaced wholesale (the new stats describe exactly
    * `statsColumns`/`bloomColumns`). */
  def analyze(spark: SparkSession, root: String,
      statsColumns: Seq[String],
      bloomColumns: Seq[String] = Nil): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table")
    val tipFiles = manifestFiles(spark, root, vs.max)
    val tipSchema = schemaOf(spark, root, vs.max)
    val schemaJson = tipSchema.map(_.json)
    // ANALYZE carries the transform spec forward in meta, so it must
    // also recompute the VIRTUAL column stats that spec prunes on —
    // the wholesale stats replacement would otherwise silently strip
    // bucket pruning from a transform-clustered table (keep-biased, so
    // correct but no longer skippable)
    val tipTransforms = transformsOf(spark, root, vs.max)
      .filter(t => tipSchema.forall(_.fieldNames.contains(t.sourceCol)))
    val stats = ManifestStats.collect(spark, root, tipFiles, statsColumns, bloomColumns,
      schema = tipSchema,
      virtualCols = tipTransforms.map(t => t.name -> t.expr))
    commit(spark, root, "analyze", Seq.empty,
      tip => manifestFiles(spark, root, tip),
      tip => manifestMeta(spark, root, tip).filter(kv => carriedMetaKey(kv._1)) ++
        schemaJson.orElse(schemaOf(spark, root, tip).map(_.json))
          .map(j => Map(SchemaKey -> j)).getOrElse(Map.empty),
      // a racing append may have landed first: ITS files keep their own
      // stats (carried), the analyzed files take the fresh ones
      tip => fileStats(spark, root, tip) ++ stats)
  }

  /** Exact `COUNT(*) WHERE filter` answered as much as possible from
    * the manifest: files whose stats PROVE every row matches contribute
    * their committed row count with no scan, provably-excluded files
    * contribute zero, and only the boundary (residual) files are read
    * and counted. On a range-clustered table a range predicate's cost
    * collapses from O(selected rows) to O(two boundary files) — the
    * aggregate-pushdown idea applied to the table format instead of the
    * connector (cf. src8's V2 COUNT pushdown). Always exact; returns
    * (count, fullFiles, residualFiles) so callers can observe how much
    * of the answer came from metadata. */
  def countWhere(spark: SparkSession, root: String, filter: org.apache.spark.sql.Column,
      version: Option[Long] = None): (Long, Int, Int) = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table (no $LogDir)")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in log (have ${vs.mkString(",")})")
    val files = manifestFiles(spark, root, v)
    val stats = fileStats(spark, root, v)
    val schema = schemaOf(spark, root, v)
    // rollup fast path: a provably-irrelevant table answers 0 with no
    // per-file work at all
    for (sc <- schema; r <- tableRollup(spark, root, v))
      if (!ManifestStats.statsMayMatch(spark, sc, filter, r,
        transforms = transformsOf(spark, root, v), renames = columnRenames(sc)))
        return (0L, 0, 0)
    val (full0, _, residual0) = schema match {
      case Some(sc) => ManifestStats.splitForCount(spark, sc, filter, stats, files,
        renames = columnRenames(sc))
      case None => (Seq.empty[String], Seq.empty[String], files) // pre-schema: scan all
    }
    // a file with deletion-vector entries can't answer from its
    // committed row count (stats are pre-delete upper bounds) — demote
    // it to the scanned tier, where the DV-applied read is exact. The
    // distinct-file collect is bounded by the table's FILE count.
    val dv = deletionVector(spark, root, v)
    val dvKeys = dvFiles(spark, root, dv)
    val (demoted, full) = full0.partition(f => dvKeys.contains(dvFileKey(f)))
    val residual = residual0 ++ demoted
    // a full-match file without committed stats cannot happen (mustMatch
    // needs stats), so every full entry has a row count to sum
    val metaCount = full.map(f => stats(f).rowCount).sum
    val scanned =
      if (residual.isEmpty) 0L
      else readFiles(spark, root, schema, residual, dv).filter(filter).count()
    (metaCount + scanned, full.size, residual.size)
  }

  /** Total bytes of the data files the tip manifest names — the sizing
    * input for [[compact]]/[[optimizeZOrder]] targets (driver-side
    * metadata only). */
  def tableBytes(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table")
    manifestFiles(spark, root, vs.max)
      .map(p => f.getFileStatus(new Path(dataPath(root, p))).getLen).sum
  }

  /** OPTIMIZE ZORDER: rewrite the current content clustered along the
    * Morton curve of `zCols` (see [[ZOrder]]) into ceil(bytes/target)
    * files, committing per-file stats on the z-columns — after this,
    * [[readPruned]] predicates on ANY subset of `zCols` skip files.
    * Same versioning semantics as [[compact]]: relational content
    * untouched, old versions keep their exact file sets, the committed
    * partition spec carries, and a racing commit aborts the publish
    * with [[ConcurrentCommit]] (re-run).
    * Returns (newVersion, dataFilesAfter). */
  def optimizeZOrder(spark: SparkSession, root: String, zCols: Seq[String],
      targetFileBytes: Long,
      bloomColumns: Seq[String] = Nil): (Long, Int) = {
    require(targetFileBytes > 0, "optimizeZOrder requires a positive target file size")
    rewriteAll(spark, root, "zorder", targetFileBytes, zCols, bloomColumns,
      recluster = None)(ZOrder.cluster(_, zCols, _))
  }

  /** OPTIMIZE CLUSTER BY a partition transform (Iceberg's hidden
    * partitioning — see [[PartitionTransform]]): rewrite the tip content
    * range-clustered on the TRANSFORM value into ceil(bytes/target)
    * files, and commit per-file min/max stats on the transform's virtual
    * column plus the transform spec itself. After this, [[readPruned]] /
    * [[readPrunedByKeys]] / [[merge]] / [[delete]] translate point
    * predicates on the source column through the transform and prune
    * EXACTLY — the hash layout that defeats source-column ranges, served
    * in a few manifest bytes instead of per-file bloom bits. Same
    * versioning semantics as [[compact]], including the
    * [[ConcurrentCommit]] abort on a racing commit; the committed spec
    * becomes `transform` alone. Returns (newVersion, files).
    */
  def optimizeClusterBy(spark: SparkSession, root: String,
      transform: PartitionTransform,
      targetFileBytes: Long,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): (Long, Int) = {
    require(targetFileBytes > 0, "optimizeClusterBy requires a positive target file size")
    rewriteAll(spark, root, "cluster", targetFileBytes, statsColumns, bloomColumns,
      recluster = Some(transform))(_.repartitionByRange(_, transform.expr))
  }

  /** RESTORE (Delta's `RESTORE TABLE ... TO VERSION`): make an older
    * version's content the new tip by committing its FILE LIST — plus
    * its schema, stats, and transform spec — as a new version. No data
    * moves or copies: files are immutable and the restored manifest
    * simply names them again, so restoring a 100 TB table is one
    * driver-side metadata commit. History is preserved (the bad version
    * stays time-travelable until [[vacuum]]); a restore that reinstates
    * files a later version dropped is structurally non-append, so
    * [[readChangesSince]] consumers correctly refuse and full-refresh.
    * The tip's `txn-*` idempotence watermarks ride through the commit's
    * carry-forward (NOT the restored version's lower ones), so
    * restore + vacuum + an active streaming writer stays exactly-once.
    * Returns the new tip version. */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val vs = versions(spark, root)
    require(vs.contains(toVersion),
      s"version $toVersion not in log (have ${vs.mkString(",")}) — vacuumed or never existed")
    val files = manifestFiles(spark, root, toVersion)
    val meta0 = manifestMeta(spark, root, toVersion)
      .filter { case (k, _) => k == SchemaKey || carriedMetaKey(k) }
    // the row-id high-water mark must NEVER regress: seqs allocated
    // after `toVersion` stay retired even though their files drop out,
    // or a post-restore append would reuse an id block that an on-disk
    // (time-travelable) file still owns
    val tipHigh = manifestMeta(spark, root, vs.max).get(RowIdHighKey).map(_.toLong)
    val meta = (meta0.get(RowIdHighKey).map(_.toLong), tipHigh) match {
      case (Some(a), Some(b)) => meta0 + (RowIdHighKey -> math.max(a, b).toString)
      case (None, Some(b)) if meta0.contains(RowTrackingKey) =>
        meta0 + (RowIdHighKey -> b.toString)
      case _ => meta0
    }
    val stats = fileStats(spark, root, toVersion)
    commit(spark, root, s"restore-v$toVersion", files, _ => Seq.empty,
      _ => meta, _ => stats)
  }

  /** DESCRIBE HISTORY: one row per version — the operation that
    * produced it, its file count, and its exact row count when every
    * file in that version carries committed stats (None otherwise:
    * absence of stats must read as "unknown", never 0). Driver-side
    * text reads only, O(versions × files); the audit surface a
    * time-travel/RESTORE decision consults first. */
  final case class VersionInfo(
      version: Long, operation: String, numFiles: Int, rowCount: Option[Long])

  def history(spark: SparkSession, root: String): Seq[VersionInfo] = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table")
    vs.map { v =>
      val files = manifestFiles(spark, root, v)
      val stats = fileStats(spark, root, v)
      val rows =
        if (files.isEmpty) Some(0L)
        // a deletion vector makes committed counts upper bounds —
        // "unknown" is the honest metadata-only answer, never a lie
        else if (deletionVector(spark, root, v).isDefined) None
        else if (files.forall(stats.contains)) Some(files.map(stats(_).rowCount).sum)
        else None
      VersionInfo(v, opAt(spark, root, v), files.size, rows)
    }
  }

  /** DESCRIBE DETAIL: the table's operational summary from driver-side
    * metadata only — versions, tip op, file count and bytes at the tip,
    * committed row count when every tip file carries stats (None
    * otherwise — absence of stats must read as "unknown", never 0),
    * schema column count, and which columns have stats/blooms. */
  final case class TableDetail(
      versions: Int,
      tipVersion: Long,
      tipOperation: String,
      numFiles: Int,
      sizeBytes: Long,
      rowCount: Option[Long],
      numColumns: Option[Int],
      statsColumns: Seq[String],
      bloomColumns: Seq[String])

  def detail(spark: SparkSession, root: String): TableDetail = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table")
    val tip = vs.max
    val files = manifestFiles(spark, root, tip)
    val f = fs(spark, root)
    val bytes = files.map(p => f.getFileStatus(new Path(dataPath(root, p))).getLen).sum
    val stats = fileStats(spark, root, tip)
    val rows =
      if (deletionVector(spark, root, tip).isDefined) None // upper bound only
      else if (files.nonEmpty && files.forall(stats.contains))
        Some(files.map(stats(_).rowCount).sum)
      else if (files.isEmpty) Some(0L)
      else None
    val op = opAt(spark, root, tip)
    val statCols = stats.values.flatMap(_.cols.keys).toSeq.distinct.sorted
    val bloomCols = stats.values
      .flatMap(_.cols.collect { case (c, cs) if cs.bloom.isDefined => c })
      .toSeq.distinct.sorted
    TableDetail(vs.size, tip, op, files.size, bytes, rows,
      schemaOf(spark, root, tip).map(_.fields.length), statCols, bloomCols)
  }

  /** Reclaim space: retain the last `keepVersions` manifests, delete
    * older manifests, then delete every data file (and emptied tx dir)
    * no retained manifest references — which also sweeps orphans from
    * crashed commits. Returns the number of data files deleted.
    *
    * Time travel to a dropped version stops working by construction;
    * retained versions are untouched. Production systems add an age
    * threshold so in-flight commits never lose staged files mid-commit
    * — with no clock available here, callers must not vacuum
    * concurrently with a writer (documented contract, spec-pinned
    * behavior is the referenced/orphan split itself). */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1): Int = {
    require(keepVersions >= 1, "must retain at least the tip")
    val f = fs(spark, root)
    // a catalog transaction staged a body targeting THIS table and has
    // not been backfilled (in-flight, or crashed pre-recovery): the
    // staged body references data/segment files this vacuum would see
    // as unreferenced and reclaim once aged — leaving the eventual
    // backfill naming deleted files. Refuse and steer to the safe entry
    // point, which recovers (backfills, clearing these markers) first.
    val stagedMarkers = {
      val dir = new Path(s"$root/$LogDir")
      if (!f.exists(dir)) Array.empty[String]
      else f.listStatus(dir).map(_.getPath.getName)
        .filter(_.startsWith(StagedMarkerPrefix))
    }
    if (stagedMarkers.nonEmpty) throw new IllegalStateException(
      s"$root has ${stagedMarkers.length} staged catalog transaction(s) " +
        s"pending (${stagedMarkers.mkString(", ")}) — vacuum it through " +
        "ManifestCatalog.vacuumCatalog, which recovers staged bodies " +
        "before reclaiming; a direct vacuum could delete files only the " +
        "staged bodies reference")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table")
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    val live: Set[String] = keep.flatMap(v => manifestFiles(spark, root, v)).toSet
    // tiered log: the oldest retained version may be stored as a DELTA
    // whose resolution chain crosses into the drop set (all later
    // retained deltas chain through it, never past it — a delta's base
    // is always version-1). Materialize its resolved text as a
    // .checkpoint sidecar BEFORE the chain is deleted; racing vacuums
    // write identical bytes, so the lost rename is ignored.
    keep.headOption.foreach { oldest =>
      if (drop.nonEmpty && isDelta(rawText(spark, root, oldest)) &&
          !f.exists(checkpointPath(root, oldest))) {
        // materialize in STORED form: inline flat text below the segment
        // threshold, the two-tier pointer body above it (reusing every
        // live segment — the sidecar of a 10M-file table is pointer
        // lines, not a gigabyte string)
        val st = parsedAt(spark, root, oldest)
        val resolved =
          if (st.files.size < SegmentTargetSize) renderParsed(st)
          else composeSegmented(spark, root, oldest, opAt(spark, root, oldest), st).body
        val tmp = new Path(s"$root/$LogDir/.tmp-${UUID.randomUUID()}")
        val out = f.create(tmp, false)
        try out.write(resolved.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        if (!f.rename(tmp, checkpointPath(root, oldest))) f.delete(tmp, false)
      }
    }
    drop.foreach { v =>
      f.delete(manifestPath(root, v), false)
      f.delete(checkpointPath(root, v), false)
      f.delete(pruneIdxPath(root, v), false)
      // same-JVM reads of a dropped version must fail like a fresh
      // process's would, not be served from a leftover cache entry
      invalidateVersion(root, v)
    }
    val dataRoot = new Path(s"$root/$DataDir")
    var deleted = 0
    if (f.exists(dataRoot)) {
      f.listStatus(dataRoot).foreach { tx =>
        val txName = s"$DataDir/${tx.getPath.getName}"
        val members = f.listStatus(tx.getPath).filter(_.isFile)
        val dead = mutable.Buffer.empty[Path]
        var anyLive = false
        members.foreach { m =>
          val rel = s"$txName/${m.getPath.getName}"
          if (live.contains(rel)) anyLive = true
          else if (!m.getPath.getName.startsWith("_")) dead += m.getPath
        }
        if (!anyLive) { deleted += dead.size; f.delete(tx.getPath, true) }
        else dead.foreach { p => f.delete(p, false); deleted += 1 }
      }
    }
    // deletion vectors GC like data files: a vector no retained
    // manifest references (superseded by a later cumulative vector,
    // purged, or orphaned by a crashed delete-mor) is reclaimed.
    // Absolute clone references point outside `_dv/` and are untouched.
    val liveDv: Set[String] =
      keep.flatMap(v => manifestMeta(spark, root, v).get(DvKey)).toSet
    val dvRoot = new Path(s"$root/$DvDir")
    if (f.exists(dvRoot)) {
      f.listStatus(dvRoot).foreach { d =>
        val rel = s"$DvDir/${d.getPath.getName}"
        if (!liveDv.contains(rel)) {
          deleted += f.listStatus(d.getPath).count(s =>
            s.isFile && !s.getPath.getName.startsWith("_"))
          f.delete(d.getPath, true)
        }
      }
    }
    // two-tier segments GC like data files: a segment no retained
    // manifest or sidecar references is reclaimed — superseded by a
    // checkpoint that rewrote it, dropped with its versions, or
    // orphaned by a lost commit race.
    def segNamesOf(text: String): Seq[String] =
      if (!isSegmented(text)) Nil
      else text.linesIterator.collect {
        case l if l.startsWith(SegPrefix) => l.stripPrefix(SegPrefix).split('|')(0)
      }.toSeq
    val refSegs: Set[String] = keep.iterator.flatMap { v =>
      val fromManifest = segNamesOf(rawText(spark, root, v))
      val ck = checkpointPath(root, v)
      val fromSidecar =
        if (!f.exists(ck)) Nil
        else {
          val in = f.open(ck)
          try segNamesOf(new String(
            org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
          finally in.close()
        }
      fromManifest ++ fromSidecar
    }.toSet
    // retention grace: composeSegmented writes segment files BEFORE the
    // pointer manifest publishes, so a vacuum racing an in-flight commit
    // would otherwise delete segments the about-to-publish manifest
    // references, leaving an unreadable tip (the usual Delta/Iceberg
    // orphan-file hazard). Fresh unreferenced segments are therefore
    // skipped until they age past the grace window — a genuinely lost
    // race's orphans reclaim on the next vacuum after it.
    // "Now" is the HOST clock capped by the newest retained manifest's
    // STORE-stamped mtime: segment mtimes come from the store, so when
    // the table has recent commits the age comparison stays on one
    // clock and a fast host clock cannot shrink the grace (see
    // [[SegmentGcGraceMs]]); on an idle table the cap only delays
    // reclamation — never early.
    val storeWitness = keep.lastOption
      .map(v => f.getFileStatus(manifestPath(root, v)).getModificationTime)
      .getOrElse(Long.MaxValue)
    val gcHorizon =
      math.min(System.currentTimeMillis(), storeWitness) - SegmentGcGraceMs
    f.listStatus(new Path(s"$root/$LogDir")).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith("seg-") && n.endsWith(".seg") && !refSegs.contains(n) &&
          s.getModificationTime < gcHorizon) {
        f.delete(s.getPath, false)
        segmentCache.removeK(root, n)
      }
    }
    deleted
  }
}
