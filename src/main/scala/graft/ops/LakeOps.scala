package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse table-maintenance operators: SCD2 history building (the dbt
  * `snapshot` materialization) and key-based merge/upsert (the dbt
  * `incremental` materialization with `merge` strategy). The reference
  * delegates both to the warehouse; here they are first-class relational
  * operators whose results land through [[graft.sources.Warehouse]] sinks.
  *
  * Scale notes (100 TB): both ops shuffle exactly once on the entity key —
  * SCD2 is a pair of windows over the same hash partitioning (one
  * exchange, plan-verified in LakeOpsSpec), and merge is a single
  * full-outer shuffle join that AQE skew-splits if update keys are hot.
  * Neither materializes anything on the driver. A production lakehouse
  * adds file-level optimizations on top (rewrite only impacted files); the
  * relational semantics — which is what dbt compiles to — are these.
  */
object LakeOps {

  /** Live-file floor for the maintainers' clustering-decay control
    * ([[maintainNearDupPairsCapped]], [[maintainNearDupPairs]]): a
    * probe-keyed mart recluster fires when live files exceed
    * `max(this, 2 × width written by the LAST recluster)` — the
    * doubling term makes the cadence GEOMETRIC on large marts (each
    * O(mart) rewrite is charged against a proportional growth in
    * files, the LSM amortization), while the floor governs small ones.
    * Var so specs can force reclusters on small corpora. */
  private[graft] var ReclusterFileThreshold: Int = 64

  /** Target bytes per file a recluster writes — the width grows with
    * the mart, which is what makes the doubling trigger geometric. */
  private[graft] var ReclusterTargetFileBytes: Long = 128L * 1024 * 1024

  /** Range-cluster an insert batch into a DATA-proportional file count:
    * maintainer feeds at small scale are a few thousand rows, and the
    * shuffle-default width would write 32 near-empty files per mart per
    * window — 32 stats rows, 32 manifest lines, and a RangePartitioner
    * sampling job each, which the recluster cadence then has to repair.
    * Row-sized widths keep a small batch at ONE file (width 1 skips the
    * sampling pass entirely) while a 100 TB window's feed still fans
    * out to rows/rowsPerFile files. `rows` is in hand at every call
    * site (the feeds are checkpointed and counted for the maintainer's
    * own reporting), so the sizing is free. */
  private def sizedByRange(df: DataFrame, rows: Long, keyCol: String,
      rowsPerFile: Long = 128L * 1024): DataFrame = {
    val parts = math.max(1L, math.min(1024L, (rows + rowsPerFile - 1) / rowsPerFile)).toInt
    df.repartitionByRange(parts, col(keyCol))
  }
  // rowsPerFile calibration: maintainer rows are narrow (a shingle +
  // two longs ≈ 50-100 B), so 128k rows ≈ 5-10 MB files — small enough
  // that a window's probe scan keeps its task parallelism (a 1M-row
  // file lands in ONE parquet row group = one unsplittable task;
  // measured ×1.6 on the uncapped window probes at 10×), large enough
  // that small-SF windows still write a single file.

  /** Rewrite `root` range-clustered on `keyCol` when its live file
    * count crossed the trigger — the LSM-style compaction that keeps
    * [[graft.sources.ManifestTable.readPrunedByKeys]] probes
    * file-bounded under append-only growth. Content-identical (MOR
    * deletes fold in through the read), exactly-once-neutral (txn-*
    * watermarks carry through every commit).
    *
    * The geometric trigger is STATELESS: fire when live files exceed
    * `max(floor, 2 × width an ideal rewrite would produce RIGHT NOW)`
    * (`ceil(liveBytes / targetFileBytes)`). Recomputing the ideal width
    * from current bytes — instead of carrying the LAST rewrite's width
    * in a txn-* meta key — matters on both slopes: under growth the
    * bar rises with the data (same geometric amortization, each
    * O(mart) rewrite charged against proportional file-count growth),
    * and after a mart SHRINKS (heavy MOR deletes) the bar falls with
    * it, so clustering decay keeps triggering at 2× the mart's ideal
    * file count rather than stalling below the inflated historical
    * maximum a max-wins txn carry would remember forever. The
    * O(files) liveBytes stat pass only runs once the cheap floor is
    * crossed, and its result is reused to size the rewrite. */
  private[graft] def reclusterIfNeeded(spark: org.apache.spark.sql.SparkSession,
      root: String, keyCol: String, statsColumns: Seq[String]): Unit = {
    import graft.sources.ManifestTable
    val tip = tipOf(spark, root)
    val files = ManifestTable.manifestFiles(spark, root, tip)
    if (files.size > ReclusterFileThreshold) {
      val bytes = ManifestTable.liveBytes(spark, root, tip)
      // the width an ideal rewrite would produce now — the rewrite's
      // actual file count, and (doubled) the decay bar
      val width = math.max(1L,
        (bytes + ReclusterTargetFileBytes - 1) / ReclusterTargetFileBytes).toInt
      if (files.size > math.max(ReclusterFileThreshold.toLong, 2L * width)) {
        ManifestTable.overwrite(spark, root,
          ManifestTable.read(spark, root).repartitionByRange(width, col(keyCol)),
          statsColumns = statsColumns)
        ()
      }
    }
  }

  /** Build a type-2 slowly-changing-dimension history from an observation
    * log: one row per (key, state) run with `[valid_from, valid_to)`
    * validity and `is_current` on the open row (dbt snapshot
    * `check_cols` strategy — reference dbt_project.yml has no snapshots,
    * but every warehouse user of the reference pairs its marts with them).
    *
    * Consecutive observations with the same state collapse into one
    * interval; `tieCol` (a unique id) makes the change detection
    * deterministic when observation timestamps tie. Two windows over the
    * same (key, time) clustering: Catalyst plans ONE exchange and sorts.
    *
    * NULL is a legitimate state value (dbt's `check` strategy treats it as
    * one): change detection is null-safe (`<=>`), and "first observation of
    * a key" is detected from a lag over the non-null `tieCol`, never from
    * the lagged state being NULL — so NULL→NULL runs collapse and X→NULL
    * transitions open an interval instead of vanishing.
    */
  /** Output columns are FIXED names (keyCol, status, valid_from, valid_to,
    * is_current) — rename downstream if they collide with your domain;
    * the require guards the clash rather than silently overwriting. */
  def scd2Snapshot(
      df: DataFrame,
      keyCol: String,
      stateCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    val out = Seq("status", "valid_from", "valid_to", "is_current", PrevTmp, FirstTmp)
    require(!df.columns.exists(c => out.contains(c) && c != stateCol && c != tsCol),
      s"scd2Snapshot input must not already contain ${out.mkString("/")}")
    val byTime = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val changes = df
      .withColumn(PrevTmp, lag(col(stateCol), 1).over(byTime))
      .withColumn(FirstTmp, lag(col(tieCol), 1).over(byTime))
      .filter(col(FirstTmp).isNull || !(col(PrevTmp) <=> col(stateCol)))
      .select(col(keyCol), col(stateCol).as("status"),
        col(tsCol).as("valid_from"), col(tieCol))
    val byFrom = Window.partitionBy(keyCol).orderBy(col("valid_from"), col(tieCol))
    changes
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byFrom))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(tieCol)
  }

  // internal working-column names, prefixed against caller collisions
  private val PrevTmp = "__graft_prev_state"
  private val FirstTmp = "__graft_prev_tie"
  private val RankTmp = "__graft_rn"

  /** Key-based merge of an update batch into a state table (MERGE INTO /
    * upsert semantics, dbt incremental `merge` strategy):
    *  - key in both          → UPDATE: source wins `takeLatest` columns,
    *                           `sumCols` accumulate target + source
    *  - key only in source   → INSERT the source row
    *  - key only in target   → carry the target row through unchanged
    *
    * Both inputs must share the schema (`keyCol`, takeLatest..., sumCols...).
    * One full-outer shuffle join on the key; at 100 TB the target is the
    * big side and the increment small — full-outer cannot broadcast, but
    * the increment's shuffle is proportional to the batch, not the table.
    *
    * MERGE UPDATE semantics: when a key exists in both sides the SOURCE
    * wins `takeLatest` columns unconditionally — including a source value
    * that is NULL. Row presence is decided on the source's join key (keys
    * must be non-null to match at all), not on coalescing the payload, so
    * a legitimately-NULL latest value overwrites rather than silently
    * retaining the stale target value.
    */
  def mergeUpsert(
      target: DataFrame,
      source: DataFrame,
      keyCol: String,
      takeLatest: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    val t = target.alias("t")
    val s = source.alias("s")
    val out =
      coalesce(col(s"t.$keyCol"), col(s"s.$keyCol")).as(keyCol) +:
      (takeLatest.map(c =>
        when(col(s"s.$keyCol").isNotNull, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)) ++
        sumCols.map(c =>
          (coalesce(col(s"t.$c"), lit(0L)) + coalesce(col(s"s.$c"), lit(0L))).as(c)))
    t.join(s, col(s"t.$keyCol") === col(s"s.$keyCol"), "full_outer")
      .select(out: _*)
  }

  /** Small-file compaction — the OPTIMIZE file-maintenance op every real
    * lakehouse table needs: streaming/incremental appends accumulate tiny
    * files (one per trigger per partition), and at 100 TB the resulting
    * per-file open/footer overhead dominates scans long before data
    * volume does. Rewrites the table directory into ceil(bytes/target)
    * files.
    *
    * Relational content is untouched (spec: exceptAll both ways empty);
    * only the physical layout changes. The rewrite lands through the same
    * write-to-staging / retire-aside / promote sequence as the
    * incremental materialization's swap (model/Model.scala), so a crash
    * at any point leaves the old table, the new one, or a recoverable
    * staging dir — never a partial mix.
    *
    * @return number of data files after compaction
    */
  def compactTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, "compactTable requires a positive target file size")
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(path + "__staging")
    val retired = new org.apache.hadoop.fs.Path(path + "__retired")
    // crash recovery (mirrors Model.scala's staging recovery): a missing
    // live table means a prior compaction died between its two renames.
    // A COMPLETE staging dir (_SUCCESS present) is the newest full copy —
    // promote it; otherwise the retired dir still holds the pre-compaction
    // table — restore it. Without this preamble a crash in that window
    // strands the data in __retired/__staging with no code path back.
    // (Compaction never changes relational content, so either copy is a
    // correct table; prefer staging to keep the already-paid rewrite.)
    if (!fs.exists(target)) {
      if (fs.exists(staging) &&
          fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) {
        require(fs.rename(staging, target), s"compact staging recovery failed for $path")
      } else if (fs.exists(retired)) {
        fs.delete(staging, true) // partial write residue, if any
        require(fs.rename(retired, target), s"compact retired recovery failed for $path")
      } else {
        require(requirement = false,
          s"compactTable: $path does not exist and no recoverable staging/retired copy found")
      }
    }
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val totalBytes = dataFiles(target).map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // the read must complete before the swap touches `path`; parquet
    // write is an action, so by promotion time the data is fully copied
    spark.read.parquet(path).repartition(nFiles)
      .write.mode("overwrite").parquet(staging.toString)
    fs.delete(retired, true)
    require(fs.rename(target, retired), s"compact retire failed for $path")
    require(fs.rename(staging, target), s"compact promote failed for $path")
    fs.delete(retired, true)
    dataFiles(target).length
  }

  /** Latest-state aggregate per key: the state of the most recent
    * observation (total-order tie-break on `tieCol`) plus max-timestamp
    * and row count — the canonical "current state table" both sides of
    * [[mergeUpsert]] are built from. Window + aggregate share one
    * key-clustered exchange. Output column names are caller-chosen so the
    * op composes outside the orders domain.
    */
  def latestState(
      df: DataFrame,
      keyCol: String,
      stateCol: String,
      tsCol: String,
      tieCol: String,
      stateName: String = "status",
      tsName: String = "last_order",
      countName: String = "n_orders"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn(RankTmp, row_number().over(w))
      .groupBy(keyCol)
      .agg(
        max(when(col(RankTmp) === 1, col(stateCol))).as(stateName),
        max(col(tsCol)).as(tsName),
        count(lit(1)).cast("long").as(countName))
  }

  // ---- incremental aggregate maintenance (IVM over the manifest CDF) ------

  private val TotalType = org.apache.spark.sql.types.DecimalType(28, 4)

  /** The newest version of the manifest table at `root`. */
  private def tipOf(spark: org.apache.spark.sql.SparkSession, root: String): Long = {
    val vs = graft.sources.ManifestTable.versions(spark, root)
    require(vs.nonEmpty, s"$root is not a manifest table")
    vs.max
  }

  /** Σ n_rows of the count mart committed at `version` — a bootstrap's
    * source row count, read from the O(groups) mart instead of a second
    * scan of the source (count is total over groups by construction). */
  private def martRows(spark: org.apache.spark.sql.SparkSession, martRoot: String,
      version: Long): Long =
    graft.sources.ManifestTable.read(spark, martRoot, Some(version))
      .agg(coalesce(sum(col("n_rows")), lit(0L))).head.getLong(0)

  /** Row count of the table written at `version`: the committed files'
    * parquet footers (zero jobs), else a counting read. */
  private def writtenRows(spark: org.apache.spark.sql.SparkSession, root: String,
      version: Long): Long = {
    import graft.sources.ManifestTable
    ManifestTable.committedRowCount(spark, root, version)
      .getOrElse(ManifestTable.read(spark, root, Some(version)).count())
  }

  private def countSumAgg(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      ExactSums.dsumPartial(col(valueCol)).cast(TotalType).as("total"))

  /** Incremental VIEW MAINTENANCE of a count/sum aggregate mart over a
    * manifest table's change feed: instead of re-aggregating the whole
    * source on every refresh, aggregate ONLY the window's changes and
    * fold them into the affected groups. The mart stays incrementally
    * maintainable through appends, MOR DELETES, MERGE upserts, and
    * every id-preserving rewrite. The delta aggregates SIGNED: an
    * insert contributes (+1, +value), a retraction (−1, −value) —
    * count and sum are self-maintainable under deletion, and DECIMAL
    * partials stay exact under subtraction, so the maintained mart
    * equals the from-scratch aggregate bit for bit. Groups whose count reaches zero are REMOVED
    * (a rebuild has no row for them), and the whole application — group
    * retractions, group upserts, and the consumed-version watermark —
    * is ONE atomic [[graft.sources.ManifestTable.applyChangesMor]]
    * commit on the mart (batchId = consumed source version, so a crash
    * replay is the standard exactly-once no-op; the watermark IS the
    * cursor). The feed is [[graft.sources.ManifestTable.readChanges]]:
    * sources with rewrites in the window need row tracking
    * ([[graft.sources.ManifestTable.enableRowTracking]]); pure
    * append + MOR-delete windows maintain untracked via the positional
    * feed. Refresh cost: O(window change volume + affected groups). A
    * call with no new source version is a no-op (no mart commit); a
    * window the feed cannot express (an overwrite, a rewrite of an
    * untracked source) raises
    * [[graft.sources.NotDeltaExpressible]] — drop the mart and
    * bootstrap again.
    *
    * One grouping key gives the (key, n_rows, total) mart, bound on the
    * key itself; a COMPOSITE key gives (k1, …, kn, n_rows, total, mkey),
    * where `mkey` is the surrogate the atomic apply binds on. The delta
    * algebra is the same for both. The bootstrap writes first and reads
    * the source row count back from the mart, so it scans the source
    * once. Returns (consumed source version, change rows aggregated). */
  def maintainAggMartTotal(
      spark: org.apache.spark.sql.SparkSession,
      srcRoot: String,
      martRoot: String,
      keyCols: Seq[String],
      valueCol: String,
      writerId: String = "aggmart-total"): (Long, Long) = {
    import graft.sources.ManifestTable
    require(keyCols.nonEmpty, "need at least one grouping key")
    val bindCol = if (keyCols.size == 1) keyCols.head else "mkey"
    def bound(agg: DataFrame): DataFrame =
      if (keyCols.size == 1) agg else agg.withColumn("mkey", surrogateKey(keyCols))
    val srcTip = tipOf(spark, srcRoot)
    val txnKey = s"txn-$writerId"
    val martVs = ManifestTable.versions(spark, martRoot)
    if (martVs.isEmpty) {
      val src = ManifestTable.read(spark, srcRoot, Some(srcTip))
      val v = ManifestTable.create(spark, martRoot, bound(countSumAgg(src, keyCols, valueCol)),
        meta = Map(txnKey -> srcTip.toString))
      return (srcTip, martRows(spark, martRoot, v))
    }
    val cursor = ManifestTable.manifestMeta(spark, martRoot, martVs.max)
      .getOrElse(txnKey, throw new IllegalStateException(
        s"$martRoot has no $txnKey watermark — not a total-feed agg mart")).toLong
    if (cursor == srcTip) return (srcTip, 0L) // caught up: no mart commit
    val (feed, tip) = ManifestTable.readChanges(spark, srcRoot, cursor, Some(srcTip))
    val fd = feed.localCheckpoint() // consumed twice: count + aggregate
    val deltaRows = fd.count()
    val ins = col("_change_type") === "insert"
    val d = bound(fd.groupBy(keyCols.map(col): _*).agg(
      sum(when(ins, 1L).otherwise(-1L)).as("dn"),
      ExactSums.dsumPartial(when(ins, col(valueCol)).otherwise(-col(valueCol)))
        .cast(TotalType).as("dtotal")))
    val cur = ManifestTable.read(spark, martRoot).alias("m")
    // the bind column is the join key (unqualified); other keys come
    // from the delta side
    def keyOut(k: String): Column = if (k == bindCol) col(k) else col(s"d.$k")
    val updated = bound(d.alias("d").join(cur, Seq(bindCol), "left")
      .select(keyCols.map(keyOut) ++ Seq(
        (coalesce(col("m.n_rows"), lit(0L)) + col("d.dn")).as("n_rows"),
        (coalesce(col("m.total"), lit(0).cast(TotalType)) + col("d.dtotal"))
          .cast(TotalType).as("total")): _*))
      .localCheckpoint()
    // one atomic apply: every affected group retracts, the
    // still-populated ones re-insert with their new aggregates;
    // zero-count groups simply never re-enter (rebuild parity)
    val martFeed = updated.withColumn("_change_type", lit("delete"))
      .unionByName(updated.filter(col("n_rows") > 0)
        .withColumn("_change_type", lit("insert")))
    ManifestTable.applyChangesMor(spark, martRoot, martFeed, bindCol,
      writerId, batchId = tip, feedTags = Some(Set("insert", "delete")))
    (tip, deltaRows)
  }

  /** Composite-key surrogate: one non-null string that identifies a
    * (k1, …, kn) group — the single binding column
    * [[graft.sources.ManifestTable.applyChangesMor]]'s delete side needs.
    * U+0001 separates components, U+0002 encodes NULL (distinct from
    * any cast string, so (NULL,"a") ≠ ("a",NULL) ≠ ("a", the U+0002 string)); sound as long as key values
    * contain no control characters — the documented surrogate contract. */
  private def surrogateKey(keyCols: Seq[String]): Column =
    concat_ws("\u0001",
      keyCols.map(k => coalesce(col(k).cast("string"), lit("\u0002"))): _*)

  private def minMaxAgg(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(keyCol).agg(
      count(lit(1)).as("n_rows"),
      min(col(valueCol)).as("vmin"),
      max(col(valueCol)).as("vmax"))

  /** Incrementally maintain a (key, n_rows, vmin, vmax) mart through the
    * TOTAL change feed — the NON-self-maintainable aggregates
    * [[maintainAggMartTotal]] cannot cover: MIN/MAX absorb inserts for
    * free (`least`/`greatest` against the delta) but a DELETE that
    * removes a group's current extremum invalidates the stored bound,
    * and the standard answer (every IVM treatment since Gupta &
    * Mumick's, and what production engines do) is the PER-GROUP
    * RECOMPUTE fallback implemented here:
    *
    *  - groups whose window deletes all fall STRICTLY INSIDE the stored
    *    bounds (del_min > vmin AND del_max < vmax) keep their bounds
    *    valid — maintenance is the pure insert fold, O(delta);
    *  - only groups whose deletes TOUCH a stored bound (or whose
    *    pre-window state is unknown) re-aggregate from the source at
    *    the consumed tip — one semi-join-restricted pass over exactly
    *    the affected groups' rows, never a full rebuild. With the
    *    source clustered on the key, the committed stats prune the
    *    recompute scan to the affected groups' files.
    *
    * Groups whose count reaches zero leave the mart (rebuild parity).
    * Application is ONE atomic [[graft.sources.ManifestTable.applyChangesMor]]
    * commit with batchId = consumed source version, so a crash replay is
    * the standard exactly-once no-op. Row-tracked sources maintain
    * through id-preserving rewrites; untracked ones through
    * append + MOR-delete windows (the positional feed's contract).
    * The bootstrap writes first and reads Σ n_rows back from the mart.
    * Returns (consumed version, change rows, groups recomputed). */
  def maintainMinMaxMart(
      spark: org.apache.spark.sql.SparkSession,
      srcRoot: String,
      martRoot: String,
      keyCol: String,
      valueCol: String,
      writerId: String = "minmax-mart"): (Long, Long, Long) = {
    import graft.sources.ManifestTable
    val srcTip = tipOf(spark, srcRoot)
    val txnKey = s"txn-$writerId"
    val martVs = ManifestTable.versions(spark, martRoot)
    if (martVs.isEmpty) {
      val src = ManifestTable.read(spark, srcRoot, Some(srcTip))
      val v = ManifestTable.create(spark, martRoot, minMaxAgg(src, keyCol, valueCol),
        meta = Map(txnKey -> srcTip.toString))
      (srcTip, martRows(spark, martRoot, v), 0L)
    } else {
      val cursor = ManifestTable.manifestMeta(spark, martRoot, martVs.max)
        .getOrElse(txnKey, throw new IllegalStateException(
          s"$martRoot has no $txnKey watermark — not a min/max mart")).toLong
      if (cursor == srcTip) return (srcTip, 0L, 0L) // caught up: no commit
      val (feed, tip) = ManifestTable.readChanges(spark, srcRoot, cursor, Some(srcTip))
      val fd = feed.localCheckpoint()
      val deltaRows = fd.count()
      val ins = col("_change_type") === "insert"
      val d = fd.groupBy(keyCol).agg(
        sum(when(ins, 1L).otherwise(-1L)).as("dn"),
        sum(when(ins, 0L).otherwise(1L)).as("n_del"),
        min(when(ins, col(valueCol))).as("ins_min"),
        max(when(ins, col(valueCol))).as("ins_max"),
        min(when(!ins, col(valueCol))).as("del_min"),
        max(when(!ins, col(valueCol))).as("del_max"))
      val cur = ManifestTable.read(spark, martRoot).alias("m")
      val joined = d.alias("d").join(cur, Seq(keyCol), "left").localCheckpoint()
      // bound-validity proof: no deletes at all, or a KNOWN pre-state
      // whose window deletes fall strictly inside both bounds
      val boundsValid = col("d.n_del") === 0L ||
        (col("m.n_rows").isNotNull &&
          col("d.del_min") > col("m.vmin") && col("d.del_max") < col("m.vmax"))
      val fastRows = joined.filter(boundsValid).select(col(keyCol),
        (coalesce(col("m.n_rows"), lit(0L)) + col("d.dn")).as("n_rows"),
        least(col("m.vmin"), col("d.ins_min")).as("vmin"),
        greatest(col("m.vmax"), col("d.ins_max")).as("vmax"))
      val recomputeKeys = joined.filter(!boundsValid).select(col(keyCol))
        .localCheckpoint()
      val nRecompute = recomputeKeys.count()
      val recomputedRows =
        if (nRecompute == 0L) fastRows.limit(0)
        else minMaxAgg(ManifestTable.read(spark, srcRoot, Some(tip))
          .join(recomputeKeys, Seq(keyCol), "left_semi"), keyCol, valueCol)
      val newState = fastRows.unionByName(recomputedRows).localCheckpoint()
      // retract EVERY affected key (emptied groups included — recompute
      // yields no row for them), re-insert the still-populated state;
      // one atomic commit carries the consumed-version watermark
      val retractions = joined.select(col(keyCol),
        coalesce(col("m.n_rows"), lit(0L)).as("n_rows"),
        col("m.vmin").as("vmin"), col("m.vmax").as("vmax"))
      val martFeed = retractions.withColumn("_change_type", lit("delete"))
        .unionByName(newState.filter(col("n_rows") > 0)
          .withColumn("_change_type", lit("insert")))
      ManifestTable.applyChangesMor(spark, martRoot, martFeed, keyCol,
        writerId, batchId = tip, feedTags = Some(Set("insert", "delete")))
      (tip, deltaRows, nRecompute)
    }
  }

  /** Maintain an aggregate MART and advance its
    * [[graft.plans.MartRewrite]] registration in ONE call — the
    * maintenance loop's whole body. Maintenance and registration are
    * separately correct but operationally coupled: an operator who
    * maintains and forgets to re-register serves the mart's rewrite
    * from an ever-older fact snapshot (staleness with no bound), and
    * one who registers and stops maintaining does the same from the
    * other side. This composition closes the first hole; the
    * registration's `maxVersionLag` (enforced inside the rewrite rule)
    * closes the second — past the bound the rewrite disables itself
    * and queries fall back to the fresh fact scan.
    *
    * `kind` = "sum" routes to [[maintainAggMartTotal]] and
    * [[graft.plans.MartRewrite.register]] (single or composite key);
    * "minmax" to [[maintainMinMaxMart]] and
    * [[graft.plans.MartRewrite.registerMinMax]] (single key). Returns
    * (consumed source version, change rows aggregated). */
  def maintainAndReregister(
      spark: org.apache.spark.sql.SparkSession,
      srcRoot: String,
      martRoot: String,
      keyCols: Seq[String],
      valueCol: String,
      kind: String = "sum",
      writerId: String = "aggmart-total",
      maxVersionLag: Long = Long.MaxValue): (Long, Long) = {
    require(keyCols.nonEmpty, "need at least one grouping key")
    kind match {
      case "sum" =>
        val r = maintainAggMartTotal(spark, srcRoot, martRoot, keyCols, valueCol, writerId)
        graft.plans.MartRewrite.register(
          spark, srcRoot, keyCols, valueCol, martRoot, maxVersionLag)
        r
      case "minmax" =>
        require(keyCols.size == 1, "minmax marts are single-key")
        val (v, n, _) =
          maintainMinMaxMart(spark, srcRoot, martRoot, keyCols.head, valueCol, writerId)
        graft.plans.MartRewrite.registerMinMax(
          spark, srcRoot, keyCols.head, valueCol, martRoot, maxVersionLag)
        (v, n)
      case other =>
        throw new IllegalArgumentException(s"unknown mart kind '$other' (sum | minmax)")
    }
  }

  /** Declarative table MIRROR maintenance with AUTOMATIC full-refresh
    * recovery — the batch face of the st10 pipeline, closing its one
    * operational hole: when the change window since the cursor is not
    * delta-expressible (an OVERWRITE, a COW rewrite on an untracked
    * source, a cursor the source vacuumed past), the incremental reader
    * REFUSES by design — and the consumer's only option used to be an
    * exception and a hand-built rebuild. Here the refusal is CAUGHT and
    * answered with the declared recovery: one atomic overwrite of the
    * mirror with the source tip, carrying the same `txn-<writerId>`
    * watermark every incremental commit carries — so the cursor
    * resumes from the refresh point, a crash replay is the standard
    * no-op, and the caller's loop never changes shape. (The streaming
    * twin is the change-feed source's `onRefusal=refresh` option, which
    * emits the same recovery as a 'refresh'-tagged batch for
    * [[graft.sources.ManifestTable.applyChangesMor]].)
    *
    * At 100 TB: incremental windows cost O(change); the refresh arm
    * costs a full copy — exactly the cost a refusal implies, now paid
    * declaratively instead of operationally. The bootstrap and refresh
    * arms write first and count the written rows from the committed
    * footers, so they scan the source once. Returns (consumed source
    * version, mode ∈ bootstrap|noop|incremental|full_refresh, rows). */
  def maintainMirror(
      spark: org.apache.spark.sql.SparkSession,
      srcRoot: String,
      mirrorRoot: String,
      keyCol: String,
      writerId: String = "mirror"): (Long, String, Long) = {
    import graft.sources.ManifestTable
    val srcTip = tipOf(spark, srcRoot)
    val txnKey = s"txn-$writerId"
    val mirrorVs = ManifestTable.versions(spark, mirrorRoot)
    if (mirrorVs.isEmpty) {
      val v = ManifestTable.create(spark, mirrorRoot,
        ManifestTable.read(spark, srcRoot, Some(srcTip)),
        meta = Map(txnKey -> srcTip.toString))
      (srcTip, "bootstrap", writtenRows(spark, mirrorRoot, v))
    } else {
      val cursor = ManifestTable.manifestMeta(spark, mirrorRoot, mirrorVs.max)
        .getOrElse(txnKey, throw new IllegalStateException(
          s"$mirrorRoot has no $txnKey watermark — not a maintained mirror")).toLong
      if (cursor >= srcTip) (cursor, "noop", 0L)
      else {
        val attempt =
          try Some(ManifestTable.readChanges(spark, srcRoot, cursor, Some(srcTip)))
          catch {
            // ONLY the designed refusal ("this window is not expressible
            // as a row-level delta") converts to a full refresh; IO
            // errors / corrupted logs / misconfiguration stay loud
            // rather than silently triggering a full mirror rewrite.
            case _: graft.sources.NotDeltaExpressible => None
          }
        attempt match {
          case Some((feed, tip)) =>
            val fd = feed.localCheckpoint()
            val n = fd.count()
            ManifestTable.applyChangesMor(spark, mirrorRoot, fd, keyCol,
              writerId, batchId = tip)
            (tip, "incremental", n)
          case None =>
            val v = ManifestTable.overwrite(spark, mirrorRoot,
              ManifestTable.read(spark, srcRoot, Some(srcTip)),
              meta = Map(txnKey -> srcTip.toString))
            (srcTip, "full_refresh", writtenRows(spark, mirrorRoot, v))
        }
      }
    }
  }

  private val JoinCursorAKey = "join-cursor-a"
  private val JoinCursorBKey = "join-cursor-b"

  /** [[maintainAndReregister]] for the JOIN mart: advance the
    * incrementally-maintained A ⋈ B mart AND its
    * [[graft.plans.MartRewrite.registerJoin]] registration in one call —
    * the same lifecycle coupling, here over TWO sources (both cursors
    * advance atomically with the mart; the registration re-snapshots
    * both file sets; `maxVersionLag` bounds staleness on both). */
  def maintainJoinAndReregister(
      spark: org.apache.spark.sql.SparkSession,
      aRoot: String,
      bRoot: String,
      martRoot: String,
      aKeyCol: String,
      bKeyCol: String,
      maxVersionLag: Long = Long.MaxValue): (Long, Long, Long) = {
    val r = maintainJoinMart(spark, aRoot, bRoot, martRoot, aKeyCol, bKeyCol)
    graft.plans.MartRewrite.registerJoin(
      spark, aRoot, bRoot, aKeyCol, bKeyCol, martRoot, maxVersionLag)
    r
  }

  /** Incrementally maintain an INNER-JOIN mart `A ⋈ B` over TWO
    * append-only manifest sources — the delta-join maintenance rule
    * (the classic incremental view maintenance identity): with deltas
    * dA, dB appended since the last maintained versions,
    *
    * {{{
    *   Δ(A ⋈ B) = dA ⋈ B_new  ∪  (A_new ∖ dA) ⋈ dB
    * }}}
    *
    * and the two legs are DISJOINT (a dA row is by definition not in
    * A_prev), so for append-only sources every delta row is an INSERT
    * and maintenance is ONE APPEND to the mart — no merge, no rewrite.
    * `A_new ∖ dA` is simply A at the consumed cursor version: time
    * travel supplies it with zero anti-join work. BOTH advanced cursors
    * ride the same atomic mart commit (lake11's cursor-on-commit rule),
    * so a crash between maintenance and acknowledgment replays the
    * deltas into the same idempotent position, never double-applies.
    * An advance that produces zero join rows still commits (a 0-row
    * append) — the cursors must move or the maintainer would rescan
    * those deltas forever. Non-append source history (overwrite /
    * compact / delete) makes readChangesSince refuse, exactly like
    * lake11: full refresh is the only sound answer.
    *
    * Refresh cost at 100 TB: O(dA ⋈ B) + O(A ⋈ dB) probe work — with
    * the sources clustered on their join keys the dA leg prunes B's
    * files by dA's key range, never O(A ⋈ B). Returns
    * (consumedA, consumedB, deltaRowsAppended). The bootstrap writes
    * the join first and counts its rows from the committed footers. */
  def maintainJoinMart(
      spark: org.apache.spark.sql.SparkSession,
      aRoot: String,
      bRoot: String,
      martRoot: String,
      aKeyCol: String,
      bKeyCol: String): (Long, Long, Long) = {
    import graft.sources.ManifestTable
    val aTip = tipOf(spark, aRoot)
    val bTip = tipOf(spark, bRoot)
    def joined(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col(aKeyCol) === col(bKeyCol))
    val martVs = ManifestTable.versions(spark, martRoot)
    if (martVs.isEmpty) {
      val mart = joined(ManifestTable.read(spark, aRoot, Some(aTip)),
        ManifestTable.read(spark, bRoot, Some(bTip)))
      val v = ManifestTable.create(spark, martRoot, mart,
        meta = Map(JoinCursorAKey -> aTip.toString, JoinCursorBKey -> bTip.toString))
      (aTip, bTip, writtenRows(spark, martRoot, v))
    } else {
      val meta = ManifestTable.manifestMeta(spark, martRoot, martVs.max)
      val curA = meta.getOrElse(JoinCursorAKey, throw new IllegalStateException(
        s"$martRoot has no $JoinCursorAKey metadata — not a maintained join mart")).toLong
      val curB = meta.getOrElse(JoinCursorBKey, throw new IllegalStateException(
        s"$martRoot has no $JoinCursorBKey metadata — not a maintained join mart")).toLong
      if (curA == aTip && curB == bTip) (aTip, bTip, 0L) // caught up: no commit
      else {
        val (dA, aNew) = ManifestTable.readChangesSince(spark, aRoot, curA)
        val (dB, bNew) = ManifestTable.readChangesSince(spark, bRoot, curB)
        val delta = joined(dA, ManifestTable.read(spark, bRoot, Some(bNew)))
          .unionByName(joined(ManifestTable.read(spark, aRoot, Some(curA)), dB))
        val n = delta.count()
        ManifestTable.append(spark, martRoot, delta,
          meta = Map(JoinCursorAKey -> aNew.toString, JoinCursorBKey -> bNew.toString))
        (aNew, bNew, n)
      }
    }
  }

  /** Both-cursor txn keys of a TOTAL-feed join mart: `txn-` prefixed so
    * [[graft.sources.ManifestTable.metaWithTxnCarry]] carries them
    * max-wins through EVERY subsequent commit — an OPTIMIZE on the mart
    * can never lose the maintainer's position (the plain
    * [[maintainJoinMart]] cursors, ordinary meta, would be dropped). */
  private def joinTotalCursorA(writerId: String) = s"txn-$writerId-cursor-a"
  private def joinTotalCursorB(writerId: String) = s"txn-$writerId-cursor-b"

  /** [[maintainJoinMart]] through NON-APPEND source histories: MOR
    * deletes, MERGE upserts, and id-preserving rewrites on EITHER fact
    * maintain the `A ⋈ B` mart incrementally instead of forcing the
    * full refresh `readChangesSince` would demand — the
    * [[maintainAggMartTotal]] treatment applied to the join.
    *
    * The rule is the semi-join-restricted recompute (the same shape
    * [[maintainMinMaxMart]] uses for its non-invertible groups), which
    * subsumes the signed two-leg delta-join identity without needing
    * position-exact retraction of duplicate joined rows:
    *
    *  1. affected = distinct join keys in dA ∪ dB (either side, either
    *     sign), from each source's
    *     [[graft.sources.ManifestTable.readChanges]] (row-tracked
    *     sources maintain through rewrites in the window);
    *  2. fresh truth for those keys = (A_tip ⋉ affected) ⋈
    *     (B_tip ⋉ affected) — both sides pruned by the semi join (with
    *     key-clustered facts the stats prune makes this O(affected));
    *  3. ONE atomic [[graft.sources.ManifestTable.applyChangesMor]] on
    *     the mart: retract every mart row whose key is affected (a MOR
    *     delete — no mart file rewritten), insert the fresh rows, and
    *     advance both cursors + the replay watermark in the same
    *     publish. The batchId encodes (aNew, bNew) as a strictly
    *     increasing scalar, so a crash replay is the standard
    *     exactly-once no-op.
    *
    * Cost: O(|dA| + |dB| + affected-key join work + affected mart
    * positions) — never O(A ⋈ B). Returns (consumedA, consumedB,
    * freshRowsInserted). */
  def maintainJoinMartTotal(
      spark: org.apache.spark.sql.SparkSession,
      aRoot: String,
      bRoot: String,
      martRoot: String,
      aKeyCol: String,
      bKeyCol: String,
      writerId: String = "joinmart-total"): (Long, Long, Long) = {
    import graft.sources.ManifestTable
    val aTip = tipOf(spark, aRoot)
    val bTip = tipOf(spark, bRoot)
    val (ckA, ckB) = (joinTotalCursorA(writerId), joinTotalCursorB(writerId))
    def joined(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col(aKeyCol) === col(bKeyCol))
    val martVs = ManifestTable.versions(spark, martRoot)
    if (martVs.isEmpty) {
      val mart = joined(ManifestTable.read(spark, aRoot, Some(aTip)),
        ManifestTable.read(spark, bRoot, Some(bTip)))
      // write FIRST, report the row count from the committed files'
      // parquet footers — the full bootstrap join runs once
      val v = ManifestTable.create(spark, martRoot, mart,
        meta = Map(ckA -> aTip.toString, ckB -> bTip.toString))
      (aTip, bTip, writtenRows(spark, martRoot, v))
    } else {
      val meta = ManifestTable.manifestMeta(spark, martRoot, martVs.max)
      def cursor(k: String): Long = meta.getOrElse(k, throw new IllegalStateException(
        s"$martRoot has no $k metadata — not a total-feed join mart")).toLong
      val curA = cursor(ckA)
      val curB = cursor(ckB)
      // loud guard against marts created under the RETIRED bit-packed
      // batchId encoding ((aTip << 21) | bTip): their stored replay
      // watermark dwarfs any tip SUM, so every new-encoding batch would
      // be "a replay" and maintenance would no-op FOREVER — silent
      // staleness, the exact failure maxVersionLag exists to prevent.
      // Under the sum encoding the stored watermark can never legally
      // exceed the current tip sum (cursors never regress, tips only
      // grow), so anything above it is refused with the remedy.
      ManifestTable.txnWatermark(spark, martRoot, s"txn-$writerId",
          tipHint = martVs.lastOption).filter(_ > aTip + bTip).foreach(w =>
        throw new IllegalStateException(
          s"$martRoot stores replay watermark txn-$writerId=$w above any " +
            s"plausible tip sum ($aTip + $bTip = ${aTip + bTip}) — a mart " +
            "created under the retired bit-packed batchId encoding (or its " +
            "sources' logs were re-created at lower versions); maintenance " +
            "would silently no-op. Re-create the mart to adopt the " +
            "monotone tip-sum encoding."))
      if (curA == aTip && curB == bTip) return (aTip, bTip, 0L) // caught up
      // no window on a caught-up side
      def feedOf(root: String, cur: Long, tip: Long): Option[DataFrame] =
        if (cur == tip) None
        else Some(ManifestTable.readChanges(spark, root, cur, Some(tip))._1)
      val dA = feedOf(aRoot, curA, aTip)
      val dB = feedOf(bRoot, curB, bTip)
      // affected join keys: either side, either sign — recompute beats
      // signed retraction because a MOR delete of one duplicate joined
      // row has no positional identity in the mart
      val keys = (dA.map(_.select(col(aKeyCol).as("__k"))) ++
          dB.map(_.select(col(bKeyCol).as("__k"))))
        .reduce(_ unionByName _).distinct().localCheckpoint()
      val aFresh = ManifestTable.read(spark, aRoot, Some(aTip))
        .join(keys, col(aKeyCol) === col("__k"), "left_semi")
      val bFresh = ManifestTable.read(spark, bRoot, Some(bTip))
        .join(keys, col(bKeyCol) === col("__k"), "left_semi")
      val fresh = joined(aFresh, bFresh).localCheckpoint()
      // retraction rows need only the KEY (applyChangesMor deletes bind
      // by key to pre-batch positions); null-fill the rest of the mart
      // schema so the feed unions — zero scan of the mart
      val martSchema = fresh.schema
      val delFeed = keys.select(martSchema.fields.map(f =>
        (if (f.name == aKeyCol) col("__k") else lit(null))
          .cast(f.dataType).as(f.name)): _*)
      val ct = "_change_type"
      val feed = delFeed.withColumn(ct, lit("delete"))
        .unionByName(fresh.withColumn(ct, lit("insert")))
      // strictly increasing batch scalar: cursors never regress and at
      // least one strictly advances per maintenance, so the SUM of the
      // two tips is deterministic for a given window (a crash replay
      // recomputes the same value → exactly-once no-op) and strictly
      // monotone across windows — with no overflow cliff at any version
      // (the old (aTip << 21) | bTip packing hard-failed at b=2^21 and
      // silently wrapped at a=2^42)
      ManifestTable.applyChangesMor(spark, martRoot, feed, aKeyCol,
        writerId, batchId = aTip + bTip,
        extraMeta = Map(ckA -> aTip.toString, ckB -> bTip.toString),
        feedTags = Some(Set("insert", "delete")))
      (aTip, bTip, fresh.count())
    }
  }

  /** The COMPOSED lifecycle (mv8): one call advances the `A ⋈ B` join
    * mart over both facts (total feed — MOR deletes and merges
    * maintain), the count/sum AGGREGATE mart maintained OVER the join
    * mart (the join mart is itself a manifest table, so
    * [[maintainAggMartTotal]] rides its change feed — the agg refresh
    * is O(join-mart change volume), never O(join)), and BOTH rewrite
    * registrations. After it, a provable `groupBy(key).agg(count,
    * dsum(value))` ABOVE the registered join serves from the agg mart
    * in O(groups), scanning neither fact nor the join mart — the shape
    * real BI traffic has. Returns (consumedA, consumedB,
    * joinMartVersionConsumed, aggChangeRows). */
  def maintainJoinAggAndReregister(
      spark: org.apache.spark.sql.SparkSession,
      aRoot: String,
      bRoot: String,
      joinMartRoot: String,
      aggMartRoot: String,
      aKeyCol: String,
      bKeyCol: String,
      groupKeyCol: String,
      valueCol: String,
      maxVersionLag: Long = Long.MaxValue,
      writerId: String = "joinagg"): (Long, Long, Long, Long) = {
    val (aV, bV, _) = maintainJoinMartTotal(spark, aRoot, bRoot, joinMartRoot,
      aKeyCol, bKeyCol, writerId = s"$writerId-join")
    val (mV, aggRows) = maintainAggMartTotal(spark, joinMartRoot, aggMartRoot,
      Seq(groupKeyCol), valueCol, writerId = s"$writerId-agg")
    graft.plans.MartRewrite.registerJoin(
      spark, aRoot, bRoot, aKeyCol, bKeyCol, joinMartRoot, maxVersionLag)
    graft.plans.MartRewrite.register(
      spark, joinMartRoot, Seq(groupKeyCol), valueCol, aggMartRoot, maxVersionLag)
    (aV, bV, mV, aggRows)
  }

  /** Incremental cross-batch NEAR-DUP discovery — "dedup the daily crawl
    * against the corpus without re-scanning the corpus": over an
    * append-only documents table, maintain a shingle INDEX mart
    * (doc_id, n_sh, shingle — range-clustered and stats-committed on
    * shingle) and a PAIRS mart (doc_a, doc_b, shared_shingles, jaccard)
    * such that after every call the pairs mart equals
    * [[graft.ops.DedupOps.ngramJaccardPairs]] (uncapped) over the WHOLE
    * corpus, at O(batch + probed buckets) per window instead of
    * O(corpus²) per day.
    *
    * The delta algebra is APPEND-ONLY because every pair's statistics
    * are pair-local: shared = |sh(a) ∩ sh(b)| and the set sizes are
    * fixed per document, so a pair's row never changes once both
    * documents exist. A window therefore adds exactly
    *  - new⋈old pairs: probe the index with the batch's shingles —
    *    [[graft.sources.ManifestTable.readPrunedByKeys]] reads only the
    *    index files whose committed shingle ranges can match (the
    *    clustered layout makes the probe O(overlapping buckets)) — and
    *    count shared shingles per (old, new) pair;
    *  - new⋈new pairs: the batch against itself;
    * old⋈old pairs are already in the mart. This is also WHY the
    * maintained contract is the UNCAPPED one: dd2's stop-shingle
    * frequency cap makes a pair's count depend on a GLOBAL df that
    * grows across windows — a shingle crossing the cap would retract
    * previously-correct pairs, which needs the periodic-rebuild
    * treatment (documented, not built). Production bounds the probe
    * fan-out instead by clustering + stats pruning, which is what the
    * index layout provides.
    *
    * Exactly-once without a multi-table transaction: the pairs append
    * lands FIRST, the index append LAST, both idempotent on
    * (writerId, consumed docs version), and the INDEX watermark — the
    * last completed step — is the cursor. A crash between the two
    * replays the window into a pairs no-op plus the missing index
    * append; both watermarks ride `txn-*` meta, so an OPTIMIZE on
    * either mart can never lose the maintainer's position. Non-append
    * document history refuses ([[graft.sources.NotDeltaExpressible]]) —
    * near-dup discovery is defined over a growing corpus.
    *
    * Returns (consumedVersion, newDocRows, newPairRows). */
  def maintainNearDupPairs(
      spark: org.apache.spark.sql.SparkSession,
      docsRoot: String,
      indexRoot: String,
      pairsRoot: String,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minShared: Long = 2L,
      minJaccard: Double = 0.1,
      writerId: String = "neardup"): (Long, Long, Long) = {
    import graft.sources.ManifestTable
    val tip = tipOf(spark, docsRoot)
    val txnKey = s"txn-$writerId"
    // ONE tip-meta read per mart per window — txn-* keys carry forward
    // to the tip with max semantics ([[ManifestTable.metaWithTxnCarry]]),
    // so the tip already holds the history's max
    def watermarkOf(root: String): Option[Long] =
      ManifestTable.txnWatermark(spark, root, txnKey)
    def explodedOf(docs: DataFrame): DataFrame =
      DedupOps.widen(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
        .select(col("doc_id"), DedupOps.shingles(col("__text"), n).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("shingle"))
    // exploded row count in ONE narrow scan — sizing a bootstrap index
    // write must not localCheckpoint the corpus × shingles blow-up
    // (measured 2× on the uncapped bootstrap at 10×)
    def explodedRows(docs: DataFrame): Long =
      DedupOps.widen(docs.select(col(textCol).as("__text")))
        .select(size(DedupOps.shingles(col("__text"), n)).as("k"))
        .agg(coalesce(sum(col("k")), lit(0L))).head.getLong(0)
    // Crash-safety invariant: the pairs append lands FIRST, the index
    // append LAST, and the INDEX watermark is the cursor. A crash
    // between the two leaves pairsTxn > indexTxn; if more docs land
    // before the replay, an unbounded window cursor→tip would carry a
    // batchId ABOVE the pairs watermark and re-append the crashed
    // sub-window's pairs. So each step replays EXACTLY the in-flight
    // window (cursor→pairsTxn) first — the pairs append is then a true
    // no-op and the index catches up — and only a clean state advances
    // to the tip. Bootstrap has the same two-step shape (pairs create,
    // then index create), recovered by rebuilding the index from the
    // pairs mart's recorded docs version.
    var consumed = -1L
    var totDocs = 0L
    var totPairs = 0L
    var done = false
    while (!done) {
      val idxVs = ManifestTable.versions(spark, indexRoot)
      if (idxVs.isEmpty) {
        watermarkOf(pairsRoot) match {
          case Some(t0) =>
            // crashed bootstrap: pairs landed for docs@t0, index missing —
            // rebuild the index for exactly that snapshot, then loop to
            // process t0→tip incrementally.
            val docs0 = ManifestTable.read(spark, docsRoot, Some(t0))
            ManifestTable.create(spark, indexRoot,
              sizedByRange(explodedOf(docs0), explodedRows(docs0), "shingle"),
              meta = Map(txnKey -> t0.toString), statsColumns = Seq("shingle"))
            consumed = t0
          case None =>
            val docs = ManifestTable.read(spark, docsRoot, Some(tip))
            val nDocs = docs.count()
            val pairs = DedupOps.ngramJaccardPairs(docs, idCol, textCol,
              n, minShared, minJaccard, maxShingleFreq = None).localCheckpoint()
            ManifestTable.create(spark, pairsRoot, pairs,
              meta = Map(txnKey -> tip.toString))
            ManifestTable.create(spark, indexRoot,
              sizedByRange(explodedOf(docs), explodedRows(docs), "shingle"),
              meta = Map(txnKey -> tip.toString), statsColumns = Seq("shingle"))
            consumed = tip; totDocs += nDocs; totPairs += pairs.count()
            done = true
        }
      } else {
        val cursor = ManifestTable.txnWatermark(spark, indexRoot, txnKey,
          tipHint = idxVs.lastOption).getOrElse(throw new IllegalStateException(
          s"$indexRoot has no $txnKey watermark — not a maintained near-dup index"))
        if (cursor >= tip) { consumed = consumed.max(cursor); done = true }
        else {
          // replay bound: if the pairs mart's watermark leads the index,
          // a crash interrupted that exact window — re-run it verbatim.
          val pairsTxn = watermarkOf(pairsRoot).getOrElse(cursor)
          val bound = if (pairsTxn > cursor) Some(pairsTxn) else None
          val (newDocs, newTip) =
            ManifestTable.readChangesSince(spark, docsRoot, cursor, bound)
          val nDocs = newDocs.count()
          val newEx = explodedOf(newDocs).localCheckpoint()
          // probe the index at ITS tip — pre-window by construction (the
          // index only advances as this maintainer's LAST step)
          val probe = ManifestTable.readPrunedByKeys(spark, indexRoot, "shingle",
            newEx.select("shingle").distinct(), version = Some(idxVs.max),
            keysDistinct = true)
          val newOld = probe
            .select(col("doc_id").as("a_id"), col("n_sh").as("a_n"), col("shingle"))
            .join(newEx.select(
              col("doc_id").as("b_id"), col("n_sh").as("b_n"), col("shingle")), "shingle")
            .groupBy("a_id", "b_id", "a_n", "b_n") // sizes are functionally dependent on ids
            .agg(count(lit(1)).as("shared_shingles"))
            .withColumn("jaccard", round(col("shared_shingles").cast("double") /
              (col("a_n") + col("b_n") - col("shared_shingles")), 4))
            .filter(col("shared_shingles") >= minShared && col("jaccard") >= minJaccard)
            .select(least(col("a_id"), col("b_id")).as("doc_a"),
              greatest(col("a_id"), col("b_id")).as("doc_b"),
              col("shared_shingles"), col("jaccard"))
          val newNew = DedupOps.ngramJaccardPairs(newDocs, idCol, textCol,
            n, minShared, minJaccard, maxShingleFreq = None)
          val newPairs = newOld.unionByName(newNew).localCheckpoint()
          val pairsReplayed = pairsTxn >= newTip
          ManifestTable.appendIdempotent(spark, pairsRoot, newPairs, writerId,
            batchId = newTip)
          ManifestTable.appendIdempotent(spark, indexRoot,
            sizedByRange(newEx, newEx.count(), "shingle"), writerId, batchId = newTip,
            statsColumns = Seq("shingle"))
          // clustering-decay control on the probe-keyed index (same
          // cadence as the capped maintainer's marts): per-batch
          // clustering keeps each window's files disjoint, the periodic
          // recluster keeps the window probe file-bounded across windows
          reclusterIfNeeded(spark, indexRoot, "shingle", Seq("shingle"))
          consumed = newTip
          totDocs += nDocs
          // a replayed window's pairs were already committed pre-crash —
          // don't double-report them
          if (!pairsReplayed) totPairs += newPairs.count()
          done = bound.isEmpty // bounded replay → loop on to the real tip
        }
      }
    }
    (consumed, totDocs, totPairs)
  }

  /** Incrementally-maintained benchmark-contamination SKETCH — "the
    * eval suite keeps growing; keep the decontamination screen current
    * without re-sketching the whole benchmark set": over an append-only
    * PROBES table, maintain a single-row SKETCH mart holding the Bloom
    * filter of every probe, BITWISE-IDENTICAL after every window to
    * building the filter from scratch — Bloom construction is an
    * OR-fold of per-probe bit sets (associative, commutative,
    * idempotent), so each window's batch filter ORs into the stored
    * words in O(batch + registers), never O(|benchmarks|).
    *
    * Exactly-once is trivial by construction: the merged words and the
    * consumed-version cursor ride ONE atomic overwrite (`txn-` prefixed,
    * so the cursor survives any later OPTIMIZE max-wins). The filter
    * parameters are pinned in the mart's meta — two filters only OR
    * soundly over the same (numBits, numHashes), so a mismatched
    * maintenance call refuses instead of silently corrupting bits.
    * Non-append probe history refuses ([[graft.sources
    * .NotDeltaExpressible]]) — benchmark suites only grow.
    *
    * Returns (consumedVersion, newProbeRows). */
  def maintainContaminationSketch(
      spark: org.apache.spark.sql.SparkSession,
      probesRoot: String,
      sketchRoot: String,
      probeCol: String,
      numBits: Int = 1 << 16,
      numHashes: Int = 5,
      writerId: String = "ctm-sketch"): (Long, Long) = {
    import graft.sources.ManifestTable
    graft.functions.NativeExpressions.register(spark)
    val tip = tipOf(spark, probesRoot)
    val txnKey = s"txn-$writerId"
    val paramMeta = Map("ctm-bits" -> numBits.toString, "ctm-hashes" -> numHashes.toString)
    def bloomOf(df: DataFrame): DataFrame =
      df.agg(expr(s"graft_bloom_build(`$probeCol`, $numBits, $numHashes)").as("words"))
    val sVs = ManifestTable.versions(spark, sketchRoot)
    if (sVs.isEmpty) {
      val probes = ManifestTable.read(spark, probesRoot, Some(tip))
      val n = probes.count()
      ManifestTable.create(spark, sketchRoot, bloomOf(probes),
        meta = paramMeta + (txnKey -> tip.toString))
      (tip, n)
    } else {
      val meta = ManifestTable.manifestMeta(spark, sketchRoot, sVs.max)
      paramMeta.foreach { case (k, v) =>
        require(meta.get(k).contains(v),
          s"$sketchRoot was built with $k=${meta.getOrElse(k, "?")}, maintenance passed $v — " +
            "Bloom words only OR soundly over identical parameters")
      }
      val cursor = ManifestTable.txnWatermark(spark, sketchRoot, txnKey,
        tipHint = sVs.lastOption).getOrElse(throw new IllegalStateException(
        s"$sketchRoot has no $txnKey cursor — not a maintained contamination sketch"))
      if (cursor >= tip) return (cursor, 0L)
      val (newProbes, newTip) = ManifestTable.readChangesSince(spark, probesRoot, cursor)
      val n = newProbes.count()
      val stored = ManifestTable.read(spark, sketchRoot).select(col("words").as("__a"))
      val merged = bloomOf(newProbes).select(col("words").as("__b"))
        .crossJoin(stored) // 1×1: the stored registers ride along
        .select(zip_with(col("__a"), col("__b"), (x, y) => x.bitwiseOR(y)).as("words"))
      ManifestTable.overwrite(spark, sketchRoot, merged,
        meta = paramMeta + (txnKey -> newTip.toString))
      (newTip, n)
    }
  }

  /** Screen `docs` against the MAINTAINED contamination sketch,
    * CONSISTENT with the probes snapshot the sketch covers (the cursor
    * rides the sketch mart): Bloom prefilter with the stored words —
    * O(len) per document, independent of |probes| — then the exact
    * contains() verify join against probes AT THE CURSOR VERSION, so
    * the answer equals [[graft.ops.ContaminationOps.bloomScreen]] over
    * exactly the sketched benchmark set even while new probes land. */
  def screenWithContaminationSketch(
      spark: org.apache.spark.sql.SparkSession,
      sketchRoot: String,
      probesRoot: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      probeIdCol: String,
      probeCol: String,
      probeLen: Int,
      writerId: String = "ctm-sketch"): DataFrame = {
    import graft.sources.ManifestTable
    graft.functions.NativeExpressions.register(spark)
    val sTip = tipOf(spark, sketchRoot)
    val meta = ManifestTable.manifestMeta(spark, sketchRoot, sTip)
    val txnKey = s"txn-$writerId"
    val cursor = meta.getOrElse(txnKey, throw new IllegalStateException(
      s"$sketchRoot has no $txnKey cursor — not a maintained contamination sketch")).toLong
    val numHashes = meta.getOrElse("ctm-hashes", throw new IllegalStateException(
      s"$sketchRoot has no ctm-hashes meta — not a maintained contamination sketch")).toInt
    val probes = ManifestTable.read(spark, probesRoot, Some(cursor))
    val bloom = ManifestTable.read(spark, sketchRoot, Some(sTip))
      .select(col("words").as("__bloom"))
    docs
      .join(broadcast(bloom)) // one-row cross join: the filter rides the broadcast
      .filter(expr(s"graft_bloom_text_hit(`$textCol`, __bloom, $probeLen, $numHashes)"))
      .drop("__bloom")
      .join(broadcast(probes),
        col(textCol).contains(col(probeCol)) && col(idCol) =!= col(probeIdCol))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_probe_hits"), min(probeIdCol).as("first_probe"))
  }

  /** [[maintainNearDupPairs]] under the CAPPED contract — the variant a
    * production corpus actually runs: after every call the pairs mart
    * equals [[graft.ops.DedupOps.ngramJaccardPairs]] with
    * `maxShingleFreq = Some(cap)` over the WHOLE corpus. The cap drops
    * stop-shingles (document frequency > cap) from pair generation AND
    * from the per-doc set sizes, which is what makes the uncapped
    * maintainer's append-only algebra insufficient: a shingle CROSSING
    * the cap as the corpus grows retracts shared counts and shrinks
    * sizes — so jaccard changes — for every document containing it.
    *
    * The delta rule is the semi-join-restricted recompute (the
    * [[maintainJoinMartTotal]] treatment): a window's changes are
    * confined to AFFECTED documents = new docs ∪ docs containing a
    * cap-crossing shingle, because (a) a pair's shared count changes
    * only via a crossed shingle — shared by BOTH endpoints, making both
    * affected; (b) a doc's capped size changes only when it contains a
    * crosser; (c) new pairs involve a new doc. So: retract every mart
    * pair touching an affected doc, recompute those pairs under the new
    * frequency landscape, and leave the (vast) unaffected remainder
    * unread. State:
    *  - INDEX mart (append-only; doc_id, n_sh raw, shingle;
    *    range-clustered + stats on shingle) — candidate probes and
    *    document-frequency counts read only overlapping buckets;
    *  - SIZES mart (doc_id, n_sh = CAPPED size; MOR-maintained) — an
    *    unaffected endpoint's denominator in O(probed files), no
    *    re-shingling of old docs;
    *  - PAIRS mart (pair_key, doc_a, doc_b, shared_shingles, jaccard;
    *    MOR-maintained, keyed by the canonical pair).
    * Cost per window: O(batch + crosser neighborhoods + touched pairs),
    * never O(corpus²) — the uncapped maintainer's output-quadratic
    * hot-shingle growth is exactly what the cap removes.
    *
    * Exactly-once across crashes, generalized from the two-mart ladder:
    * apply order is pairs → sizes → index, all idempotent on
    * (writerId, consumed docs version), with the INDEX watermark as the
    * cursor. On entry, a LEADING pairs/sizes watermark bounds the
    * replay window to exactly the in-flight window (leading applies
    * no-op by watermark; trailing catch up), then the loop advances to
    * the real tip. Bootstrap creates in the same order and recovers by
    * rebuilding the missing marts from the docs snapshot the leading
    * mart recorded. Non-append document history refuses
    * ([[graft.sources.NotDeltaExpressible]]).
    *
    * Returns (consumedVersion, newDocRows, freshPairRowsWritten). */
  def maintainNearDupPairsCapped(
      spark: org.apache.spark.sql.SparkSession,
      docsRoot: String,
      indexRoot: String,
      sizesRoot: String,
      pairsRoot: String,
      idCol: String,
      textCol: String,
      maxShingleFreq: Long,
      n: Int = 3,
      minShared: Long = 2L,
      minJaccard: Double = 0.1,
      writerId: String = "neardup-capped"): (Long, Long, Long) = {
    import graft.sources.ManifestTable
    val cap = maxShingleFreq
    require(cap > 0, s"maxShingleFreq must be positive, got $cap")
    val tip = tipOf(spark, docsRoot)
    val txnKey = s"txn-$writerId"
    val ct = "_change_type"
    // ONE tip-meta read per mart per window (txn-* keys carry forward to
    // the tip with max semantics — see [[ManifestTable.txnWatermark]])
    def watermarkOf(root: String): Option[Long] =
      ManifestTable.txnWatermark(spark, root, txnKey)
    def explodedOf(docs: DataFrame): DataFrame =
      DedupOps.widen(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
        .select(col("doc_id"), DedupOps.shingles(col("__text"), n).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("shingle"))
    // exploded row count in ONE narrow scan — sizing a bootstrap index
    // write must not localCheckpoint the corpus × shingles blow-up
    // (measured 2× on the uncapped bootstrap at 10×)
    def explodedRows(docs: DataFrame): Long =
      DedupOps.widen(docs.select(col(textCol).as("__text")))
        .select(size(DedupOps.shingles(col("__text"), n)).as("k"))
        .agg(coalesce(sum(col("k")), lit(0L))).head.getLong(0)
    // capped per-doc sizes over a full snapshot (bootstrap/recovery): a
    // doc keeps a row even at zero surviving shingles — sizes only
    // shrink under appends, so absence never needs to flip to presence
    def cappedSizesOf(docs: DataFrame): DataFrame = {
      val ex = explodedOf(docs)
      val dfq = ex.groupBy("shingle").agg(count(lit(1)).as("__df"))
      ex.join(dfq, "shingle").filter(col("__df") <= cap)
        .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        .join(docs.select(col(idCol).as("doc_id")), Seq("doc_id"), "right")
        .na.fill(0L, Seq("n_sh"))
        .select("doc_id", "n_sh")
    }
    def withPairKey(p: DataFrame): DataFrame = p.select(
      concat(col("doc_a").cast("string"), lit("|"), col("doc_b").cast("string"))
        .as("pair_key"),
      col("doc_a"), col("doc_b"), col("shared_shingles"), col("jaccard"))
    var consumed = -1L
    var totDocs = 0L
    var totPairs = 0L
    var done = false
    while (!done) {
      val idxVs = ManifestTable.versions(spark, indexRoot)
      if (idxVs.isEmpty) {
        (watermarkOf(sizesRoot), watermarkOf(pairsRoot)) match {
          case (Some(t0), _) =>
            // crashed after sizes: rebuild the index for that snapshot
            val docs0 = ManifestTable.read(spark, docsRoot, Some(t0))
            ManifestTable.create(spark, indexRoot,
              sizedByRange(explodedOf(docs0), explodedRows(docs0), "shingle"),
              meta = Map(txnKey -> t0.toString), statsColumns = Seq("shingle"))
            consumed = t0
          case (None, Some(t0)) =>
            // crashed after pairs: rebuild sizes, loop rebuilds the index
            val docs0 = ManifestTable.read(spark, docsRoot, Some(t0))
            ManifestTable.create(spark, sizesRoot,
              sizedByRange(cappedSizesOf(docs0), docs0.count(), "doc_id"),
              meta = Map(txnKey -> t0.toString), statsColumns = Seq("doc_id"))
          case (None, None) =>
            val docs = ManifestTable.read(spark, docsRoot, Some(tip))
            val nDocs = docs.count()
            val pairs = withPairKey(DedupOps.ngramJaccardPairs(docs, idCol, textCol,
              n, minShared, minJaccard, maxShingleFreq = Some(cap))).localCheckpoint()
            val nPairs = pairs.count()
            ManifestTable.create(spark, pairsRoot,
              sizedByRange(pairs, nPairs, "doc_a"),
              meta = Map(txnKey -> tip.toString),
              statsColumns = Seq("doc_a", "doc_b"))
            ManifestTable.create(spark, sizesRoot,
              sizedByRange(cappedSizesOf(docs), nDocs, "doc_id"),
              meta = Map(txnKey -> tip.toString), statsColumns = Seq("doc_id"))
            ManifestTable.create(spark, indexRoot,
              sizedByRange(explodedOf(docs), explodedRows(docs), "shingle"),
              meta = Map(txnKey -> tip.toString), statsColumns = Seq("shingle"))
            consumed = tip; totDocs += nDocs; totPairs += nPairs
            done = true
        }
      } else {
        val cursor = ManifestTable.txnWatermark(spark, indexRoot, txnKey,
          tipHint = idxVs.lastOption).getOrElse(throw new IllegalStateException(
          s"$indexRoot has no $txnKey watermark — not a maintained near-dup index"))
        if (cursor >= tip) { consumed = consumed.max(cursor); done = true }
        else {
          val lead = Seq(watermarkOf(pairsRoot), watermarkOf(sizesRoot))
            .flatten.foldLeft(cursor)(_ max _)
          val bound = if (lead > cursor) Some(lead) else None
          val (newDocs0, newTip) =
            ManifestTable.readChangesSince(spark, docsRoot, cursor, bound)
          val newDocs = newDocs0.localCheckpoint()
          val nDocs = newDocs.count()
          val idxTip = idxVs.max
          val newEx = explodedOf(newDocs).localCheckpoint()
          // which batch shingles CROSS the cap this window: old df from a
          // pruned index probe, batch increments from the batch itself
          // checkpointed: consumed four times (probe0's key set, df0's
          // join, the crosser filter, dfPrime) — each use would re-run
          // the groupBy shuffle over newEx otherwise
          val bc = newEx.groupBy("shingle").agg(count(lit(1)).as("__bc")).localCheckpoint()
          val probe0 = ManifestTable.readPrunedByKeys(spark, indexRoot, "shingle",
            bc.select("shingle"), version = Some(idxTip), keysDistinct = true)
            .join(bc.select("shingle"), Seq("shingle"), "left_semi")
          val df0 = probe0.groupBy("shingle").agg(count(lit(1)).as("__df0"))
          val crossers0 = bc.join(df0, Seq("shingle"), "left")
            .na.fill(0L, Seq("__df0"))
            .filter(col("__df0") <= cap && col("__df0") + col("__bc") > cap)
            .select("shingle")
          val crossers = crossers0.localCheckpoint()
          val affectedOldIds = probe0.join(crossers, Seq("shingle"), "left_semi")
            .select("doc_id").distinct()
          // affected docs' full shingle sets: old ones re-read from the
          // docs table (pruned by id when stats allow), new ones in hand
          val oldAffDocs = ManifestTable.readPrunedByKeys(spark, docsRoot, idCol,
            affectedOldIds.withColumnRenamed("doc_id", idCol), version = Some(newTip),
            keysDistinct = true)
            .join(affectedOldIds.withColumnRenamed("doc_id", idCol),
              Seq(idCol), "left_semi")
          val affEx = explodedOf(oldAffDocs.unionByName(newDocs)).localCheckpoint()
          val affectedIds = affEx.select("doc_id").distinct().localCheckpoint()
          val universe = affEx.select("shingle").distinct()
          // NEW frequency landscape for every shingle an affected doc
          // carries: rows already indexed + this batch's rows
          val probeU = ManifestTable.readPrunedByKeys(spark, indexRoot, "shingle",
            universe, version = Some(idxTip), keysDistinct = true)
            .join(universe, Seq("shingle"), "left_semi")
            .select("doc_id", "shingle").localCheckpoint()
          val dfPrime = universe
            .join(probeU.groupBy("shingle").agg(count(lit(1)).as("__old")),
              Seq("shingle"), "left")
            .join(bc, Seq("shingle"), "left")
            .na.fill(0L, Seq("__old", "__bc"))
            .withColumn("__df", col("__old") + col("__bc"))
          // checkpointed: three consumers (affSurv twice through
          // affSizes/shared, rowsU once) would each re-run the
          // probeU-groupBy + bc join chain otherwise
          val surviving = dfPrime.filter(col("__df") <= cap).select("shingle").localCheckpoint()
          val affSurv = affEx.select("doc_id", "shingle")
            .join(surviving, Seq("shingle"), "left_semi")
          val rowsU = probeU.unionByName(newEx.select("doc_id", "shingle"))
            .join(surviving, Seq("shingle"), "left_semi")
          // fresh capped sizes for EVERY affected doc (zero kept as zero)
          val affSizes0 = affSurv.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
            .join(affectedIds, Seq("doc_id"), "right")
            .na.fill(0L, Seq("n_sh"))
            .select("doc_id", "n_sh")
          val affSizes = affSizes0.localCheckpoint()
          // candidate pairs: affected × (docs sharing a surviving
          // shingle); countDistinct collapses the double emission of
          // both-affected pairs. Checkpointed: the window's most
          // expensive join would otherwise run THREE times — once for
          // the endpoint key-collect (oldSizes' probe), once inside
          // freshPairs, and the probe's own plan
          val shared = affSurv.select(col("doc_id").as("__a"), col("shingle"))
            .join(rowsU.select(col("doc_id").as("__b"), col("shingle")), Seq("shingle"))
            .filter(col("__a") =!= col("__b"))
            .select(least(col("__a"), col("__b")).as("doc_a"),
              greatest(col("__a"), col("__b")).as("doc_b"), col("shingle"))
            .groupBy("doc_a", "doc_b")
            .agg(countDistinct(col("shingle")).as("shared_shingles"))
            .localCheckpoint()
          // denominators: fresh sizes for affected endpoints, the sizes
          // mart (pruned probe) for unaffected ones — an unaffected
          // doc's capped size is unchanged by construction
          val endpointIds = shared.select(col("doc_a").as("doc_id"))
            .unionByName(shared.select(col("doc_b").as("doc_id"))).distinct()
          val unaffectedNeeded = endpointIds.join(affectedIds, Seq("doc_id"), "left_anti")
          val sizesTip = tipOf(spark, sizesRoot)
          val oldSizes = ManifestTable.readPrunedByKeys(spark, sizesRoot, "doc_id",
            unaffectedNeeded, version = Some(sizesTip), keysDistinct = true)
            .join(unaffectedNeeded, Seq("doc_id"), "left_semi")
            .select("doc_id", "n_sh")
          val lookup = affSizes.unionByName(oldSizes)
          val fresh = shared
            .join(lookup.select(col("doc_id").as("doc_a"), col("n_sh").as("__na")),
              Seq("doc_a"))
            .join(lookup.select(col("doc_id").as("doc_b"), col("n_sh").as("__nb")),
              Seq("doc_b"))
            .withColumn("jaccard", round(col("shared_shingles").cast("double") /
              (col("__na") + col("__nb") - col("shared_shingles")), 4))
            .filter(col("shared_shingles") >= minShared && col("jaccard") >= minJaccard)
          val freshPairs = withPairKey(fresh).localCheckpoint()
          // retract EVERY mart pair touching an affected doc (its fresh
          // truth — possibly absence — is in freshPairs)
          val pairsTip = tipOf(spark, pairsRoot)
          def touchedBy(kc: String): DataFrame =
            ManifestTable.readPrunedByKeys(spark, pairsRoot, kc,
              affectedIds.withColumnRenamed("doc_id", kc), version = Some(pairsTip),
              keysDistinct = true)
              .join(affectedIds.withColumnRenamed("doc_id", kc), Seq(kc), "left_semi")
              .select("pair_key")
          val delKeys = touchedBy("doc_a").unionByName(touchedBy("doc_b"))
            .distinct().localCheckpoint()
          val pairsSchema = freshPairs.schema
          def nullFeed(keys: DataFrame, keyName: String): DataFrame =
            keys.select(pairsSchema.fields.map(f =>
              (if (f.name == keyName) col(keyName) else lit(null))
                .cast(f.dataType).as(f.name)).toIndexedSeq: _*)
          // the insert batch lands range-clustered on doc_a so the files
          // THIS window adds stay disjoint among themselves (the
          // cross-window overlap is what the recluster cadence below
          // repairs); empty partitions write no files
          val nPairs = freshPairs.count()
          val pairsFeed = nullFeed(delKeys, "pair_key").withColumn(ct, lit("delete"))
            .unionByName(sizedByRange(freshPairs, nPairs, "doc_a")
              .withColumn(ct, lit("insert")))
          // read BEFORE applying: a pre-crash apply means this window's
          // fresh pairs were already reported once
          val pairsPreApplied = watermarkOf(pairsRoot).exists(_ >= newTip)
          ManifestTable.applyChangesMor(spark, pairsRoot, pairsFeed, "pair_key",
            writerId, batchId = newTip, statsColumns = Seq("doc_a", "doc_b"),
            feedTags = Some(Set("insert", "delete")))
          val sizesSchema = affSizes.schema
          val sizesFeed = affectedIds.select(sizesSchema.fields.map(f =>
              (if (f.name == "doc_id") col("doc_id") else lit(null))
                .cast(f.dataType).as(f.name)).toIndexedSeq: _*)
            .withColumn(ct, lit("delete"))
            .unionByName(sizedByRange(affSizes, affSizes.count(), "doc_id")
              .withColumn(ct, lit("insert")))
          ManifestTable.applyChangesMor(spark, sizesRoot, sizesFeed, "doc_id",
            writerId, batchId = newTip, statsColumns = Seq("doc_id"),
            feedTags = Some(Set("insert", "delete")))
          ManifestTable.appendIdempotent(spark, indexRoot,
            sizedByRange(newEx, newEx.count(), "shingle"), writerId, batchId = newTip,
            statsColumns = Seq("shingle"))
          // clustering-decay control, AFTER the window's ladder completes
          // (the watermark ladder's crash replay is untouched — a
          // recluster is content-identical, one atomic overwrite, and
          // the txn-* watermarks carry through it): append-only growth
          // erodes the range clustering the pruned probes depend on —
          // each window's batch is internally disjoint but batches
          // OVERLAP each other, so a point probe's kept-file count grows
          // O(windows). When a mart's live file count crosses the
          // threshold, rewrite it range-clustered on its probe key; the
          // count falls back to the shuffle width, so the amortized cost
          // per window is O(mart / windows-between-reclusters) — the LSM
          // compaction economics, metered by the spec.
          reclusterIfNeeded(spark, pairsRoot, "doc_a", Seq("doc_a", "doc_b"))
          reclusterIfNeeded(spark, sizesRoot, "doc_id", Seq("doc_id"))
          reclusterIfNeeded(spark, indexRoot, "shingle", Seq("shingle"))
          consumed = newTip
          totDocs += nDocs
          if (!pairsPreApplied) totPairs += nPairs
          done = bound.isEmpty
        }
      }
    }
    (consumed, totDocs, totPairs)
  }
}
