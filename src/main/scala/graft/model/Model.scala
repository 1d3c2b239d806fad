package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialization strategy — the engine's equivalent of dbt's
  * `materialized:` config (reference: dbt_project.yml:23-27 — staging
  * models are views, marts are tables).
  */
sealed trait Materialization
object Materialization {
  /** Lazy DataFrame lineage, recomputed per downstream use — exact analogue
    * of a warehouse view. */
  case object View extends Materialization
  /** Written to parquet once per run; downstream reads scan the table. */
  case object Table extends Materialization
  /** dbt's `materialized: incremental`: the first run writes the full
    * build; later runs re-invoke `build` with the existing table exposed
    * as ref("this") (dbt's `{{ this }}` / `is_incremental()` contract —
    * the model filters its sources down to the new batch, e.g. on
    * max(updated_at)), then applies the strategy.
    */
  final case class Incremental(strategy: IncrementalStrategy) extends Materialization
}

/** How an incremental batch lands in the existing table (dbt's
  * `incremental_strategy` config). */
sealed trait IncrementalStrategy
object IncrementalStrategy {
  /** Rows whose `uniqueKey` appears in the batch are replaced wholesale,
    * new keys appended (dbt delete+insert / merge-on-unique-key).
    *
    * Scale: the merge is existing ⟕anti batch ∪ batch — one shuffle
    * proportional to table+batch, and the rewrite goes through a staging
    * directory swapped in via FileSystem.rename, so a failed run never
    * leaves a half-written table (production would use a transactional
    * table format to rewrite only impacted files; the relational
    * semantics dbt compiles to are exactly these).
    */
  final case class DeleteInsert(uniqueKey: String) extends IncrementalStrategy
  /** Insert-only event-log accumulation (dbt append): the batch is
    * written with parquet append — no read of the existing data, no
    * staging swap, cost proportional to the batch alone. */
  case object Append extends IncrementalStrategy
}

/** Physical layout a Table-materialized model commits with — the
  * engine's `cluster_by`/`sort` config (warehouse table clustering;
  * Delta's OPTIMIZE ZORDER as a declarative property). Applied by
  * [[Registry.runStateAware]] on every (re)build:
  *  - one `clusterBy` column → range clustering (tight per-file ranges
  *    on that column);
  *  - several → z-order clustering (every listed column prunes);
  *  - `statsColumns`/`bloomColumns` add skipping stats beyond the
  *    clustered ones (cluster columns always get stats — clustering
  *    without stats would order files nobody can skip).
  * At 100 TB this is the difference between a mart every consumer
  * full-scans and one where the dashboard's date filter touches a few
  * files — declared once on the model, not re-derived per query.
  */
final case class TableLayout(
    clusterBy: Seq[String] = Nil,
    statsColumns: Seq[String] = Nil,
    bloomColumns: Seq[String] = Nil,
    /** Explicit output file count. None lets AQE size the shuffle (the
      * production default — files land near the advisory partition
      * size); Some(n) pins the count, which AQE respects as a
      * user-specified repartition. */
    files: Option[Int] = None) {
  /** Columns that get min/max stats in the manifest. */
  def allStats: Seq[String] = (clusterBy ++ statsColumns).distinct
}

/** A declarative model: a named transformation over upstream relations.
  *
  * `build` receives resolved upstream DataFrames keyed by name — the
  * engine's `ref()` (reference: {{ ref('...') }} at stg_customers.sql:7,
  * customers.sql:3,9,15, orders.sql:5,11). Dependencies are declared
  * statically so the registry can topo-sort before execution, exactly as
  * dbt compiles its DAG before running (SURVEY.md §3.2).
  *
  * @param name         logical relation name downstream models `ref()`
  * @param deps         upstream relation names (seeds or models)
  * @param materialization View (lazy) or Table (written)
  * @param build        pure DataFrame transformation
  * @param columnDocs   column → description metadata (the `dbt docs` surface,
  *                     reference: models/schema.yml, models/docs.md)
  * @param codeVersion  declared version of the transformation logic — the
  *                     engine's analog of dbt's compiled-SQL checksum for
  *                     `state:modified` selection. `build` is a Scala
  *                     closure and has no canonical hash, so the author
  *                     bumps this string when the logic changes; the
  *                     state-aware runner folds it into the model's input
  *                     fingerprint (see [[Registry.runStateAware]]).
  */
final case class Model(
    name: String,
    deps: Seq[String],
    materialization: Materialization,
    build: Map[String, DataFrame] => DataFrame,
    columnDocs: Map[String, String] = Map.empty,
    codeVersion: String = "1",
    layout: TableLayout = TableLayout()
)

/** Model registry + runner: `ref()` resolution, cycle-checked topological
  * ordering, view-vs-table materialization (SURVEY.md §3.2).
  *
  * Scale notes:
  *  - Views stay lazy: Catalyst sees the whole expression tree from seed
  *    scan to mart sink, so column pruning and predicate pushdown cross
  *    model boundaries — a mart that uses 3 of a view's 10 columns only
  *    scans 3 (reference parity with warehouse view inlining).
  *  - Tables cut the lineage at a parquet write, bounding plan size and
  *    enabling reuse across downstream consumers without recompute.
  */
final class Registry(
    models: Seq[Model],
    /** Named reusable doc blocks — the `{% docs name %}` analog
      * (reference: models/docs.md). A columnDocs value of exactly
      * `doc("name")` (dbt's `{{ doc("name") }}` reference form, braces
      * dropped) resolves to the block's body at render time; an unknown
      * name fails the render loudly, like dbt's compile error. */
    val docBlocks: Map[String, String] = Map.empty,
    /** Project-level overview — the `{% docs __overview__ %}` analog
      * (reference: models/overview.md); rendered at the head of the
      * catalog when present. */
    val overview: Option[String] = None) {
  require(models.map(_.name).distinct.size == models.size, "duplicate model names")

  private val byName: Map[String, Model] = models.map(m => m.name -> m).toMap

  /** Kahn topological sort over the ref() DAG; deps on names not present in
    * the registry are treated as sources the caller must provide.
    */
  def topoOrder: Seq[Model] = {
    val visiting = scala.collection.mutable.LinkedHashSet.empty[String]
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(name: String): Unit = byName.get(name).foreach { m =>
      if (!done.contains(name)) {
        require(!visiting.contains(name), s"cycle through model '$name': ${visiting.mkString(" -> ")}")
        visiting += name
        m.deps.foreach(visit)
        visiting -= name
        done += name
      }
    }
    models.foreach(m => visit(m.name))
    done.toSeq.map(byName)
  }

  /** Render the catalog — the engine's `dbt docs generate` analogue
    * (reference: models/docs.md, models/overview.md, schema.yml
    * descriptions → static catalog, README.md:63-71): model name,
    * materialization, dependency edges, column docs, as markdown.
    */
  def renderDocs: String = {
    val DocRef = """doc\("([^"]+)"\)""".r
    def resolve(d: String): String = d match {
      case DocRef(name) => docBlocks.getOrElse(name, throw new IllegalArgumentException(
        s"""columnDocs references doc("$name") but no such doc block is registered""" +
          s" (have ${docBlocks.keys.toSeq.sorted.mkString(", ")})"))
      case other => other
    }
    val sb = new StringBuilder("# Model catalog\n")
    overview.foreach(o => sb.append('\n').append(o.trim).append('\n'))
    topoOrder.foreach { m =>
      sb.append(s"\n## ${m.name}\n")
      sb.append(s"- materialization: ${m.materialization.toString.toLowerCase}\n")
      sb.append(s"- depends on: ${if (m.deps.isEmpty) "(sources only)" else m.deps.mkString(", ")}\n")
      if (m.columnDocs.nonEmpty) {
        sb.append("\n| column | description |\n|---|---|\n")
        m.columnDocs.toSeq.sortBy(_._1).foreach { case (c, d) =>
          // a resolved block may be multi-line markdown (the status
          // taxonomy table): cell-safe single line in the column table,
          // full block rendered beneath it — dbt's catalog does the same
          val r = resolve(d)
          if (r.contains('\n')) {
            sb.append(s"| $c | see “$c” below |\n")
          } else sb.append(s"| $c | $r |\n")
        }
        m.columnDocs.toSeq.sortBy(_._1).foreach { case (c, d) =>
          val r = resolve(d)
          if (r.contains('\n'))
            sb.append(s"\n### ${m.name}.$c\n\n").append(r.trim).append('\n')
        }
      }
    }
    sb.toString
  }

  /** Run all models in dependency order.
    *
    * @param spark     session (used for table re-reads)
    * @param sources   seed/source DataFrames available to `ref()`
    * @param tableDir  where Table-materialized models are written; if None,
    *                  tables behave like cached views (test mode)
    * @return every relation (sources + models) by name
    */
  def run(
      spark: SparkSession,
      sources: Map[String, DataFrame],
      tableDir: Option[String] = None
  ): Map[String, DataFrame] = {
    val resolved = scala.collection.mutable.Map[String, DataFrame](sources.toSeq: _*)
    topoOrder.foreach { m =>
      val missing = m.deps.filterNot(resolved.contains)
      require(missing.isEmpty, s"model '${m.name}' missing upstream relation(s): ${missing.mkString(", ")}")
      val materialized = m.materialization match {
        case Materialization.View => m.build(resolved.toMap) // stay lazy — warehouse-view semantics
        case Materialization.Table =>
          tableDir match {
            case Some(dir) =>
              val path = s"$dir/${m.name}"
              val built = m.build(resolved.toMap)
              built.write.mode("overwrite").parquet(path)
              // the written schema is what footer inference would return
              spark.read.schema(built.schema).parquet(path)
            case None => m.build(resolved.toMap)
          }
        case Materialization.Incremental(strategy) =>
          tableDir match {
            case Some(dir) =>
              val path = s"$dir/${m.name}"
              val target = new org.apache.hadoop.fs.Path(path)
              val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
              val staging = new org.apache.hadoop.fs.Path(path + "__staging")
              // crash recovery: a COMPLETE staging dir (_SUCCESS present)
              // with no live table means a prior swap died between its two
              // renames — the staging copy IS the newest complete state,
              // promote it. A partial staging dir (no _SUCCESS: crash
              // mid-write) is residue — drop it and rebuild below. (A
              // staging dir BESIDE a live table is a stale leftover; the
              // overwrite below replaces it.)
              if (!fs.exists(target) && fs.exists(staging)) {
                if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) {
                  require(fs.rename(staging, target), s"staging recovery failed for ${m.name}")
                } else {
                  fs.delete(staging, true)
                }
              }
              if (!fs.exists(target)) {
                // first run: full build THROUGH the staging swap, same as
                // incremental runs — the table only ever appears
                // atomically, so a crash mid-first-write can never leave a
                // partial dir that a later run mistakes for valid state
                // and silently merges against
                m.build(resolved.toMap).write.mode("overwrite").parquet(staging.toString)
                require(fs.rename(staging, target), s"first-run staging swap failed for ${m.name}")
              } else {
                // incremental run: the model sees its own current state as
                // ref("this") and is expected to return only the new batch
                val existing = spark.read.parquet(path)
                val batch = m.build(resolved.toMap + ("this" -> existing))
                strategy match {
                  case IncrementalStrategy.Append =>
                    batch.write.mode("append").parquet(path)
                  case IncrementalStrategy.DeleteInsert(uniqueKey) =>
                    // schema drift (dbt on_schema_change: append_new_columns):
                    // a batch may carry columns the table predates, and
                    // vice versa — union by name back-fills NULL on
                    // whichever side lacks a column, so the table schema
                    // only ever widens
                    val merged = existing
                      .join(batch, Seq(uniqueKey), "left_anti")
                      .unionByName(batch, allowMissingColumns = true)
                    // write-then-swap: the merge reads `existing`, so it
                    // must land in staging first. Swap order never holds
                    // zero complete copies: retire the live table ASIDE
                    // (rename, not delete), promote staging, then drop the
                    // retired copy — a crash at any point leaves either
                    // the old table, or the new one, or a recoverable
                    // staging dir (handled above), never data loss.
                    merged.write.mode("overwrite").parquet(staging.toString)
                    val retired = new org.apache.hadoop.fs.Path(path + "__retired")
                    fs.delete(retired, true) // clear any prior crash residue
                    require(fs.rename(target, retired), s"retire failed for ${m.name}")
                    require(fs.rename(staging, target), s"staging swap failed for ${m.name}")
                    fs.delete(retired, true)
                }
              }
              spark.read.parquet(path)
            case None => m.build(resolved.toMap) // test mode: behaves like a view
          }
      }
      resolved += (m.name -> materialized)
    }
    resolved.toMap
  }

  /** Maintenance for [[runStateAware]] warehouses: every rebuild commits
    * a new table version and the superseded files stay on disk for time
    * travel — unbounded, they accumulate one table copy per code/input
    * change. Vacuums every manifest-managed model table down to
    * `keepVersions`, sweeping crashed-build orphans with it. Call from
    * the same scheduler slot that runs the pipeline, never concurrently
    * with it (ManifestTable.vacuum's no-clock contract).
    *
    * @return deleted data-file count per model (only models with an
    *         existing manifest table appear)
    */
  def vacuumTables(
      spark: SparkSession,
      tableDir: String,
      keepVersions: Int = 1): Map[String, Int] =
    topoOrder.flatMap { m =>
      val root = s"$tableDir/${m.name}"
      m.materialization match {
        case Materialization.View => None
        case _ if graft.sources.ManifestTable.versions(spark, root).isEmpty => None
        case _ =>
          Some(m.name -> graft.sources.ManifestTable.vacuum(spark, root, keepVersions))
      }
    }.toMap

  /** State-aware run — the dbt `state:modified`+`defer` analog: a
    * Table-materialized model is REBUILT only when its input state
    * changed, otherwise the existing table is read as-is.
    *
    * Tables live as [[graft.sources.ManifestTable]]s; each build commits
    * with a `state` fingerprint in the manifest metadata, so the
    * fingerprint rides the same atomic publish as the data and can never
    * describe files it didn't ship with. A model's fingerprint folds:
    *  - its own `codeVersion` (the author's compiled-artifact checksum);
    *  - each dependency's STATE TOKEN: a source's caller-supplied token
    *    (content hash, snapshot id, file mtime — whatever the caller can
    *    produce; defaults to a constant, i.e. "assume sources
    *    unchanged", dbt's own default posture), a view's transitive
    *    fingerprint (views are lazy — nothing to skip, but their logic
    *    must propagate), a table's committed manifest VERSION (a rebuild
    *    bumps it, a skip doesn't — so invalidation is transitive through
    *    the DAG by construction), an incremental model's per-run nonce
    *    (its content changes every run it applies a batch, so downstream
    *    must always rebuild).
    *
    * Skipping is sound, not just fast: an interrupted build never
    * publishes a manifest (torn writes are invisible), so a crashed run
    * leaves the previous fingerprint in place and the next run rebuilds.
    *
    * At 100 TB this is the difference between an every-run full rebuild
    * of every mart and touching only the subgraph below what changed —
    * the scheduling half of incremental processing, complementing the
    * row-level half the Incremental materialization does.
    *
    * @return (relations by name, action by model name:
    *         "view" | "built" | "skipped" | "incremental")
    */
  def runStateAware(
      spark: SparkSession,
      sources: Map[String, DataFrame],
      tableDir: String,
      sourceTokens: Map[String, String] = Map.empty
  ): (Map[String, DataFrame], Map[String, String]) = {
    import graft.sources.ManifestTable
    val resolved = scala.collection.mutable.Map[String, DataFrame](sources.toSeq: _*)
    val tokens = scala.collection.mutable.Map[String, String]()
    sources.keys.foreach(k => tokens(k) = sourceTokens.getOrElse(k, "src"))
    val actions = scala.collection.mutable.Map[String, String]()
    // declared clustering: one column → range, several → z-order
    def applyLayout(df: DataFrame, layout: TableLayout): DataFrame =
      layout.clusterBy match {
        case Nil => df
        case Seq(c) =>
          val k = org.apache.spark.sql.functions.col(c)
          layout.files.map(df.repartitionByRange(_, k)).getOrElse(df.repartitionByRange(k))
        case cs => graft.sources.ZOrder.cluster(df, cs,
          layout.files.getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt))
      }
    topoOrder.foreach { m =>
      val missing = m.deps.filterNot(resolved.contains)
      require(missing.isEmpty,
        s"model '${m.name}' missing upstream relation(s): ${missing.mkString(", ")}")
      // the layout is part of the model's state: re-clustering a mart is
      // a rebuild-worthy change even when the logic didn't move
      val fp = (s"code=${m.codeVersion}" +:
        s"layout=${(m.layout.clusterBy ++ Seq("|") ++ m.layout.allStats ++ Seq("|") ++ m.layout.bloomColumns).mkString(",")}/${m.layout.files.getOrElse(0)}" +:
        m.deps.sorted.map(d => s"$d=${tokens(d)}")).mkString(";")
      m.materialization match {
        case Materialization.View =>
          resolved(m.name) = m.build(resolved.toMap)
          tokens(m.name) = fp // lazy — logic propagates, nothing to skip
          actions(m.name) = "view"
        case Materialization.Table =>
          val root = s"$tableDir/${m.name}"
          val tip = ManifestTable.versions(spark, root).lastOption
          val prior = tip.map(v => ManifestTable.manifestMeta(spark, root, v))
          val version =
            if (prior.exists(_.get("state").contains(fp))) {
              actions(m.name) = "skipped"
              tip.get
            } else {
              val df = applyLayout(m.build(resolved.toMap), m.layout)
              val meta = Map("state" -> fp)
              actions(m.name) = "built"
              if (tip.isEmpty)
                ManifestTable.create(spark, root, df, meta,
                  statsColumns = m.layout.allStats, bloomColumns = m.layout.bloomColumns)
              else
                ManifestTable.overwrite(spark, root, df, meta,
                  statsColumns = m.layout.allStats, bloomColumns = m.layout.bloomColumns)
            }
          resolved(m.name) = ManifestTable.read(spark, root, Some(version))
          tokens(m.name) = s"v$version"
        case Materialization.Incremental(strategy) =>
          // an incremental model applies its batch every run — its content
          // token must differ run-to-run so downstream rebuilds. Here the
          // batch lands through the manifest commit protocol instead of
          // run()'s staging-swap: Append becomes ManifestTable.append —
          // ATOMIC, which parquet mode("append") never was (a crashed
          // legacy append left a torn file in the live dir; a crashed
          // manifest append leaves an invisible orphan) — and
          // DeleteInsert's merge commits as overwrite (old batches stay
          // time-travelable until vacuum). The run()'s staging-swap path
          // remains for non-manifest directories.
          val root = s"$tableDir/${m.name}"
          val tip = ManifestTable.versions(spark, root).lastOption
          val version = tip match {
            case None =>
              ManifestTable.create(spark, root,
                applyLayout(m.build(resolved.toMap), m.layout),
                statsColumns = m.layout.allStats, bloomColumns = m.layout.bloomColumns)
            case Some(v) =>
              val existing = ManifestTable.read(spark, root, Some(v))
              val batch = m.build(resolved.toMap + ("this" -> existing))
              strategy match {
                case IncrementalStrategy.Append =>
                  // each batch clusters internally; global re-clustering
                  // is an OPTIMIZE concern (ManifestTable.optimizeZOrder)
                  ManifestTable.append(spark, root, applyLayout(batch, m.layout),
                    statsColumns = m.layout.allStats, bloomColumns = m.layout.bloomColumns)
                case IncrementalStrategy.DeleteInsert(uniqueKey) =>
                  // same relational merge as run(): batch keys replace,
                  // schema widens by name (append_new_columns)
                  ManifestTable.overwrite(spark, root,
                    applyLayout(existing.join(batch, Seq(uniqueKey), "left_anti")
                      .unionByName(batch, allowMissingColumns = true), m.layout),
                    statsColumns = m.layout.allStats, bloomColumns = m.layout.bloomColumns)
              }
          }
          resolved(m.name) = ManifestTable.read(spark, root, Some(version))
          tokens(m.name) = s"v$version" // bumps every run → downstream rebuilds
          actions(m.name) = "incremental"
      }
    }
    (resolved.toMap, actions.toMap)
  }
}
