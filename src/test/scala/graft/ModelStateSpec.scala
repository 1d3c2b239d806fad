package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Materialization, Model, Registry}
import graft.model.IncrementalStrategy
import graft.sources.ManifestTable

/** The state-aware runner: rebuild only what changed (dbt
  * `state:modified` analog), with the fingerprint riding the manifest
  * commit. Counters inside the build closures prove a "skipped" model's
  * build was NOT invoked — not just that the action map says so. */
class ModelStateSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("model_state").toFile.getAbsolutePath

  private def src: DataFrame = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, i % 7, s"row$i")).toDF("id", "grp", "payload")
  }

  // a 3-level DAG: source -> view -> table(a) -> table(b)
  private def dag(viewVer: String, aVer: String, bVer: String,
      counts: Map[String, AtomicInteger]) = new Registry(Seq(
    Model("v_clean", Seq("raw"), Materialization.View,
      r => { counts("v_clean").incrementAndGet(); r("raw").filter(col("id") > 5) },
      codeVersion = viewVer),
    Model("t_agg", Seq("v_clean"), Materialization.Table,
      r => { counts("t_agg").incrementAndGet()
        r("v_clean").groupBy("grp").agg(count(lit(1)).as("n")) },
      codeVersion = aVer),
    Model("t_top", Seq("t_agg"), Materialization.Table,
      r => { counts("t_top").incrementAndGet()
        r("t_agg").orderBy(col("n").desc, col("grp")).limit(3) },
      codeVersion = bVer)))

  private def counters() = Map(
    "v_clean" -> new AtomicInteger, "t_agg" -> new AtomicInteger,
    "t_top" -> new AtomicInteger)

  test("second identical run skips every table and invokes no table build") {
    val dir = freshDir()
    val c1 = counters()
    val (rel1, act1) = dag("1", "1", "1", c1)
      .runStateAware(spark, Map("raw" -> src), dir)
    assert(act1 === Map("v_clean" -> "view", "t_agg" -> "built", "t_top" -> "built"))
    val expected = rel1("t_top").collect().toSet

    val c2 = counters()
    val (rel2, act2) = dag("1", "1", "1", c2)
      .runStateAware(spark, Map("raw" -> src), dir)
    assert(act2 === Map("v_clean" -> "view", "t_agg" -> "skipped", "t_top" -> "skipped"))
    assert(c2("t_agg").get() === 0 && c2("t_top").get() === 0,
      "a skipped model's build closure ran")
    assert(rel2("t_top").collect().toSet === expected)
    // skipping did not add table versions
    assert(ManifestTable.versions(spark, s"$dir/t_agg") === Seq(1L))
  }

  test("a mid-DAG code change rebuilds that model and its downstream, not upstream") {
    val dir = freshDir()
    dag("1", "1", "1", counters()).runStateAware(spark, Map("raw" -> src), dir)
    val c = counters()
    val (_, act) = dag("1", "2", "1", c) // t_agg logic "changed"
      .runStateAware(spark, Map("raw" -> src), dir)
    assert(act("t_agg") === "built", "changed model must rebuild")
    assert(act("t_top") === "built", "downstream of a rebuilt table must rebuild (version bumped)")
    assert(c("t_agg").get() === 1 && c("t_top").get() === 1)
    assert(ManifestTable.versions(spark, s"$dir/t_agg") === Seq(1L, 2L))
  }

  test("a VIEW code change invalidates downstream tables (logic propagates through lazy models)") {
    val dir = freshDir()
    dag("1", "1", "1", counters()).runStateAware(spark, Map("raw" -> src), dir)
    val c = counters()
    val (_, act) = dag("2", "1", "1", c)
      .runStateAware(spark, Map("raw" -> src), dir)
    assert(act("t_agg") === "built" && act("t_top") === "built")
  }

  test("a source token change rebuilds the dependent chain; an unchanged token skips it") {
    val dir = freshDir()
    dag("1", "1", "1", counters()).runStateAware(spark, Map("raw" -> src), dir,
      sourceTokens = Map("raw" -> "batch-2026-08-12"))
    val (_, actSame) = dag("1", "1", "1", counters())
      .runStateAware(spark, Map("raw" -> src), dir,
        sourceTokens = Map("raw" -> "batch-2026-08-12"))
    assert(actSame("t_agg") === "skipped" && actSame("t_top") === "skipped")
    val (_, actNew) = dag("1", "1", "1", counters())
      .runStateAware(spark, Map("raw" -> src), dir,
        sourceTokens = Map("raw" -> "batch-2026-08-13"))
    assert(actNew("t_agg") === "built" && actNew("t_top") === "built")
  }

  test("an incremental model forces its downstream to rebuild every run") {
    val dir = freshDir()
    val reg = new Registry(Seq(
      Model("inc_log", Seq("raw"), Materialization.Incremental(IncrementalStrategy.Append),
        r => r("raw").select("id", "payload")),
      Model("t_count", Seq("inc_log"), Materialization.Table,
        r => r("inc_log").agg(count(lit(1)).as("n")))))
    val (rel1, act1) = reg.runStateAware(spark, Map("raw" -> src), dir)
    assert(act1 === Map("inc_log" -> "incremental", "t_count" -> "built"))
    assert(rel1("t_count").head().getLong(0) === 100L)
    val (rel2, act2) = reg.runStateAware(spark, Map("raw" -> src), dir)
    // append strategy applied the batch again -> content changed -> rebuild
    assert(act2("t_count") === "built")
    assert(rel2("t_count").head().getLong(0) === 200L)
  }

  test("manifest-backed incremental: append is atomic (torn batch invisible) and versioned") {
    val dir = freshDir()
    val reg = new Registry(Seq(
      Model("inc_log", Seq("raw"), Materialization.Incremental(IncrementalStrategy.Append),
        r => r("raw").select("id", "payload"))))
    reg.runStateAware(spark, Map("raw" -> src), dir)
    reg.runStateAware(spark, Map("raw" -> src), dir)
    val root = s"$dir/inc_log"
    assert(ManifestTable.versions(spark, root) === Seq(1L, 2L))
    assert(ManifestTable.read(spark, root).count() === 200L)
    // crash mid-append: the batch staged but never published — the table
    // must read EXACTLY the committed state (legacy parquet mode-append
    // had no such guarantee: a torn file sat in the live directory)
    ManifestTable.stage(spark, root, src.limit(7))
    assert(ManifestTable.read(spark, root).count() === 200L)
    // and the first batch is still time-travelable
    assert(ManifestTable.read(spark, root, Some(1L)).count() === 100L)
  }

  test("manifest-backed delete+insert converges to the legacy staging-swap result") {
    import spark.implicits._
    val v1 = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "k", "amt")
    val v2 = Seq((2L, "b2", 25), (4L, "d", 40)).toDF("id", "k", "amt")
    def model = Model("state_tbl", Seq("obs"),
      Materialization.Incremental(IncrementalStrategy.DeleteInsert("id")),
      r => r("obs"))
    // legacy path
    val legacyDir = freshDir()
    val legacy = new Registry(Seq(model))
    legacy.run(spark, Map("obs" -> v1), Some(legacyDir))
    val legacyOut = legacy.run(spark, Map("obs" -> v2), Some(legacyDir))("state_tbl")
    // manifest path
    val stateDir = freshDir()
    val reg = new Registry(Seq(model))
    reg.runStateAware(spark, Map("obs" -> v1), stateDir)
    val (rel, _) = reg.runStateAware(spark, Map("obs" -> v2), stateDir)
    val out = rel("state_tbl")
    assert(out.exceptAll(legacyOut).isEmpty && legacyOut.exceptAll(out).isEmpty)
    // the merged result: 1,3 carried, 2 replaced, 4 inserted
    assert(out.count() === 4L)
    assert(out.filter(col("id") === 2L).head().getString(1) === "b2")
    // pre-merge state is still readable (version 1)
    assert(ManifestTable.read(spark, s"$stateDir/state_tbl", Some(1L)).count() === 3L)
  }

  test("vacuumTables reclaims superseded table versions across the DAG, keeping the tip readable") {
    val dir = freshDir()
    dag("1", "1", "1", counters()).runStateAware(spark, Map("raw" -> src), dir)
    dag("1", "2", "1", counters()).runStateAware(spark, Map("raw" -> src), dir)
    dag("1", "3", "1", counters()).runStateAware(spark, Map("raw" -> src), dir)
    assert(ManifestTable.versions(spark, s"$dir/t_agg") === Seq(1L, 2L, 3L))
    val reg = dag("1", "3", "1", counters())
    val (relBefore, _) = reg.runStateAware(spark, Map("raw" -> src), dir)
    val expected = relBefore("t_top").collect().toSet
    val deleted = reg.vacuumTables(spark, dir, keepVersions = 1)
    assert(deleted.keySet === Set("t_agg", "t_top"))
    assert(deleted.values.sum > 0, "nothing reclaimed despite three table generations")
    assert(ManifestTable.versions(spark, s"$dir/t_agg") === Seq(3L))
    // the tip still reads and the next run still skips
    val (rel, act) = reg.runStateAware(spark, Map("raw" -> src), dir)
    assert(act("t_agg") === "skipped" && act("t_top") === "skipped")
    assert(rel("t_top").collect().toSet === expected)
  }

  test("orphaned staged files (a crashed build) do not poison the skip decision or the read") {
    val dir = freshDir()
    val (rel1, _) = dag("1", "1", "1", counters())
      .runStateAware(spark, Map("raw" -> src), dir)
    val expected = rel1("t_agg").collect().toSet
    // crash simulation: a rebuild staged its files but never published
    ManifestTable.stage(spark, s"$dir/t_agg", src.limit(3))
    val (rel2, act2) = dag("1", "1", "1", counters())
      .runStateAware(spark, Map("raw" -> src), dir)
    assert(act2("t_agg") === "skipped")
    assert(rel2("t_agg").collect().toSet === expected)
  }

  test("a declared TableLayout clusters the committed mart, commits stats, and is part of the state") {
    import graft.model.TableLayout
    val dir = freshDir()
    def reg(layout: TableLayout) = new Registry(Seq(
      Model("t_rows", Seq("raw"), Materialization.Table,
        r => r("raw").repartition(4), layout = layout)))
    val ranged = TableLayout(clusterBy = Seq("id"), bloomColumns = Seq("payload"),
      files = Some(4))
    val (rel1, act1) = reg(ranged).runStateAware(spark, Map("raw" -> src), dir)
    assert(act1("t_rows") === "built")
    // the mart's manifest carries stats on the cluster column + blooms
    val root = s"$dir/t_rows"
    val tip = ManifestTable.versions(spark, root).max
    val stats = ManifestTable.fileStats(spark, root, tip)
    assert(stats.nonEmpty && stats.values.forall(fs =>
      fs.cols.contains("id") && fs.cols("payload").bloom.isDefined))
    // range clustering makes the mart prunable on id
    val (kept, dropped, _) = ManifestTable.pruneFiles(spark, root, col("id") <= 10L)
    assert(dropped.nonEmpty, s"clustered mart did not prune (kept ${kept.size})")
    assert(ManifestTable.readPruned(spark, root, col("id") <= 10L).count() === 10L)
    // identical layout skips; a layout CHANGE alone rebuilds
    val (_, act2) = reg(ranged).runStateAware(spark, Map("raw" -> src), dir)
    assert(act2("t_rows") === "skipped")
    val (_, act3) = reg(TableLayout(clusterBy = Seq("id", "grp")))
      .runStateAware(spark, Map("raw" -> src), dir)
    assert(act3("t_rows") === "built", "a layout change must invalidate the state")
    assert(rel1("t_rows").count() === 100L)
  }

  test("run() re-reads each table it writes under the written schema: no job beyond the write") {
    def jobs[T](body: => T): (T, Int) = {
      val n = new AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.SpecListeners.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try {
        val r = body
        org.apache.spark.SpecListeners.drain(spark.sparkContext)
        (r, n.get)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val model = Model("t_agg", Seq("raw"), Materialization.Table,
      r => r("raw").groupBy("grp").agg(count(lit(1)).as("n")))
    val (_, writeJobs) = jobs(model.build(Map("raw" -> src)).write.parquet(freshDir() + "/w"))
    val dir = freshDir()
    val (rel, runJobs) = jobs(new Registry(Seq(model)).run(spark, Map("raw" -> src), Some(dir)))
    assert(runJobs === writeJobs, "run() started a job beyond the table write")
    val inferred = spark.read.parquet(s"$dir/t_agg")
    assert(rel("t_agg").schema === inferred.schema)
    assert(rel("t_agg").collect().toSet === inferred.collect().toSet)
    assert(rel("t_agg").collect().map(_.getLong(1)).sum === 100L)
  }
}
