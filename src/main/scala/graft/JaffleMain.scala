package graft

import org.apache.spark.sql.SparkSession

import graft.models.Jaffle
import graft.quality.Checks
import graft.seed.SeedLoader

/** CLI entry: the engine's `dbt seed + run + test` in one pass
  * (reference workflow: README.md:46-61).
  *
  * Usage: JaffleMain <seedDir> <outDir> [--state]
  *   seedDir — directory with raw_customers.csv / raw_orders.csv / raw_payments.csv
  *   outDir  — warehouse dir; seeds land in <outDir>/seeds, marts in <outDir>/marts
  *   --state — materialize marts as manifest tables through the
  *             state-aware runner (dbt `state:modified` analog) and run
  *             the DAG TWICE: the second pass must skip every mart
  *             (seed-content tokens + code versions unchanged), which is
  *             printed per model. Default layout stays plain parquet so
  *             external readers' star-glob paths over `marts/<name>/`
  *             keep working.
  */
object JaffleMain {
  def main(args: Array[String]): Unit = {
    val stateAware = args.contains("--state")
    val pos = args.filterNot(_ == "--state")
    require(pos.length == 2, "usage: JaffleMain <seedDir> <outDir> [--state]")
    val Array(seedDir, outDir) = pos
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-jaffle")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // seed (dbt seed): CSV -> typed parquet
      val raw = SeedLoader.loadJaffleSeeds(spark, seedDir)
      val seeds = SeedLoader.materialize(spark, raw, s"$outDir/seeds")
      seeds.toSeq.sortBy(_._1).foreach { case (n, df) => println(f"[seed] $n%-14s ${df.count()}%5d rows") }
      // run (dbt run): topo-ordered DAG, views lazy, marts -> parquet
      val rel =
        if (!stateAware)
          Jaffle.registry.run(spark, seeds, tableDir = Some(s"$outDir/marts"))
        else {
          // seed-content tokens: the marts' input state is the seeds'
          // content digest, so an unchanged seed re-run skips the rebuild
          // and a touched seed invalidates exactly its downstream
          val tokens = raw.map { case (n, df) => n -> SeedLoader.digest(df).get }
          def pass(i: Int) = {
            val (r, actions) = Jaffle.registry.runStateAware(
              spark, seeds, s"$outDir/marts", tokens)
            println(s"[state] pass $i: " + actions.toSeq.sorted
              .map { case (m, a) => s"$m=$a" }.mkString(" "))
            (r, actions)
          }
          pass(1)
          val (r2, a2) = pass(2)
          require(a2.forall { case (_, a) => a == "view" || a == "skipped" },
            s"second identical pass must skip every mart: $a2")
          r2
        }
      Seq("customers", "orders").foreach { n => println(f"[mart] $n%-14s ${rel(n).count()}%5d rows") }
      // test (dbt test): the 20 declarative checks
      val results = Checks.jaffleSuite(rel).map(c => (c.name, c.passes))
      results.foreach { case (n, ok) => println(s"[test] ${if (ok) "PASS" else "FAIL"} $n") }
      val failed = results.count(!_._2)
      println(s"[done] ${results.size} tests, $failed failed")
      // docs (dbt docs generate): write the model catalog
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/catalog.md"), Jaffle.registry.renderDocs)
      println(s"[docs] $outDir/catalog.md")
      if (failed > 0) sys.exit(1)
    } finally spark.stop()
  }
}
