package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecListeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.schema.Schemas
import graft.seed.SeedLoader

/** Content-stamped seed materialization: an unchanged seed is neither
  * rewritten nor re-inferred, any change to its bytes, reader options or
  * stamp rewrites exactly that seed, a frame that is not a plain file scan
  * is written every time, and on both paths the returned frames hold the
  * CSV rows under the schema the parquet footers carry. */
class SeedLoaderSpec extends SparkSpec {

  private val Csvs = Map(
    "raw_customers" -> "id,first_name,last_name\n1,Ann,A.\n2,Bo,B.\n3,Cy,C.\n",
    "raw_orders" -> ("id,user_id,order_date,status\n1,1,2018-01-01,completed\n" +
      "2,2,2018-01-02,placed\n3,1,2018-01-03,returned\n"),
    "raw_payments" -> ("id,order_id,payment_method,amount\n1,1,credit_card,1000\n" +
      "2,2,coupon,550\n3,3,gift_card,725\n"))

  private def seedDir(): String = {
    val dir = Files.createTempDirectory("seed_csv")
    Csvs.foreach { case (n, text) => Files.writeString(dir.resolve(s"$n.csv"), text) }
    dir.toString
  }

  private def outDir(): String = Files.createTempDirectory("seed_out").resolve("seeds").toString

  /** The parquet data files of one materialized seed, with their mtimes. */
  private def dataFiles(out: String, name: String): Set[(String, Long)] =
    Option(new File(s"$out/$name").listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toSet

  private def allDataFiles(out: String): Map[String, Set[(String, Long)]] =
    Csvs.keys.map(n => n -> dataFiles(out, n)).toMap

  /** Runs `body` and returns its result with the SQL executions it
    * started on `s` and the Spark jobs it started. */
  private def counted[T](s: SparkSession)(body: => T): (T, Int, Int) = {
    val executions = new AtomicInteger()
    val jobs = new AtomicInteger()
    val qel = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SpecListeners.drain(s.sparkContext)
    s.listenerManager.register(qel)
    s.sparkContext.addSparkListener(jl)
    try {
      val r = body
      SpecListeners.drain(s.sparkContext)
      (r, executions.get, jobs.get)
    } finally {
      s.listenerManager.unregister(qel)
      s.sparkContext.removeSparkListener(jl)
    }
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Every returned frame holds its CSV's rows under the schema a
    * footer-inferring re-read of the parquet reports. */
  private def assertFaithful(s: SparkSession, csv: Map[String, DataFrame],
      got: Map[String, DataFrame], out: String): Unit = {
    assert(got.keySet === csv.keySet)
    got.foreach { case (n, df) =>
      assert(df.schema === s.read.parquet(s"$out/$n").schema, n)
      assert(sameRows(df, csv(n)), n)
    }
  }

  test("an unchanged seed is not rewritten: no SQL execution, no job, no new data file") {
    val s = spark.newSession()
    val in = seedDir()
    val out = outDir()
    val (first, firstExec, _) = counted(s)(
      SeedLoader.materialize(s, SeedLoader.loadJaffleSeeds(s, in), out))
    assert(firstExec === 3)
    val written = allDataFiles(out)
    assert(written.values.forall(_.nonEmpty))
    val (second, exec, jobs) = counted(s)(
      SeedLoader.materialize(s, SeedLoader.loadJaffleSeeds(s, in), out))
    assert(exec === 0, "an unchanged seed ran a SQL execution")
    assert(jobs === 0, "an unchanged seed ran a Spark job")
    assert(allDataFiles(out) === written)
    val csv = SeedLoader.loadJaffleSeeds(s, in)
    assertFaithful(s, csv, first, out)
    assertFaithful(s, csv, second, out)
    assert(second("raw_payments").agg(org.apache.spark.sql.functions.sum("amount")).head().getLong(0)
      === 2275L)
  }

  test("the digest names content, not location: the same bytes elsewhere digest alike") {
    val a = SeedLoader.loadJaffleSeeds(spark, seedDir())
    val b = SeedLoader.loadJaffleSeeds(spark, seedDir())
    Csvs.keys.foreach { n =>
      assert(SeedLoader.digest(a(n)).isDefined)
      assert(SeedLoader.digest(a(n)) === SeedLoader.digest(b(n)), n)
    }
    assert(SeedLoader.digest(a("raw_orders")) !== SeedLoader.digest(a("raw_payments")))
  }

  test("one byte changed at the same length and mtime rewrites exactly that seed") {
    val s = spark.newSession()
    val in = seedDir()
    val out = outDir()
    SeedLoader.materialize(s, SeedLoader.loadJaffleSeeds(s, in), out)
    val before = allDataFiles(out)
    val csvPath = Paths.get(in, "raw_customers.csv")
    val mtime = Files.getLastModifiedTime(csvPath)
    val edited = Csvs("raw_customers").replace("Bo,B.", "Bx,B.")
    assert(edited.length === Csvs("raw_customers").length)
    Files.writeString(csvPath, edited)
    Files.setLastModifiedTime(csvPath, FileTime.fromMillis(mtime.toMillis))
    val (got, exec, _) = counted(s)(
      SeedLoader.materialize(s, SeedLoader.loadJaffleSeeds(s, in), out))
    assert(exec === 1)
    val after = allDataFiles(out)
    assert(after("raw_customers") !== before("raw_customers"))
    assert(after - "raw_customers" === before - "raw_customers")
    assert(got("raw_customers").filter(col("id") === 2).head().getString(1) === "Bx")
    assertFaithful(s, SeedLoader.loadJaffleSeeds(s, in), got, out)
  }

  test("a changed reader option or session SQL setting rewrites the seed") {
    val s = spark.newSession()
    val in = seedDir()
    val out = outDir()
    def orders(s: SparkSession, dateFormat: String): Map[String, DataFrame] = Map(
      "raw_orders" -> s.read.schema(Schemas.rawOrders).option("header", "true")
        .option("dateFormat", dateFormat).option("mode", "FAILFAST").csv(s"$in/raw_orders.csv"))
    SeedLoader.materialize(s, orders(s, "yyyy-MM-dd"), out)
    val (_, same, _) = counted(s)(SeedLoader.materialize(s, orders(s, "yyyy-MM-dd"), out))
    assert(same === 0)
    val before = dataFiles(out, "raw_orders")
    val (got, changed, _) = counted(s)(SeedLoader.materialize(s, orders(s, "y-M-d"), out))
    assert(changed === 1)
    assert(dataFiles(out, "raw_orders") !== before)
    assertFaithful(s, orders(s, "y-M-d"), got, out)
    val other = s.newSession()
    other.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    val (_, reset, _) = counted(other)(SeedLoader.materialize(other, orders(other, "y-M-d"), out))
    assert(reset === 1)
  }

  test("a missing stamp (a write that died before stamping) rewrites the seed") {
    val s = spark.newSession()
    val in = seedDir()
    val out = outDir()
    SeedLoader.materialize(s, SeedLoader.loadJaffleSeeds(s, in), out)
    val stamp = Paths.get(out, "raw_orders", SeedLoader.StampFile)
    assert(Files.exists(stamp))
    Files.delete(stamp)
    val (got, exec, _) = counted(s)(
      SeedLoader.materialize(s, SeedLoader.loadJaffleSeeds(s, in), out))
    assert(exec === 1)
    assert(Files.exists(stamp))
    assertFaithful(s, SeedLoader.loadJaffleSeeds(s, in), got, out)
  }

  test("a frame that is not a plain file scan is written on every call and never stamped") {
    val s = spark.newSession()
    val in = seedDir()
    val out = outDir()
    SeedLoader.materialize(s, SeedLoader.loadJaffleSeeds(s, in), out)
    def frames(s: SparkSession): Map[String, DataFrame] = {
      val csv = SeedLoader.loadJaffleSeeds(s, in)
      Map(
        "raw_customers" -> s.createDataFrame(
          java.util.List.of(Row(1, "Ann", "A."), Row(2, "Bo", "B.")), Schemas.rawCustomers),
        "raw_orders" -> csv("raw_orders").filter(col("status") =!= "placed"))
    }
    frames(s).values.foreach(df => assert(SeedLoader.digest(df).isEmpty))
    (1 to 2).foreach { _ =>
      val (got, exec, _) = counted(s)(SeedLoader.materialize(s, frames(s), out))
      assert(exec === 2)
      Seq("raw_customers", "raw_orders").foreach(n =>
        assert(!Files.exists(Paths.get(out, n, SeedLoader.StampFile)), n))
      assertFaithful(s, frames(s), got, out)
    }
    assert(dataFiles(out, "raw_payments").nonEmpty)
  }
}
