package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.models.Jaffle
import graft.quality.Checks
import graft.seed.SeedLoader

/** The paper's own job: dbt `seed → run → test` over the jaffle-shop
  * marts, with the state-aware runner.
  *
  * Inputs are generated raw CSVs at scale with the reference's value
  * domains and referential integrity, in two versions. A round is:
  *  - write: a changed-input cycle (seed, state-aware run that rebuilds
  *    both marts, the 20 tests), switching to the other input version;
  *  - read: an unchanged-input cycle (seed, state-aware run that skips
  *    both marts, the 20 tests);
  *  - maint: vacuum of the mart tables.
  */
object Marts extends Workload {
  val Customers = 5000
  val Orders = 25000
  val roundSeconds = 6.5

  def setup(h: Harness, dir: String, seed: Long): Instance = {
    val inputs = (0 to 1).map(v => JaffleData.write(s"$dir/in$v", Customers, Orders, seed * 2 + v))
    new MartsInstance(h, dir, inputs)
  }
}

/** Totals the generator knows for one input version. */
final case class JaffleInput(dir: String, customers: Int, orders: Int, paymentCents: Long)

final class MartsInstance(h: Harness, dir: String, inputs: IndexedSeq[JaffleInput]) extends Instance {
  private val spark = h.spark
  private val registry = Jaffle.registry
  private val wh = s"$dir/warehouse"
  private var version = -1

  def tableDirs: Seq[String] = Seq(wh)

  def round(): Seq[() => Unit] = Seq(
    () => { version = (version + 1) % inputs.size; cycle("write", "marts.build", expectBuilt = true) },
    () => cycle("read", "marts.noop", expectBuilt = false),
    () => h.op("maint", "marts.vacuum") {
      h.span("model.vacuum")(registry.vacuumTables(spark, s"$wh/marts"))
    } { deleted => h.count("sources.vacuum.files_deleted", deleted.values.sum.toLong); None })

  private def cycle(role: String, name: String, expectBuilt: Boolean): Unit = {
    val in = inputs(version)
    // the input version is the sources' state token (a snapshot id)
    val tokens = Seq("raw_customers", "raw_orders", "raw_payments").map(_ -> s"v$version").toMap
    h.op(role, name) {
      val seeds = h.span("seed.materialize")(
        SeedLoader.materialize(spark, SeedLoader.loadJaffleSeeds(spark, in.dir), s"$wh/seeds"))
      val (rel, actions) = h.span("model.run")(
        registry.runStateAware(spark, seeds, s"$wh/marts", tokens))
      val tests = h.span("quality.suite")(Checks.jaffleSuite(rel).map(c => c.name -> c.passes))
      (rel, actions, tests)
    } { case (rel, actions, tests) =>
      val marts = Seq("customers", "orders").map(actions)
      h.count("model.built", marts.count(_ == "built").toLong)
      h.count("model.skipped", marts.count(_ == "skipped").toLong)
      val failedTests = tests.filterNot(_._2).map(_._1)
      h.count("quality.failed", failedTests.size.toLong)
      val want = if (expectBuilt) "built" else "skipped"
      val c = rel("customers").agg(count(lit(1)), sum("number_of_orders"),
        sum("customer_lifetime_value")).head()
      val o = rel("orders").agg(count(lit(1)), sum("amount")).head()
      def cents(d: java.math.BigDecimal): Long = d.movePointRight(2).longValueExact()
      if (tests.size != 20 || failedTests.nonEmpty)
        Some(s"tests failed: ${failedTests.mkString(", ")} of ${tests.size}")
      else if (marts.exists(_ != want)) Some(s"mart actions $actions, expected $want")
      else if (c.getLong(0) != in.customers || c.getLong(1) != in.orders ||
          cents(c.getDecimal(2)) != in.paymentCents)
        Some(s"customers mart totals $c, generator has ${in.customers} customers, " +
          s"${in.orders} orders, ${in.paymentCents} cents")
      else if (o.getLong(0) != in.orders || cents(o.getDecimal(1)) != in.paymentCents)
        Some(s"orders mart totals $o, generator has ${in.orders} orders, ${in.paymentCents} cents")
      else None
    }
  }

  def finish(): Unit = registry.vacuumTables(spark, s"$wh/marts")
}

/** Generated jaffle-shop raw seeds: the reference's columns, statuses,
  * payment methods and cents amounts; every order's customer and every
  * payment's order exist. */
object JaffleData {
  private val FirstNames = Array("Michael", "Shawn", "Kathleen", "Jimmy", "Katherine", "Sarah",
    "Martin", "Frank", "Jennifer", "Henry", "Fred", "Amy", "Kathleen", "Steve", "Teresa", "Amanda",
    "Kimberly", "Johnny", "Virginia", "Anna", "Willie", "Sean", "Mildred", "David", "Victor",
    "Aaron", "Rose", "Judy", "Ashley", "Adam", "Louise", "Diane", "Joseph", "Paula", "Gerald")
  private val Statuses = Array("completed", "completed", "completed", "completed", "completed",
    "completed", "placed", "shipped", "return_pending", "returned")
  private val Methods = Array("credit_card", "credit_card", "credit_card", "credit_card",
    "bank_transfer", "bank_transfer", "coupon", "coupon", "gift_card", "credit_card")

  def write(dir: String, customers: Int, orders: Int, seed: Long): JaffleInput = {
    val r = new java.util.SplittableRandom(seed)
    Files.createDirectories(Paths.get(dir))
    val c = new StringBuilder("id,first_name,last_name\n")
    (1 to customers).foreach { id =>
      c.append(id).append(',').append(FirstNames(r.nextInt(FirstNames.length))).append(',')
        .append(('A' + r.nextInt(26)).toChar).append(".\n")
    }
    val o = new StringBuilder("id,user_id,order_date,status\n")
    val p = new StringBuilder("id,order_id,payment_method,amount\n")
    val day0 = java.time.LocalDate.of(2018, 1, 1)
    var paymentId = 0
    var cents = 0L
    (1 to orders).foreach { id =>
      o.append(id).append(',').append(1 + r.nextInt(customers)).append(',')
        .append(day0.plusDays(r.nextInt(99).toLong)).append(',')
        .append(Statuses(r.nextInt(Statuses.length))).append('\n')
      // 1 to 3 payments per order, mostly one (the reference's orders all
      // have a payment, and its tests require an amount)
      val k = r.nextInt(100) match { case x if x < 85 => 1; case x if x < 96 => 2; case _ => 3 }
      (1 to k).foreach { _ =>
        paymentId += 1
        val amount = r.nextInt(3001)
        cents += amount
        p.append(paymentId).append(',').append(id).append(',')
          .append(Methods(r.nextInt(Methods.length))).append(',').append(amount).append('\n')
      }
    }
    Files.writeString(Paths.get(s"$dir/raw_customers.csv"), c)
    Files.writeString(Paths.get(s"$dir/raw_orders.csv"), o)
    Files.writeString(Paths.get(s"$dir/raw_payments.csv"), p)
    JaffleInput(dir, customers, orders, cents)
  }
}
