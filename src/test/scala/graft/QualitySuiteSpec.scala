package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecListeners
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.quality.Checks
import graft.quality.Checks.{Rule, Test}

/** The fused evaluation of the 20 jaffle-shop tests over a small
  * jaffle-shaped relation map built from literal rows: every verdict
  * agrees with the test's own violating rows, a planted violation fails
  * exactly its test, dbt's NULL exemptions hold, and the whole suite is
  * one Spark action. */
class QualitySuiteSpec extends SparkSpec {

  private val money = DecimalType(16, 2)
  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  private val schemas: Map[String, StructType] = Map(
    "stg_customers" -> schema("customer_id" -> IntegerType, "first_name" -> StringType),
    "stg_orders" -> schema("order_id" -> IntegerType, "customer_id" -> IntegerType,
      "status" -> StringType),
    "stg_payments" -> schema("payment_id" -> IntegerType, "order_id" -> IntegerType,
      "payment_method" -> StringType, "amount" -> money),
    "customers" -> schema("customer_id" -> IntegerType, "first_name" -> StringType,
      "number_of_orders" -> LongType),
    "orders" -> schema("order_id" -> IntegerType, "customer_id" -> IntegerType,
      "status" -> StringType, "credit_card_amount" -> money, "coupon_amount" -> money,
      "bank_transfer_amount" -> money, "gift_card_amount" -> money, "amount" -> money))

  private def d(x: String) = new java.math.BigDecimal(x)

  // Customer 3 is the last row and has no orders, so editing the last
  // customers row never orphans an order.
  private val clean: Map[String, Seq[Seq[Any]]] = Map(
    "stg_customers" -> Seq(Seq(1, "Ann"), Seq(2, "Bo"), Seq(3, "Cy")),
    "stg_orders" -> Seq(Seq(1, 1, "completed"), Seq(2, 2, "placed"), Seq(3, 1, "returned")),
    "stg_payments" -> Seq(Seq(1, 1, "credit_card", d("10.00")), Seq(2, 2, "coupon", d("5.50")),
      Seq(3, 3, "gift_card", d("7.25"))),
    "customers" -> Seq(Seq(1, "Ann", 2L), Seq(2, "Bo", 1L), Seq(3, "Cy", null)),
    "orders" -> Seq(
      Seq(1, 1, "completed", d("10.00"), d("0.00"), d("0.00"), d("0.00"), d("10.00")),
      Seq(2, 2, "placed", d("0.00"), d("5.50"), d("0.00"), d("0.00"), d("5.50")),
      Seq(3, 1, "returned", d("0.00"), d("0.00"), d("0.00"), d("7.25"), d("7.25"))))

  private def relations(s: SparkSession, data: Map[String, Seq[Seq[Any]]]): Map[String, DataFrame] =
    data.map { case (r, rows) =>
      r -> s.createDataFrame(rows.map(Row.fromSeq).asJava, schemas(r))
    }

  /** `data` with `column` of the relation's last row set to `value`. */
  private def edit(data: Map[String, Seq[Seq[Any]]], relation: String, column: String,
      value: Any): Map[String, Seq[Seq[Any]]] = {
    val i = schemas(relation).fieldIndex(column)
    val rows = data(relation)
    data.updated(relation, rows.init :+ rows.last.updated(i, value))
  }

  /** The one edit that violates `t`: a duplicate key, a NULL, a value
    * outside the accepted set, or a foreign key with no parent. */
  private def plant(t: Test): Map[String, Seq[Seq[Any]]] = {
    val first = clean(t.relation).head(schemas(t.relation).fieldIndex(t.column))
    edit(clean, t.relation, t.column, t.rule match {
      case Rule.Unique => first
      case Rule.NotNull => null
      case Rule.AcceptedValues(_) => "bogus"
      case Rule.Relationships(_, _) => 999
    })
  }

  /** (name, fused verdict, violations().isEmpty) for every check. */
  private def verdicts(rel: Map[String, DataFrame]): Seq[(String, Boolean, Boolean)] =
    Checks.jaffleSuite(rel).map(c => (c.name, c.passes, c.violations().isEmpty))

  test("clean data: all 20 tests pass, and agree with their violating rows") {
    val v = verdicts(relations(spark, clean))
    assert(v.size === 20)
    assert(v.map(_._1).distinct.size === 20)
    assert(v.filterNot(_._2).map(_._1) === Nil)
    assert(v.filterNot(_._3).map(_._1) === Nil)
  }

  test("one planted violation per test fails exactly that test, fused and per test alike") {
    assert(Checks.JaffleTests.size === 20)
    Checks.JaffleTests.foreach { t =>
      val v = verdicts(relations(spark, plant(t)))
      v.foreach { case (name, fused, alone) =>
        assert(fused === alone, s"$name: fused verdict $fused, violations().isEmpty $alone " +
          s"with ${t.name} planted")
      }
      assert(v.filterNot(_._2).map(_._1) === Seq(t.name))
    }
  }

  test("NULL exemptions: a NULL key under unique, accepted_values and relationships passes") {
    // two NULL customer keys: not duplicates (not_null still fails)
    val nullKeys = clean.updated("customers",
      clean("customers") ++ Seq(Seq(null, "Di", null), Seq(null, "Ed", null)))
    // the last order's status and customer are NULL
    val nullOrder = edit(edit(nullKeys, "orders", "status", null), "orders", "customer_id", null)
    val v = verdicts(relations(spark, nullOrder))
    v.foreach { case (name, fused, alone) => assert(fused === alone, name) }
    assert(v.filterNot(_._2).map(_._1).toSet ===
      Set("customers.customer_id.not_null", "orders.customer_id.not_null"))
  }

  test("violationCounts counts every violating row, one row per test") {
    val planted = edit(edit(clean, "orders", "status", "lost"), "orders", "amount", null)
    val counts = Checks.violationCounts(relations(spark, planted), Checks.JaffleTests)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Checks.JaffleTests.map(_.name).toSet)
    assert(counts.filter(_._2 != 0L) ===
      Map("orders.status.accepted_values" -> 1L, "orders.amount.not_null" -> 1L))
    val dups = Checks.violationCounts(
      relations(spark, clean.updated("stg_customers", Seq.fill(3)(Seq(7, "Al")))),
      Seq(Test("stg_customers", "customer_id", Rule.Unique)))
    assert(dups.collect().map(_.getLong(1)).toSeq === Seq(2L))
  }

  test("the whole suite is one Spark action; asking again runs none") {
    val s = spark.newSession()
    val executions = new AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    s.listenerManager.register(listener)
    try {
      val suite = Checks.jaffleSuite(relations(s, clean))
      SpecListeners.drain(s.sparkContext)
      assert(executions.get === 0, "building the suite runs nothing")
      assert(suite.forall(_.passes))
      SpecListeners.drain(s.sparkContext)
      assert(executions.get === 1)
      assert(suite.forall(_.passes))
      SpecListeners.drain(s.sparkContext)
      assert(executions.get === 1)
    } finally s.listenerManager.unregister(listener)
  }

  test("a misdeclared test (unknown relation or column, repeated name) fails at suite build") {
    val rel = relations(spark, clean)
    val e = intercept[IllegalArgumentException](
      Checks.suite(rel, Checks.JaffleTests :+ Test("orders", "discount_amount", Rule.NotNull)))
    assert(e.getMessage.contains("orders.discount_amount.not_null"))
    assert(e.getMessage.contains("no column discount_amount"))
    val p = intercept[IllegalArgumentException](Checks.suite(rel,
      Seq(Test("orders", "customer_id", Rule.Relationships("customers", "id")))))
    assert(p.getMessage.contains("orders.customer_id.relationships"))
    val r = intercept[IllegalArgumentException](Checks.suite(rel,
      Seq(Test("refunds", "refund_id", Rule.Unique))))
    assert(r.getMessage.contains("refunds.refund_id.unique"))
    val twice = Test("orders", "order_id", Rule.Unique)
    val dup = intercept[IllegalArgumentException](Checks.suite(rel, Seq(twice, twice)))
    assert(dup.getMessage.contains("orders.order_id.unique"))
  }
}
