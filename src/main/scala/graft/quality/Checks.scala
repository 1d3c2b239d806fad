package graft.quality

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality operators — the engine's equivalent of dbt's
  * four schema-test macros (SURVEY.md §2.6). Each standalone operator
  * returns the *violating rows*; a test passes iff there are none,
  * exactly dbt's rows-returned = failures contract.
  *
  * NULL rules (dbt's): `unique`, `accepted_values` and `relationships`
  * exempt NULLs — NULL keys are never duplicates, a NULL is never outside
  * the accepted set, a NULL foreign key never dangles. Only `not_null`
  * counts NULLs.
  *
  * A declared suite ([[suite]]) is not run test by test. Each [[Test]] is
  * data, and from it the suite derives both the test's `violations()`
  * frame and a violation-count column; the counts of every test on one
  * relation fuse into a single aggregate over that relation (one scan),
  * each one-row aggregate is reshaped to `(test, violations)` rows, and
  * the per-relation results are `union`ed and collected once — one Spark
  * action for the whole suite, however many tests it declares. `union`
  * rather than `crossJoin`: joining the one-row aggregates would cost a
  * broadcast job per join.
  */
object Checks {

  // The row predicates each operator filters on; a suite's fused counts
  // count rows by the same predicates.
  private def outside(c: Column, values: Seq[String]): Column = c.isNotNull && !c.isin(values: _*)
  private def orphan(fk: Column, parentKey: Column): Column = fk.isNotNull && parentKey.isNull

  /** The parent's distinct keys, renamed to `key`; a left join of the
    * child against them adds at most one key per child row, NULL where
    * the child's foreign key has no parent. */
  private def parentKeys(parent: DataFrame, pk: String, key: String): DataFrame =
    parent.select(col(pk).as(key)).distinct()

  private val ParentKey = "__parent_key"

  /** dbt `unique` (used e.g. reference: models/schema.yml:11): keys
    * appearing more than once, NULLs exempt. */
  def unique(df: DataFrame, column: String): DataFrame =
    df.filter(col(column).isNotNull)
      .groupBy(col(column))
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** dbt `not_null` (reference: models/schema.yml:12 et al.): rows with a
    * NULL in the column. */
  def notNull(df: DataFrame, column: String): DataFrame =
    df.filter(col(column).isNull)

  /** dbt `accepted_values` (reference: models/schema.yml:56-57): distinct
    * non-NULL values outside the accepted set (NULLs pass, matching dbt). */
  def acceptedValues(df: DataFrame, column: String, values: Seq[String]): DataFrame =
    df.filter(outside(col(column), values))
      .select(col(column))
      .distinct()

  /** dbt `relationships` (reference: models/schema.yml:46-48): child rows
    * whose FK has no matching parent PK. NULL FKs pass. The planner can
    * broadcast the parent's distinct keys when they are small.
    */
  def relationships(child: DataFrame, fk: String, parent: DataFrame, pk: String): DataFrame =
    child.join(parentKeys(parent, pk, ParentKey), col(fk) === col(ParentKey), "left")
      .filter(orphan(col(fk), col(ParentKey)))
      .drop(ParentKey)

  /** dbt `source freshness` analog (sources.yml `loaded_at_field` +
    * `warn_after`/`error_after`): per group, the newest record
    * timestamp, its staleness against an anchor instant, and the
    * pass/warn/error verdict. The anchor defaults to the newest
    * timestamp in the whole table, so the check is deterministic and
    * replayable; production callers pass the wall clock as `anchor`.
    * The verdict compares the UN-FLOORED microsecond staleness
    * strictly-greater against the thresholds — dbt's rule: a source
    * exactly `warn_after` old still passes, it warns only strictly
    * after (flooring to minutes first would have warned a
    * boundary-age source a full minute early). The reported
    * `staleness_minutes` column is still floored integer minutes for
    * display; only the verdict uses microseconds, so the compare has
    * no float rounding anywhere. One hash aggregate + a 1-row
    * broadcast — the check costs one scan however many groups there
    * are.
    */
  def sourceFreshness(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      warnAfterMinutes: Long,
      errorAfterMinutes: Long,
      anchor: Option[Column] = None): DataFrame = {
    require(warnAfterMinutes <= errorAfterMinutes,
      "warn_after must not exceed error_after")
    val latest = df.groupBy(col(groupCol)).agg(max(col(tsCol)).as("latest_ts"))
    val withAnchor = anchor match {
      case Some(a) => latest.withColumn("__anchor", a)
      case None => latest.crossJoin(broadcast(df.agg(max(col(tsCol)).as("__anchor"))))
    }
    withAnchor
      .withColumn("__stale_us",
        expr("unix_micros(__anchor) - unix_micros(latest_ts)"))
      .withColumn("staleness_minutes", expr("__stale_us div 60000000"))
      .withColumn("freshness_status",
        when(col("__stale_us") <= lit(warnAfterMinutes * 60000000L), "pass")
          .when(col("__stale_us") <= lit(errorAfterMinutes * 60000000L), "warn")
          .otherwise("error"))
      .drop("__anchor", "__stale_us")
  }

  /** The rule a declared [[Test]] applies to its column. */
  sealed abstract class Rule(val label: String)
  object Rule {
    case object Unique extends Rule("unique")
    case object NotNull extends Rule("not_null")
    final case class AcceptedValues(values: Seq[String]) extends Rule("accepted_values")
    /** Every non-NULL value must appear in `parent`'s `parentColumn`. */
    final case class Relationships(parent: String, parentColumn: String) extends Rule("relationships")
  }

  /** One dbt schema test, declared once as data: `rule` on `column` of
    * the relation named `relation`. */
  final case class Test(relation: String, column: String, rule: Rule) {
    def name: String = s"$relation.$column.${rule.label}"
  }

  /** A named test of a suite. `violations()` plans the test's violating
    * rows on its own (for inspecting a failure); `passes` reads the
    * suite's verdict, computed for every test of the suite by its first
    * `passes` call, so a suite costs one Spark action however many of
    * its checks are asked. */
  final case class Check(name: String, violations: () => DataFrame)(verdict: () => Boolean) {
    def passes: Boolean = verdict()
  }

  /** The test's violating rows, by the standalone operator of its rule. */
  private def violations(rel: Map[String, DataFrame], t: Test): DataFrame = t.rule match {
    case Rule.Unique => unique(rel(t.relation), t.column)
    case Rule.NotNull => notNull(rel(t.relation), t.column)
    case Rule.AcceptedValues(values) => acceptedValues(rel(t.relation), t.column, values)
    case Rule.Relationships(parent, pk) => relationships(rel(t.relation), t.column, rel(parent), pk)
  }

  /** The test's violation count as an aggregate over its relation, left
    * joined to `parentKey` for a relationships test. Zero iff
    * `violations()` is empty. */
  private def violationCount(t: Test, parentKey: Column): Column = {
    val c = col(t.column)
    t.rule match {
      case Rule.Unique => count(c) - count_distinct(c)
      case Rule.NotNull => count(lit(1)) - count(c)
      case Rule.AcceptedValues(values) => count_if(outside(c, values))
      case Rule.Relationships(_, _) => count_if(orphan(c, parentKey))
    }
  }

  /** `(test, violations)`, one row per test, as one plan: per relation,
    * one aggregate computes every count of its tests in a single scan;
    * relationships tests first left-join the broadcast distinct parent
    * keys. The one-row aggregates are combined with `union`. */
  def violationCounts(rel: Map[String, DataFrame], tests: Seq[Test]): DataFrame =
    tests.map(_.relation).distinct.map { r =>
      val ts = tests.zipWithIndex.filter(_._1.relation == r)
      val joined = ts.foldLeft(rel(r)) {
        case (df, (Test(_, fk, Rule.Relationships(parent, pk)), i)) =>
          df.join(broadcast(parentKeys(rel(parent), pk, s"${ParentKey}_$i")),
            col(fk) === col(s"${ParentKey}_$i"), "left")
        case (df, _) => df
      }
      joined
        .agg(array(ts.map { case (t, i) =>
          struct(lit(t.name).as("test"), violationCount(t, col(s"${ParentKey}_$i")).as("violations"))
        }: _*).as("counts"))
        .select(inline(col("counts")))
    }.reduce(_ union _)

  /** Fails, naming the test, if it refers to a relation or column that
    * does not exist — before any query is planned from it. */
  private def validate(rel: Map[String, DataFrame], t: Test): Unit = {
    def resolve(relation: String, column: String): Unit = {
      val df = rel.getOrElse(relation,
        throw new IllegalArgumentException(s"test ${t.name}: no relation named $relation"))
      try df.select(col(column))
      catch {
        case e: AnalysisException => throw new IllegalArgumentException(
          s"test ${t.name}: relation $relation has no column $column " +
            s"(columns: ${df.columns.mkString(", ")})", e)
      }
    }
    resolve(t.relation, t.column)
    t.rule match {
      case Rule.Relationships(parent, pk) => resolve(parent, pk)
      case _ =>
    }
  }

  /** The checks of a declared suite over resolved relations. Every test
    * is validated here; the first `passes` call collects
    * [[violationCounts]] once and every later call reads that verdict. */
  def suite(rel: Map[String, DataFrame], tests: Seq[Test]): Seq[Check] = {
    val names = tests.map(_.name)
    require(names.distinct.size == names.size, s"duplicate test names: ${names.diff(names.distinct)}")
    tests.foreach(validate(rel, _))
    lazy val verdict: Map[String, Long] =
      violationCounts(rel, tests).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    tests.map(t => Check(t.name, () => violations(rel, t))(() => verdict(t.name) == 0L))
  }

  /** The reference's full 20-test suite (SURVEY.md §5 —
    * models/staging/schema.yml 8 tests + models/schema.yml 12 tests). */
  val JaffleTests: Seq[Test] = {
    import graft.models.Jaffle.{OrderStatuses, PaymentMethods}
    import Rule._
    Seq(
      // models/staging/schema.yml
      Test("stg_customers", "customer_id", Unique),
      Test("stg_customers", "customer_id", NotNull),
      Test("stg_orders", "order_id", Unique),
      Test("stg_orders", "order_id", NotNull),
      Test("stg_orders", "status", AcceptedValues(OrderStatuses)),
      Test("stg_payments", "payment_id", Unique),
      Test("stg_payments", "payment_id", NotNull),
      Test("stg_payments", "payment_method", AcceptedValues(PaymentMethods)),
      // models/schema.yml
      Test("customers", "customer_id", Unique),
      Test("customers", "customer_id", NotNull),
      Test("orders", "order_id", Unique),
      Test("orders", "order_id", NotNull),
      Test("orders", "customer_id", NotNull),
      Test("orders", "customer_id", Relationships("customers", "customer_id")),
      Test("orders", "status", AcceptedValues(OrderStatuses)),
      Test("orders", "amount", NotNull)
    ) ++ PaymentMethods.map(m => Test("orders", s"${m}_amount", NotNull))
  }

  /** The reference's 20 tests as a suite over resolved relations. */
  def jaffleSuite(rel: Map[String, DataFrame]): Seq[Check] = suite(rel, JaffleTests)
}
