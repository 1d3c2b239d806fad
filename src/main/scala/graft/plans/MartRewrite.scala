package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Divide, EqualTo, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Transparent MATERIALIZED-VIEW query rewrite — the optimizer half of
  * incremental view maintenance (Oracle/Calcite's aggregate rewrite;
  * Databricks' MV routing): a provable aggregate over the FACT table is
  * silently re-planned to read a maintained mart, turning an O(fact)
  * scan into an O(groups) one. The query text doesn't change; the plan
  * does — which is the whole point of maintaining the mart. Two mart
  * shapes route:
  *
  *  - [[register]]: the count/sum mart of
  *    [[graft.ops.LakeOps.maintainAggMartTotal]] — (key, n_rows, total)
  *    for one grouping key, (k1, …, kn, n_rows, total, mkey) for a
  *    composite one — `count(1)` and the dsum cast tower over the
  *    registered value column;
  *  - [[registerMinMax]]: [[graft.ops.LakeOps.maintainMinMaxMart]]'s
  *    (key, n_rows, vmin, vmax) mart — `count(1)`, `min(value)`,
  *    `max(value)`.
  *
  * Soundness contract: these are the aggregates the marts store
  * EXACTLY (count/sum self-maintainable with exact DECIMAL partials;
  * min/max maintained with the per-group recompute fallback), and the
  * rewrite fires only on shapes it can prove — grouping attributes
  * equal to the registered key SET, the precise aggregate forms,
  * and optionally a deterministic Filter over the KEY ALONE (key
  * predicates are group-preserving: every row of a group shares the
  * key, so the filter keeps or drops whole groups and pushes onto the
  * mart verbatim — the `WHERE key IN (...)` shape real dashboards
  * send). Anything else is left untouched.
  *
  * Fact-table identity is PROVEN, not path-matched: each registration
  * snapshots the fact table's file set at its current version, and the
  * rewrite fires only when the scan's input files are a SUPERSET of
  * that set. A tip read — including appends landed since registration —
  * rewrites (the documented allowed-staleness model: the mart serves
  * the registered snapshot until re-registered); a TIME-TRAVEL read at
  * a version before registration, or a file-pruned SUBSET scan
  * ([[graft.sources.ManifestTable.readPrunedByKeys]]), scans fewer
  * files than the registered state and must NOT be answered from the
  * mart — those are different tables, not stale ones. Post-registration
  * rewrites (compact/overwrite) break the superset relation and
  * correctly stop the rewrite until re-registration.
  *
  * Freshness is the registration's contract: registering snapshots the
  * mart's CURRENT version (re-register after each maintenance cycle,
  * the allowed-staleness model every MV rewriter documents).
  */
object MartRewrite extends Rule[LogicalPlan] {

  private final case class Reg(
      factRoot: String,
      factFiles: Set[String],
      factVersion: Long,
      maxVersionLag: Long,
      keyCols: Seq[String],
      valueCol: String,
      kind: String, // "sum" | "minmax"
      martPlan: LogicalPlan)

  /** Keyed (factRoot, kind, sorted keyCols): a fact table may carry BOTH
    * mart shapes and marts over DIFFERENT grouping-key sets; each
    * aggregate routes to the mart that stores exactly its shape. */
  private val regs =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Reg]()

  /** Route future count/sum aggregates on `factRoot` (grouped by
    * exactly the `keyCols` set, in any order, summing `valueCol`) to the
    * (k1, …, kn, n_rows, total) mart at `martRoot` (a composite-key mart
    * also stores its `mkey` surrogate, which routing ignores), as of the
    * mart's CURRENT version and the fact table's
    * CURRENT file set. Re-register after each maintenance cycle to
    * advance both snapshots — or call
    * [[graft.ops.LakeOps.maintainAndReregister]], which does both in
    * one step. `maxVersionLag` makes the freshness contract
    * ENFORCEABLE: once the fact table's tip version is more than this
    * many versions past the registered one, the rewrite disables
    * itself and queries fall back to the (fresh, correct) fact scan —
    * a maintenance loop that silently stops can no longer serve
    * unboundedly stale results. Also injects the rule (idempotently). */
  def register(spark: SparkSession, factRoot: String, keyCols: Seq[String],
      valueCol: String, martRoot: String,
      maxVersionLag: Long = Long.MaxValue): Unit =
    registerKind(spark, factRoot, keyCols, valueCol, martRoot, "sum",
      keyCols ++ Seq("n_rows", "total"), maxVersionLag)

  /** [[register]] for the (key, n_rows, vmin, vmax) min/max mart:
    * routes `count(1)` / `min(valueCol)` / `max(valueCol)` aggregates. */
  def registerMinMax(spark: SparkSession, factRoot: String, keyCol: String,
      valueCol: String, martRoot: String,
      maxVersionLag: Long = Long.MaxValue): Unit =
    registerKind(spark, factRoot, Seq(keyCol), valueCol, martRoot, "minmax",
      Seq(keyCol, "n_rows", "vmin", "vmax"), maxVersionLag)

  private def registerKind(spark: SparkSession, factRoot: String, keyCols: Seq[String],
      valueCol: String, martRoot: String, kind: String, needed: Seq[String],
      maxVersionLag: Long): Unit = {
    require(keyCols.nonEmpty && keyCols.distinct.size == keyCols.size,
      s"grouping keys must be non-empty and distinct, got $keyCols")
    val martPlan = GraftSqlBridge.analyzed(
      graft.sources.ManifestTable.read(spark, martRoot))
    require(needed.forall(c => martPlan.output.exists(_.name == c)),
      s"$martRoot is not a maintained (${needed.mkString(", ")}) mart for keys $keyCols")
    val factVersions = graft.sources.ManifestTable.versions(spark, factRoot)
    require(factVersions.nonEmpty, s"$factRoot is not a manifest table")
    val factFiles = graft.sources.ManifestTable
      .manifestFiles(spark, factRoot, factVersions.max)
      .map(p => normalize(if (p.startsWith("/")) p else s"$factRoot/$p"))
      .toSet
    regs.put((factRoot, kind, keyCols.sorted.mkString(",")),
      Reg(factRoot, factFiles, factVersions.max, maxVersionLag,
        keyCols, valueCol, kind, martPlan))
    if (!spark.experimental.extraOptimizations.contains(MartRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MartRewrite
  }

  /** Drop every registration for `factRoot` (tests; decommissioned
    * marts) — aggregate registrations keyed on it and join
    * registrations naming it on either side. */
  def deregister(factRoot: String): Unit = {
    val gone = regs.keySet().asScala.filter(_._1 == factRoot).toSeq
    gone.foreach(regs.remove)
    val goneJ = joinRegs.keySet().asScala
      .filter(k => k._1 == factRoot || k._2 == factRoot).toSeq
    goneJ.foreach(joinRegs.remove)
    ()
  }

  private def normalize(p: String): String = new Path(p).toUri.getPath

  /** The freshness contract made enforceable: with a finite
    * `maxVersionLag`, a registration whose fact table has advanced more
    * than that many versions past the registered snapshot stops
    * rewriting — the query falls back to the fact scan, trading the
    * mart's speed for guaranteed freshness until the maintenance loop
    * re-registers. The check reads the JVM's monotonic tip cache
    * ([[graft.sources.ManifestTable.knownTipVersion]] — primed by every
    * commit and listing, so the steady state is a map read, NOT a
    * filesystem listing inside the optimizer per planned query); only a
    * cold root pays one listing, which primes. Registrations with the
    * default unbounded lag skip it entirely. Same-JVM contract: an
    * out-of-process writer's advance is observed at this JVM's next
    * listing/commit — the maintenance loop that registers marts runs
    * here, which is the loop the bound protects against stalling. */
  private def withinStalenessBound(r: Reg): Boolean =
    r.maxVersionLag == Long.MaxValue || {
      try {
        val tip = graft.sources.ManifestTable
          .knownTipVersion(SparkSession.active, r.factRoot)
        tip - r.factVersion <= r.maxVersionLag
      } catch {
        // can't PROVE the registration fresh → don't rewrite
        case scala.util.control.NonFatal(_) => false
      }
    }

  /** The registrations whose fact table this subtree PROVABLY scans in
    * full — a LogicalRelation (under attribute-only Projects and Filters,
    * the shapes pruning and pushdown leave) whose input files cover the
    * registered version's file set — plus the combined Filter condition
    * sitting between aggregate and scan. */
  private def scanOf(plan: LogicalPlan): Option[(Seq[Reg], Option[Expression])] = plan match {
    case p: Project if p.projectList.forall(_.isInstanceOf[Attribute]) =>
      scanOf(p.child)
    case f: Filter =>
      scanOf(f.child).map { case (rs, cond) =>
        (rs, Some(cond.map(And(f.condition, _)).getOrElse(f.condition)))
      }
    case lr: LogicalRelation => lr.relation match {
      case fsr: HadoopFsRelation =>
        val scanned = fsr.location.inputFiles.map(normalize).toSet
        val matching = regs.values().asScala
          .filter(r => r.factFiles.nonEmpty && r.factFiles.subsetOf(scanned))
          .filter(withinStalenessBound)
          .toSeq.sortBy(_.kind == "minmax") // try the sum mart first
        if (matching.isEmpty) None else Some((matching, None))
      case _ => None
    }
    case _ => None
  }

  /** The mart-side replacement for one aggregate output, keeping the
    * original name AND exprId so nothing upstream re-resolves. */
  private def replacement(e: NamedExpression, reg: Reg): Option[NamedExpression] = {
    def mart(c: String): Attribute = reg.martPlan.output.find(_.name == c).get
    e match {
      case a: AttributeReference if reg.keyCols.contains(a.name) =>
        Some(Alias(mart(a.name), a.name)(exprId = a.exprId))
      case al @ Alias(ae: AggregateExpression, name) if !ae.isDistinct =>
        ae.aggregateFunction match {
          case Count(Seq(Literal(_, _))) =>
            Some(Alias(mart("n_rows"), name)(exprId = al.exprId))
          case Min(attr: AttributeReference)
              if reg.kind == "minmax" && attr.name == reg.valueCol =>
            Some(Alias(mart("vmin"), name)(exprId = al.exprId))
          case Max(attr: AttributeReference)
              if reg.kind == "minmax" && attr.name == reg.valueCol =>
            Some(Alias(mart("vmax"), name)(exprId = al.exprId))
          case _ => None
        }
      case al @ Alias(c: Cast, name) if reg.kind == "sum" && c.dataType == DoubleType &&
          isDsumTower(c, reg) =>
        Some(Alias(Cast(mart("total"), DoubleType), name)(exprId = al.exprId))
      // ExactSums.davg — dsum(v) / count(1) as doubles: both operands
      // are stored mart columns (total, n_rows), so the average is a
      // free derivation with the identical IEEE division
      case al @ Alias(d: Divide, name) if reg.kind == "sum" &&
          isDsumTower(d.left, reg) && isCountAsDouble(d.right) =>
        Some(Alias(d.withNewChildren(Seq(
          Cast(mart("total"), DoubleType), Cast(mart("n_rows"), DoubleType))),
          name)(exprId = al.exprId))
      case _ => None
    }
  }

  /** The [[graft.ops.ExactSums.dsum]] expression shape over the
    * registered value column: CAST(sum(CAST(v AS DECIMAL(18,4))) AS
    * DOUBLE) — exactly what the sum mart's `total` column stores. */
  private def isDsumTower(e: Expression, reg: Reg): Boolean = e match {
    case c: Cast if c.dataType == DoubleType =>
      c.child match {
        case ae: AggregateExpression if !ae.isDistinct =>
          ae.aggregateFunction match {
            case Sum(Cast(attr: AttributeReference, dt: DecimalType, _, _), _) =>
              attr.name == reg.valueCol && dt.precision == 18 && dt.scale == 4
            case _ => false
          }
        case _ => false
      }
    case _ => false
  }

  /** `count(1)` implicitly cast to DOUBLE (the analyzer's promotion in
    * a double division) — served by the mart's `n_rows`. */
  private def isCountAsDouble(e: Expression): Boolean = e match {
    case c: Cast if c.dataType == DoubleType =>
      c.child match {
        case ae: AggregateExpression if !ae.isDistinct =>
          ae.aggregateFunction match {
            case Count(Seq(Literal(_, _))) => true
            case _ => false
          }
        case _ => false
      }
    case _ => false
  }

  // ---------------- join-mart rewrite (lake23's A ⋈ B) ------------------

  private final case class JoinReg(
      aRoot: String, bRoot: String,
      aFiles: Set[String], bFiles: Set[String],
      aVersion: Long, bVersion: Long,
      maxVersionLag: Long,
      aKeyCol: String, bKeyCol: String,
      martPlan: LogicalPlan)

  private val joinRegs =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), JoinReg]()

  /** Route future INNER equi-joins of `aRoot` and `bRoot` on
    * (aKeyCol = bKeyCol) — the exact shape
    * [[graft.ops.LakeOps.maintainJoinMart]] maintains — to the mart at
    * `martRoot`, which stores the full joined row. The same soundness
    * contract as the aggregate registrations: both scans must cover
    * their registered file sets (superset-proven identity, so
    * time-travel and pruned-subset scans refuse), deterministic filters
    * on either side push onto the mart verbatim (every joined column is
    * stored), and `maxVersionLag` bounds staleness on BOTH sources.
    * Column names across the two tables must be distinct (the joined
    * mart's schema — checked here). Re-register after each maintenance
    * cycle, or call [[graft.ops.LakeOps.maintainJoinAndReregister]]. */
  def registerJoin(spark: SparkSession, aRoot: String, bRoot: String,
      aKeyCol: String, bKeyCol: String, martRoot: String,
      maxVersionLag: Long = Long.MaxValue): Unit = {
    val martPlan = GraftSqlBridge.analyzed(
      graft.sources.ManifestTable.read(spark, martRoot))
    val martNames = martPlan.output.map(_.name)
    require(martNames.distinct.size == martNames.size,
      s"$martRoot has duplicate column names — a join mart needs distinct names across both sides")
    require(Seq(aKeyCol, bKeyCol).forall(martNames.contains),
      s"$martRoot does not store both join keys ($aKeyCol, $bKeyCol)")
    def snap(root: String): (Set[String], Long) = {
      val vs = graft.sources.ManifestTable.versions(spark, root)
      require(vs.nonEmpty, s"$root is not a manifest table")
      (graft.sources.ManifestTable.manifestFiles(spark, root, vs.max)
        .map(p => normalize(if (p.startsWith("/")) p else s"$root/$p")).toSet, vs.max)
    }
    val (aF, aV) = snap(aRoot)
    val (bF, bV) = snap(bRoot)
    joinRegs.put((aRoot, bRoot, s"$aKeyCol=$bKeyCol"),
      JoinReg(aRoot, bRoot, aF, bF, aV, bV, maxVersionLag, aKeyCol, bKeyCol, martPlan))
    if (!spark.experimental.extraOptimizations.contains(MartRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MartRewrite
  }

  /** One side of a candidate join: a single full-table scan under
    * attribute-only Projects and deterministic Filters. */
  private def sideOf(plan: LogicalPlan): Option[(Set[String], Option[Expression])] = plan match {
    case p: Project if p.projectList.forall(_.isInstanceOf[Attribute]) => sideOf(p.child)
    case f: Filter if f.condition.deterministic =>
      sideOf(f.child).map { case (files, cond) =>
        (files, Some(cond.map(And(f.condition, _)).getOrElse(f.condition)))
      }
    case lr: LogicalRelation => lr.relation match {
      case fsr: HadoopFsRelation =>
        Some((fsr.location.inputFiles.map(normalize).toSet, None))
      case _ => None
    }
    case _ => None
  }

  private def joinWithinStaleness(r: JoinReg): Boolean =
    r.maxVersionLag == Long.MaxValue || {
      try {
        // cached-tip reads, NOT per-plan filesystem listings — see
        // [[withinStalenessBound]]
        def tip(root: String): Long =
          graft.sources.ManifestTable.knownTipVersion(SparkSession.active, root)
        tip(r.aRoot) - r.aVersion <= r.maxVersionLag &&
          tip(r.bRoot) - r.bVersion <= r.maxVersionLag
      } catch { case scala.util.control.NonFatal(_) => false }
    }

  /** Re-plan a provable `A ⋈ B` onto the registered join mart: both
    * sides' scans must be SUPERSETS of their registered file sets, the
    * condition must be the registered equi-key pair, every output
    * column must be stored in the mart, and side filters re-attach
    * above the mart read. */
  private def joinRewrite(j: Join): Option[LogicalPlan] = {
    if (joinRegs.isEmpty || j.joinType != Inner) return None
    val condKeys = j.condition match {
      case Some(EqualTo(a: AttributeReference, b: AttributeReference)) =>
        Some(Set(a.name, b.name))
      case _ => None
    }
    if (condKeys.isEmpty) return None
    for {
      (lFiles, lCond) <- sideOf(j.left)
      (rFiles, rCond) <- sideOf(j.right)
      reg <- joinRegs.values().asScala.find(r =>
        condKeys.contains(Set(r.aKeyCol, r.bKeyCol)) &&
          r.aFiles.nonEmpty && r.bFiles.nonEmpty &&
          ((r.aFiles.subsetOf(lFiles) && r.bFiles.subsetOf(rFiles)) ||
            (r.aFiles.subsetOf(rFiles) && r.bFiles.subsetOf(lFiles))) &&
          joinWithinStaleness(r))
      martCols = reg.martPlan.output.map(a => a.name -> a).toMap
      if j.output.forall(a => martCols.contains(a.name))
      // every attribute a side FILTER references must also be stored —
      // a filtered-but-unprojected column the mart lacks (e.g. a column
      // added to a fact after registration while the file-set superset
      // still holds) would otherwise keep its foreign exprId through
      // the transform below and yield an unresolvable plan at execution
      if Seq(lCond, rCond).flatten.forall(
        _.references.forall(a => martCols.contains(a.name)))
    } yield {
      val filters = Seq(lCond, rCond).flatten
      val base = filters.reduceOption(And) match {
        case Some(c) => Filter(c.transform {
          case a: AttributeReference if martCols.contains(a.name) => martCols(a.name)
        }, reg.martPlan)
        case None => reg.martPlan
      }
      Project(
        j.output.map(a => Alias(martCols(a.name), a.name)(exprId = a.exprId)), base)
    }
  }

  /** The agg-over-join composition (registerJoin ∘ register): an
    * Aggregate whose child is a provable, UNFILTERED `A ⋈ B` that a join
    * registration serves, grouped by a key set an aggregate registration
    * OVER THE JOIN MART stores — served straight from the agg mart in
    * O(groups), scanning neither fact NOR the join mart. The identity
    * chain is two proofs composed: the join reg proves query-join ≡
    * join-mart content (file-set superset + staleness bound on both
    * facts), and the agg reg proves join-mart-agg ≡ agg-mart content
    * (same superset proof, with the JOIN MART as the fact). Unfiltered
    * shape only: a side filter would need a group-preservation argument
    * ACROSS the join, which the single-table key-filter rule doesn't
    * give. */
  private def joinAggRewrite(gs: Seq[AttributeReference],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    if (regs.isEmpty || joinRegs.isEmpty) return None
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project if pr.projectList.forall(_.isInstanceOf[Attribute]) =>
        strip(pr.child)
      case other => other
    }
    strip(child) match {
      case j: Join if j.joinType == Inner =>
        val condKeys = j.condition match {
          case Some(EqualTo(a: AttributeReference, b: AttributeReference)) =>
            Some(Set(a.name, b.name))
          case _ => None
        }
        val gNames = gs.map(_.name)
        if (gNames.distinct.size != gNames.size) return None
        // the ONLY side filters tolerated are IsNotNull over the join
        // keys — the optimizer infers those from the inner equi-join
        // itself, so they provably drop no joined row; anything else
        // would need a group-preservation argument ACROSS the join
        def impliedByJoin(c: Option[Expression], keys: Set[String]): Boolean = {
          def ok(e: Expression): Boolean = e match {
            case And(l, r) => ok(l) && ok(r)
            case org.apache.spark.sql.catalyst.expressions
                .IsNotNull(a: AttributeReference) => keys.contains(a.name)
            case _ => false
          }
          c.forall(ok)
        }
        for {
          ck <- condKeys
          (lFiles, lCond) <- sideOf(j.left)
          (rFiles, rCond) <- sideOf(j.right)
          if impliedByJoin(lCond, ck) && impliedByJoin(rCond, ck)
          jreg <- joinRegs.values().asScala.find(r =>
            ck == Set(r.aKeyCol, r.bKeyCol) &&
              r.aFiles.nonEmpty && r.bFiles.nonEmpty &&
              ((r.aFiles.subsetOf(lFiles) && r.bFiles.subsetOf(rFiles)) ||
                (r.aFiles.subsetOf(rFiles) && r.bFiles.subsetOf(lFiles))) &&
              joinWithinStaleness(r))
          // the join mart's registered file set (every relation in the
          // registered read — a MOR mart's DV scan included) — the
          // "fact" identity the aggregate registration must cover
          martFiles = jreg.martPlan.collect {
            case lr: LogicalRelation => lr.relation
          }.collect { case fsr: HadoopFsRelation =>
            fsr.location.inputFiles.map(normalize).toSet
          }.foldLeft(Set.empty[String])(_ ++ _)
          if martFiles.nonEmpty
          served <- regs.values().asScala
            .filter(r => r.keyCols.toSet == gNames.toSet &&
              r.factFiles.nonEmpty && r.factFiles.subsetOf(martFiles) &&
              withinStalenessBound(r))
            .toSeq.sortBy(_.kind == "minmax")
            .iterator
            .map(r => r -> aggExprs.map(replacement(_, r)))
            .find(_._2.forall(_.isDefined))
        } yield Project(served._2.map(_.get), served._1.martPlan)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (regs.isEmpty && joinRegs.isEmpty) return plan
    plan.transform {
      case agg @ Aggregate(grouping, aggExprs, child, _)
          if grouping.nonEmpty && grouping.forall(_.isInstanceOf[AttributeReference]) =>
        val gs = grouping.map(_.asInstanceOf[AttributeReference])
        val gNames = gs.map(_.name)
        val direct: Option[LogicalPlan] = scanOf(child) match {
          case Some((candidates, cond))
              // a filter is pushable iff deterministic and over the
              // grouping KEYS alone (group-preserving by definition)
              if gNames.distinct.size == gNames.size &&
                cond.forall(c => c.deterministic &&
                  c.references.forall(r => gs.exists(_.exprId == r.exprId))) =>
            val served = candidates.iterator
              .filter(_.keyCols.toSet == gNames.toSet)
              .map(reg => reg -> aggExprs.map(replacement(_, reg)))
              .find(_._2.forall(_.isDefined))
            served.map { case (reg, outs) =>
              def martAttr(n: String): Attribute =
                reg.martPlan.output.find(_.name == n).get
              val base = cond match {
                case Some(c) => Filter(c.transform {
                  case a: AttributeReference if gs.exists(_.exprId == a.exprId) =>
                    martAttr(a.name)
                }, reg.martPlan)
                case None => reg.martPlan
              }
              Project(outs.map(_.get), base)
            }
          case _ => None
        }
        direct.orElse(joinAggRewrite(gs, aggExprs, child)).getOrElse(agg)
      case j: Join => joinRewrite(j).getOrElse(j)
    }
  }
}
