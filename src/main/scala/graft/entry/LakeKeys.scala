package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{ClassifyOps, ContaminationOps, DedupOps, EventOps, LakeOps, PackOps, QuantizeOps, SampleOps, SimilarityOps, TextOps}
import graft.EntryHelpers._

/** Driver-contract keys — lakehouse family: manifest tables, time travel, pruning, MOR/COW, IVM marts, materialized-view rewrite, SCD/merge.
  *
  * Mechanically split out of SparkEntry (round 15) with ZERO behavior
  * change: entries are verbatim; [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]] concatenate the families. Shared helper
  * builders live in [[EntryHelpers]].
  */
private[graft] object LakeKeys {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scd1_scd2_history" -> ((s, dir) =>
      // dbt-snapshot analog: SCD2 validity intervals from the order-status
      // observation log — one row per (customer, status) run with
      // [valid_from, valid_to) and is_current on the open interval
      LakeOps.scd2Snapshot(t(s, dir, "orders"),
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")),

    "mrg1_merge_upsert" -> ((s, dir) => {
      // dbt-incremental merge analog: apply one increment batch (orders
      // during 1996H1) to the state table built before 1996 — exercises
      // all three MERGE branches (update / insert / carry-through) at
      // every SF; LakeOpsSpec pins the branch semantics
      val orders = t(s, dir, "orders")
      val cutLo = lit("1996-01-01").cast("timestamp")
      val cutHi = lit("1996-07-01").cast("timestamp")
      val tgt = LakeOps.latestState(orders.filter(col("o_orderdate") < cutLo),
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
      val src = LakeOps.latestState(
        orders.filter(col("o_orderdate") >= cutLo && col("o_orderdate") < cutHi),
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
      LakeOps.mergeUpsert(tgt, src, "o_custkey",
        takeLatest = Seq("status", "last_order"), sumCols = Seq("n_orders"))
    }),

    "mv1_query_rewrite" -> ((s, dir) => {
      // transparent MATERIALIZED-VIEW routing (the optimizer half of
      // lake11's incremental maintenance): a count/sum aggregate over
      // the FACT manifest table is silently re-planned onto the
      // maintained mart — O(groups) instead of O(fact) — via a
      // registered Catalyst Rule (plans/MartRewrite). Pins: the
      // rewritten plan scans the MART and not the fact; a filtered
      // control query does NOT rewrite; the served numbers are the
      // full-fact truth (the mart was maintained to the tip).
      val fact = java.nio.file.Files.createTempDirectory("mv1_fact").toString
      val mart = java.nio.file.Files.createTempDirectory("mv1_mart").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      MT.create(s, fact, orders.filter(col("o_orderstatus") === "F"))
      graft.ops.LakeOps.maintainAggMartTotal(s, fact, mart, Seq("o_orderstatus"), "o_totalprice")
      MT.append(s, fact, orders.filter(col("o_orderstatus") =!= "F"))
      graft.ops.LakeOps.maintainAggMartTotal(s, fact, mart, Seq("o_orderstatus"), "o_totalprice")
      graft.plans.MartRewrite.register(s, fact, Seq("o_orderstatus"), "o_totalprice", mart)
      try {
        val q = MT.read(s, fact).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
        def leafStrings(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan.collectLeaves().map(_.toString)
        val martName = new java.io.File(mart).getName
        val factName = new java.io.File(fact).getName
        val servedFromMart = leafStrings(q).exists(_.contains(martName)) &&
          !leafStrings(q).exists(_.contains(factName))
        val control = MT.read(s, fact)
          .filter(col("o_orderkey") % 2 === 0).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"))
        val controlUntouched = !leafStrings(control).exists(_.contains(martName))
        q.select(lit(servedFromMart).as("served_from_mart"),
          lit(controlUntouched).as("control_unrewritten"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
          .localCheckpoint() // pin the rows before deregistration
      } finally graft.plans.MartRewrite.deregister(fact)
    }),

    "mv2_rewrite_filtered" -> ((s, dir) => {
      // MartRewrite's two round-10 hardenings in one key: (a) a
      // deterministic filter over the GROUP KEY (the `WHERE key IN
      // (...)` shape real dashboards send) rides the rewrite onto the
      // mart — key predicates are group-preserving, so the filter
      // pushes verbatim; (b) fact-table identity is PROVEN by file-set
      // superset, so a TIME-TRAVEL read at v1 — a proper subset of the
      // registered files — must NOT be answered from the tip mart
      // (wrong results, not staleness) and is pinned both by plan
      // inspection and by its v1-true values.
      val fact = java.nio.file.Files.createTempDirectory("mv2_fact").toString
      val mart = java.nio.file.Files.createTempDirectory("mv2_mart").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      MT.create(s, fact, orders.filter(col("o_orderstatus") === "F"))
      MT.append(s, fact, orders.filter(col("o_orderstatus") =!= "F"))
      graft.ops.LakeOps.maintainAggMartTotal(s, fact, mart, Seq("o_orderstatus"), "o_totalprice")
      graft.plans.MartRewrite.register(s, fact, Seq("o_orderstatus"), "o_totalprice", mart)
      try {
        def leafStrings(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan.collectLeaves().map(_.toString)
        val martName = new java.io.File(mart).getName
        val factName = new java.io.File(fact).getName
        val q = MT.read(s, fact)
          .filter(col("o_orderstatus").isin("F", "O"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
        val filteredFromMart = leafStrings(q).exists(_.contains(martName)) &&
          !leafStrings(q).exists(_.contains(factName))
        val tt = MT.read(s, fact, Some(1L)).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_tt"))
        val ttUnrewritten = !leafStrings(tt).exists(_.contains(martName))
        val ttRows = tt.collect() // v1 = F only
        val ttTrue = ttRows.length == 1 && ttRows(0).getString(0) == "F"
        q.select(lit(filteredFromMart).as("filtered_from_mart"),
          lit(ttUnrewritten && ttTrue).as("timetravel_unrewritten"),
          lit(ttRows(0).getLong(1)).as("n_f_at_v1"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
          .localCheckpoint() // pin the rows before deregistration
      } finally graft.plans.MartRewrite.deregister(fact)
    }),

    "mv3_rewrite_minmax" -> ((s, dir) => {
      // MV routing for the NON-self-maintainable mart shape: a
      // count/min/max aggregate (with a group-key filter) re-plans onto
      // the lake32-maintained (key, n_rows, vmin, vmax) mart, while a
      // sum-shaped control query — which that mart cannot serve — stays
      // on the fact scan. Pins: plan routing both ways, values equal
      // the from-scratch truth.
      val fact = java.nio.file.Files.createTempDirectory("mv3_fact").toString
      val mart = java.nio.file.Files.createTempDirectory("mv3_mart").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      MT.create(s, fact, orders)
      graft.ops.LakeOps.maintainMinMaxMart(s, fact, mart, "o_orderstatus", "o_totalprice")
      graft.plans.MartRewrite.registerMinMax(s, fact, "o_orderstatus", "o_totalprice", mart)
      try {
        def leafStrings(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan.collectLeaves().map(_.toString)
        val martName = new java.io.File(mart).getName
        val factName = new java.io.File(fact).getName
        val q = MT.read(s, fact)
          .filter(col("o_orderstatus").isin("F", "O"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"))
        val servedFromMart = leafStrings(q).exists(_.contains(martName)) &&
          !leafStrings(q).exists(_.contains(factName))
        val control = MT.read(s, fact).groupBy("o_orderstatus")
          .agg(dsum(col("o_totalprice")).as("s"))
        val controlUntouched = !leafStrings(control).exists(_.contains(martName))
        q.select(lit(servedFromMart).as("served_from_mart"),
          lit(controlUntouched).as("sum_control_unrewritten"),
          col("o_orderstatus"), col("n_orders"), col("min_price"), col("max_price"))
          .localCheckpoint() // pin the rows before deregistration
      } finally graft.plans.MartRewrite.deregister(fact)
    }),

    "mv4_rewrite_composite" -> ((s, dir) => {
      // composite-key MV routing: a (status, priority) count/dsum mart
      // maintained incrementally through the total feed (an append + a
      // MOR delete window — maintainAggMartTotal, the lake30 algebra,
      // over a surrogate-bound composite key), then a multi-key
      // aggregate in the REVERSED grouping order re-plans onto it.
      // Pins: routing, a single-key control staying on the fact, and
      // the served numbers equal the from-scratch truth.
      val fact = java.nio.file.Files.createTempDirectory("mv4_fact").toString
      val mart = java.nio.file.Files.createTempDirectory("mv4_mart").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      val keys = Seq("o_orderstatus", "o_orderpriority")
      MT.create(s, fact, orders.filter(col("o_orderstatus") === "F"))
      graft.ops.LakeOps.maintainAggMartTotal(s, fact, mart, keys, "o_totalprice",
        writerId = "aggmart-keys")
      MT.append(s, fact, orders.filter(col("o_orderstatus") =!= "F"))
      MT.deleteMor(s, fact, col("o_custkey") % 5 === 0)
      graft.ops.LakeOps.maintainAggMartTotal(s, fact, mart, keys, "o_totalprice",
        writerId = "aggmart-keys")
      // a DV-bearing fact read carries the anti-join above the scan, a
      // shape the rewrite correctly cannot prove (spec-pinned safety);
      // purge materializes the deletes so the fact is pure files again
      MT.purgeDeletes(s, fact)
      graft.plans.MartRewrite.register(s, fact, keys, "o_totalprice", mart)
      try {
        def leafStrings(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan.collectLeaves().map(_.toString)
        val martName = new java.io.File(mart).getName
        val factName = new java.io.File(fact).getName
        val q = MT.read(s, fact)
          .groupBy("o_orderpriority", "o_orderstatus") // reversed order
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
        val servedFromMart = leafStrings(q).exists(_.contains(martName)) &&
          !leafStrings(q).exists(_.contains(factName))
        val control = MT.read(s, fact).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"))
        val controlUntouched = !leafStrings(control).exists(_.contains(martName))
        q.select(lit(servedFromMart).as("served_from_mart"),
          lit(controlUntouched).as("single_key_unrewritten"),
          col("o_orderpriority"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
          .localCheckpoint() // pin the rows before deregistration
      } finally graft.plans.MartRewrite.deregister(fact)
    }),

    "mv5_staleness_guard" -> ((s, dir) => {
      // the MV maintenance LOOP as one operation plus its ENFORCEABLE
      // freshness contract: LakeOps.maintainAndReregister advances the
      // mart AND the MartRewrite registration together (the operational
      // hole where maintaining-without-re-registering serves ever-staler
      // rewrites), and the registration's maxVersionLag disables the
      // rewrite once the fact tip runs more than N versions past the
      // registered snapshot — queries fall back to the FRESH fact scan
      // instead of unbounded staleness. Pins: four plan-shape probes
      // (fresh registration rewrites; within-bound staleness rewrites;
      // past-bound disables; one maintain call re-enables) + the final
      // mart-served aggregate equals the whole-fact truth.
      val fact = java.nio.file.Files.createTempDirectory("mv5_fact").toString
      val mart = java.nio.file.Files.createTempDirectory("mv5_mart").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      def leafStrings(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      val martName = new java.io.File(mart).getName
      def agg = MT.read(s, fact).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      def onMart = leafStrings(agg).exists(_.contains(martName))
      MT.create(s, fact, orders.filter(col("o_orderkey") % 4 === 0)) // v1
      graft.ops.LakeOps.maintainAndReregister(s, fact, mart,
        Seq("o_orderstatus"), "o_totalprice", maxVersionLag = 2L)
      try {
        val freshRewrites = onMart
        MT.append(s, fact, orders.filter(col("o_orderkey") % 4 === 1)) // v2: lag 1
        MT.append(s, fact, orders.filter(col("o_orderkey") % 4 === 2)) // v3: lag 2
        val withinBound = onMart
        MT.append(s, fact, orders.filter(col("o_orderkey") % 4 === 3)) // v4: lag 3
        val pastBoundDisabled = !onMart
        // ONE call: mart caught up to v4 AND registration advanced
        graft.ops.LakeOps.maintainAndReregister(s, fact, mart,
          Seq("o_orderstatus"), "o_totalprice", maxVersionLag = 2L)
        val q = agg
        val reregistered = leafStrings(q).exists(_.contains(martName))
        q.select(lit(freshRewrites).as("fresh_rewrites"),
          lit(withinBound).as("stale_within_bound_rewrites"),
          lit(pastBoundDisabled).as("past_bound_disabled"),
          lit(reregistered).as("reregistered_rewrites"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
          .localCheckpoint() // pin the rows before deregistration
      } finally graft.plans.MartRewrite.deregister(fact)
    }),

    "mv6_rewrite_avg" -> ((s, dir) => {
      // AVG from the sum mart with NO new mart shape: ExactSums.davg
      // (exact decimal sum ÷ count, divided as doubles — the
      // order-independent average both engines reproduce bit-exactly)
      // is total/n_rows, and both are stored mart columns, so the
      // rewrite derives it for free. Pins: the count+sum+avg aggregate
      // (with a group-key filter riding along) routes onto the mart;
      // an avg over an UNREGISTERED column stays on the fact; values
      // equal the from-scratch truth.
      val fact = java.nio.file.Files.createTempDirectory("mv6_fact").toString
      val mart = java.nio.file.Files.createTempDirectory("mv6_mart").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      MT.create(s, fact, orders)
      graft.ops.LakeOps.maintainAggMartTotal(s, fact, mart, Seq("o_orderstatus"), "o_totalprice")
      graft.plans.MartRewrite.register(s, fact, Seq("o_orderstatus"), "o_totalprice", mart)
      try {
        def leafStrings(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan.collectLeaves().map(_.toString)
        val martName = new java.io.File(mart).getName
        val factName = new java.io.File(fact).getName
        val q = MT.read(s, fact)
          .filter(col("o_orderstatus").isin("F", "O"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"),
            graft.ops.ExactSums.davg(col("o_totalprice")).as("avg_price"))
        val servedFromMart = leafStrings(q).exists(_.contains(martName)) &&
          !leafStrings(q).exists(_.contains(factName))
        val control = MT.read(s, fact).groupBy("o_orderstatus")
          .agg(graft.ops.ExactSums.davg(col("o_custkey")).as("a"))
        val controlUntouched = !leafStrings(control).exists(_.contains(martName))
        q.select(lit(servedFromMart).as("avg_from_mart"),
          lit(controlUntouched).as("other_column_unrewritten"),
          col("o_orderstatus"), col("n_orders"), col("total_price"), col("avg_price"))
          .localCheckpoint() // pin the rows before deregistration
      } finally graft.plans.MartRewrite.deregister(fact)
    }),

    "mv7_rewrite_join" -> ((s, dir) => {
      // JOIN-mart routing (the lake23 delta-join mart made transparent):
      // an INNER equi-join of the two registered facts — the exact
      // shape maintainJoinMart maintains — re-plans onto the mart that
      // stores the full joined row, so an aggregate ABOVE the join
      // reads O(mart) instead of re-joining O(A)+O(B). Maintained
      // incrementally across an append window via ONE
      // maintainJoinAndReregister call (delta-join algebra + both
      // cursors + re-registration). Pins: the join-agg scans the mart
      // and neither fact; a different key pair stays un-rewritten; the
      // served aggregate equals the from-scratch join-agg truth.
      val a = java.nio.file.Files.createTempDirectory("mv7_a").toString
      val b = java.nio.file.Files.createTempDirectory("mv7_b").toString
      val mart = java.nio.file.Files.createTempDirectory("mv7_mart").toString
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val MT = graft.sources.ManifestTable
      MT.create(s, a, orders.filter(col("o_orderstatus") === "F"))
      MT.create(s, b, customer)
      graft.ops.LakeOps.maintainJoinAndReregister(s, a, b, mart, "o_custkey", "c_custkey")
      MT.append(s, a, orders.filter(col("o_orderstatus") =!= "F"))
      graft.ops.LakeOps.maintainJoinAndReregister(s, a, b, mart, "o_custkey", "c_custkey")
      try {
        def leafStrings(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan.collectLeaves().map(_.toString)
        val martName = new java.io.File(mart).getName
        val q = MT.read(s, a)
          .join(MT.read(s, b), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        val servedFromMart = leafStrings(q).exists(_.contains(martName)) &&
          !leafStrings(q).exists(l => l.contains(new java.io.File(a).getName) ||
            l.contains(new java.io.File(b).getName))
        val control = MT.read(s, a)
          .join(MT.read(s, b), col("o_custkey") === col("c_nationkey"))
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        val controlUntouched = !leafStrings(control).exists(_.contains(martName))
        q.select(lit(servedFromMart).as("join_from_mart"),
          lit(controlUntouched).as("other_key_unrewritten"),
          col("c_mktsegment"), col("n_orders"), col("total_price"))
          .localCheckpoint() // pin the rows before deregistration
      } finally {
        graft.plans.MartRewrite.deregister(a)
        graft.plans.MartRewrite.deregister(b)
      }
    }),

    "mv8_rewrite_join_agg" -> ((s, dir) => {
      // registerJoin ∘ register (the composed MV stack): the join mart
      // is itself a manifest table, so a count/sum mart maintained OVER
      // it rides the join mart's own change feed — and ONE
      // maintainJoinAggAndReregister call advances the A⋈B mart through
      // an append + MOR-delete window (total feed), the agg mart above
      // it, and BOTH rewrite registrations. A provable groupBy over the
      // join then serves from the AGG mart in O(groups): the plan scans
      // neither fact NOR the join mart. Pins: the join-agg's leaves are
      // the agg mart alone; the BARE join still routes to the join
      // mart; a different grouping key falls back to the join mart (not
      // the agg mart); values equal the from-scratch truth.
      val a = java.nio.file.Files.createTempDirectory("mv8_a").toString
      val b = java.nio.file.Files.createTempDirectory("mv8_b").toString
      val jmart = java.nio.file.Files.createTempDirectory("mv8_jmart").toString
      val amart = java.nio.file.Files.createTempDirectory("mv8_amart").toString
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val MT = graft.sources.ManifestTable
      MT.create(s, a, orders.filter(col("o_orderkey") % 3 === 0))
      MT.enableRowTracking(s, a) // the purge-dv window needs the id-preserving feed
      MT.create(s, b, customer)
      graft.ops.LakeOps.maintainJoinAggAndReregister(s, a, b, jmart, amart,
        "o_custkey", "c_custkey", "c_mktsegment", "o_totalprice")
      // a NON-append window on the fact: the total feed maintains the
      // join mart through it, and the agg mart follows the join mart's
      // own MOR change feed; the purge materializes the vector so the
      // tip scan is bare files again (rewrites refuse while a live DV's
      // anti-join sits above the scan — the documented MV contract)
      MT.append(s, a, orders.filter(col("o_orderkey") % 3 === 1))
      MT.deleteMor(s, a, col("o_orderkey") % 9 === 0)
      MT.purgeDeletes(s, a)
      graft.ops.LakeOps.maintainJoinAggAndReregister(s, a, b, jmart, amart,
        "o_custkey", "c_custkey", "c_mktsegment", "o_totalprice")
      try {
        def leafStrings(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan.collectLeaves().map(_.toString)
        def name(p: String) = new java.io.File(p).getName
        def joinOf() = MT.read(s, a)
          .join(MT.read(s, b), col("o_custkey") === col("c_custkey"))
        val q = joinOf().groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        val qLeaves = leafStrings(q)
        val aggFromAggMart = qLeaves.exists(_.contains(name(amart))) &&
          !qLeaves.exists(l => l.contains(name(a)) || l.contains(name(b)) ||
            l.contains(name(jmart)))
        val bareJoinLeaves = leafStrings(joinOf())
        val joinFromJoinMart = bareJoinLeaves.exists(_.contains(name(jmart))) &&
          !bareJoinLeaves.exists(_.contains(name(amart)))
        val otherKey = joinOf().groupBy("c_nationkey").agg(count(lit(1)).as("n"))
        val otherKeyLeaves = leafStrings(otherKey)
        val otherKeyOnJoinMart = otherKeyLeaves.exists(_.contains(name(jmart))) &&
          !otherKeyLeaves.exists(_.contains(name(amart)))
        q.select(lit(aggFromAggMart).as("agg_from_agg_mart"),
          lit(joinFromJoinMart).as("join_from_join_mart"),
          lit(otherKeyOnJoinMart).as("other_key_on_join_mart"),
          col("c_mktsegment"), col("n_orders"), col("total_price"))
          .localCheckpoint() // pin the rows before deregistration
      } finally {
        graft.plans.MartRewrite.deregister(a)
        graft.plans.MartRewrite.deregister(b)
        graft.plans.MartRewrite.deregister(jmart)
      }
    }),

    "lake11_incr_agg" -> ((s, dir) => {
      // incremental view maintenance over the CDF: the agg mart
      // bootstraps on the F slice, then two appends are folded in by
      // aggregating ONLY each delta and re-applying the affected groups
      // in one atomic mart commit; a fourth call is a caught-up no-op. The per-step delta
      // row counts are literal mirrors (the oracle re-derives them), so
      // a maintenance pass that silently rescanned or double-counted
      // breaks the hash; the final mart must equal the from-scratch
      // aggregate BIT-exactly (decimal partials are associative).
      val srcRoot = java.nio.file.Files.createTempDirectory("lake11_src")
      val martRoot = java.nio.file.Files.createTempDirectory("lake11_mart")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, srcRoot.toString,
        orders.filter(col("o_orderstatus") === "F"))
      LakeOps.maintainAggMartTotal(s, srcRoot.toString, martRoot.toString,
        Seq("o_orderstatus"), "o_totalprice")
      graft.sources.ManifestTable.append(s, srcRoot.toString,
        orders.filter(col("o_orderstatus") === "O"))
      val (_, d1) = LakeOps.maintainAggMartTotal(s, srcRoot.toString, martRoot.toString,
        Seq("o_orderstatus"), "o_totalprice")
      graft.sources.ManifestTable.append(s, srcRoot.toString,
        orders.filter(col("o_orderstatus") === "P"))
      val (_, d2) = LakeOps.maintainAggMartTotal(s, srcRoot.toString, martRoot.toString,
        Seq("o_orderstatus"), "o_totalprice")
      val (_, d3) = LakeOps.maintainAggMartTotal(s, srcRoot.toString, martRoot.toString,
        Seq("o_orderstatus"), "o_totalprice")
      graft.sources.ManifestTable.read(s, martRoot.toString)
        .select(lit(d1).as("step1_rows"), lit(d2).as("step2_rows"),
          lit(d3).as("step3_rows"), col("o_orderstatus"),
          col("n_rows").as("n_orders"), col("total").cast("double").as("total_price"))
    }),

    "lake10_delete_cow" -> ((s, dir) => {
      // copy-on-write DELETE: on a date-range-clustered table, deleting
      // the most recent orders rewrites only the tail file(s) — the
      // stats clear everything earlier. rewrote_minority pins the COW
      // claim; the surviving content must equal the oracle's
      // NOT(predicate IS TRUE) filter exactly.
      val root = java.nio.file.Files.createTempDirectory("lake10_delete")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.repartitionByRange(8, col("o_orderdate")),
        statsColumns = Seq("o_orderdate"))
      // the synthetic orders span 1995..2001; 2000+ is the tail ~2 of 8
      // range-partitioned files at every SF
      val (_, st) = graft.sources.ManifestTable.delete(s, root.toString,
        col("o_orderdate") >= lit("2000-01-01").cast("timestamp"),
        statsColumns = Seq("o_orderdate"))
      graft.sources.ManifestTable.read(s, root.toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(st.filesRewritten < st.filesUntouched).as("rewrote_minority"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake9_merge_cow" -> ((s, dir) => {
      // copy-on-write MERGE through the manifest (the flagship lakehouse
      // mutation): orders range-clustered on o_orderkey with stats; the
      // batch updates keys <= 100 (status 'X', +1000 price) and inserts
      // 10 new keys far above the range. Skipping makes the rewrite
      // touch only the low-key boundary file(s); rewrote_minority pins
      // that, and the relational result must equal the oracle's replay
      // of WHEN MATCHED UPDATE / NOT MATCHED INSERT semantics.
      val root = java.nio.file.Files.createTempDirectory("lake9_merge")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.repartitionByRange(8, col("o_orderkey")),
        statsColumns = Seq("o_orderkey"))
      val updates = orders.filter(col("o_orderkey") <= 100)
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val inserts = orders.filter(col("o_orderkey") <= 10)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
      val (_, st) = graft.sources.ManifestTable.merge(
        s, root.toString, updates.unionByName(inserts), "o_orderkey",
        statsColumns = Seq("o_orderkey"))
      graft.sources.ManifestTable.read(s, root.toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(st.filesRewritten < st.filesUntouched).as("rewrote_minority"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake8_keyjoin_pruned" -> ((s, dir) => {
      // join-time file skipping (the DPP idea over the manifest): the
      // fact table is hash-clustered on o_custkey with per-file blooms;
      // the dimension side's 10 join keys prune fact FILES before the
      // join runs. Sound because an inner join discards non-matching
      // fact rows anyway; the oracle replays the plain join, and
      // pruned_some mirrors that files actually dropped.
      val root = java.nio.file.Files.createTempDirectory("lake8_keyjoin")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.repartition(8, col("o_custkey")),
        bloomColumns = Seq("o_custkey"))
      val dim = t(s, dir, "customer").filter(col("c_custkey") < 10)
        .select(col("c_custkey"))
      val facts = graft.sources.ManifestTable.readPrunedByKeys(
        s, root.toString, "o_custkey", dim)
      // the drop is observed on the ACTUAL pruned frame, not re-derived
      val total = graft.sources.ManifestTable.manifestFiles(s, root.toString, 1L).size
      val kept = facts.select(input_file_name()).distinct().count()
      val dropped = (0 until (total - kept.toInt)).toSeq
      facts.join(broadcast(dim), facts("o_custkey") === dim("c_custkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(dropped.nonEmpty).as("pruned_some"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
    }),

    "lake7_manifest_count" -> ((s, dir) => {
      // metadata-resolved COUNT: on a range-clustered table an interior
      // date-range count sums committed per-file row counts for the
      // fully-covered files and scans ONLY the two boundary files —
      // aggregate pushdown into the table format. The count itself is
      // the oracle; the mirrors pin that metadata actually resolved
      // files (meta_resolved_some) and that the scan stayed a minority
      // of the layout (scanned_minority).
      val root = java.nio.file.Files.createTempDirectory("lake7_count")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.repartitionByRange(8, col("o_orderdate")),
        statsColumns = Seq("o_orderdate"))
      val f = col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp")
      val (n, full, resid) = graft.sources.ManifestTable.countWhere(s, root.toString, f)
      s.range(1).select(lit(n).as("n_orders"),
        lit(full > 0).as("meta_resolved_some"),
        lit(resid < 8).as("scanned_minority"))
    }),

    "lake6_zorder_pruned" -> ((s, dir) => {
      // OPTIMIZE ZORDER under the oracle: rewrite orders along the
      // Morton curve of (o_orderdate, o_totalprice), then push a 2-d box
      // predicate through the stats-pruned read. Range clustering could
      // serve ONE of the two dimensions; the z-layout serves both —
      // pruned_some mirrors the observed drop, the relational result
      // must equal the plain filtered aggregate exactly.
      val root = java.nio.file.Files.createTempDirectory("lake6_zorder")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString, orders.repartition(4))
      // target ~8 files at ANY scale factor so the prune has a real
      // multi-file layout to work against
      val target = math.max(1L,
        graft.sources.ManifestTable.tableBytes(s, root.toString) / 8)
      graft.sources.ManifestTable.optimizeZOrder(s, root.toString,
        Seq("o_orderdate", "o_totalprice"), target)
      val f = col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp") &&
        col("o_totalprice") < 100000.0
      val (_, dropped, _) = graft.sources.ManifestTable.pruneFiles(s, root.toString, f)
      graft.sources.ManifestTable.readPruned(s, root.toString, f)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(dropped.nonEmpty).as("pruned_some"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
    }),

    "lake5_bloom_pruned" -> ((s, dir) => {
      // point-lookup file skipping via per-file blooms: the table is
      // HASH-clustered on o_orderkey, so every file spans ~the full key
      // range and min/max stats cannot prune an equality probe — only
      // the manifest blooms can. The oracle re-derives the probed rows
      // relationally; `pruned_some` mirrors the observed file drop, so
      // a bloom that stops working breaks the hash loudly.
      val root = java.nio.file.Files.createTempDirectory("lake5_bloom")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.repartition(8, col("o_orderkey")),
        bloomColumns = Seq("o_orderkey"))
      val f = col("o_orderkey").isin(7L, 42L, 1337L)
      val (_, dropped, _) = graft.sources.ManifestTable.pruneFiles(s, root.toString, f)
      graft.sources.ManifestTable.readPruned(s, root.toString, f)
        .select(lit(dropped.nonEmpty).as("pruned_some"), col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    }),

    "lake4_stats_pruned" -> ((s, dir) => {
      // data skipping off the manifest (sources/ManifestStats): the
      // table commits range-clustered on o_orderdate with per-file
      // min/max stats, and the predicate read plans its file set from
      // the manifest header alone. `pruned_some` is a literal mirror
      // (oracle: TRUE) — if pruning ever stops dropping files on this
      // layout, the hash breaks loudly; the relational result must
      // equal the unpruned filter exactly (the soundness contract).
      val root = java.nio.file.Files.createTempDirectory("lake4_stats")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.repartitionByRange(8, col("o_orderdate")),
        statsColumns = Seq("o_orderdate", "o_totalprice"))
      val f = col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp")
      val (_, dropped, _) = graft.sources.ManifestTable.pruneFiles(s, root.toString, f)
      graft.sources.ManifestTable.readPruned(s, root.toString, f)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(dropped.nonEmpty).as("pruned_some"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
    }),

    "lake3_changes_since" -> ((s, dir) => {
      // incremental consumption (change-data-feed): a consumer whose
      // cursor is version 2 must see EXACTLY the batch version 3
      // appended — not the snapshot, not a rescan. The oracle re-derives
      // that batch's aggregate from the source; any leakage of v1/v2
      // rows into the delta breaks the hash.
      val root = java.nio.file.Files.createTempDirectory("lake3_cdf")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.filter(col("o_orderstatus") === "F"))
      val cursor = graft.sources.ManifestTable.append(s, root.toString,
        orders.filter(col("o_orderstatus") === "O"))
      graft.sources.ManifestTable.append(s, root.toString,
        orders.filter(col("o_orderstatus") === "P"))
      val (delta, tip) = graft.sources.ManifestTable
        .readChangesSince(s, root.toString, cursor)
      delta.groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(tip).as("tip_version"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
    }),

    "lake2_state_skip" -> ((s, dir) => {
      // the state-aware runner (dbt `state:modified` analog) under the
      // oracle: run a view→table DAG twice with identical input state;
      // run 2 MUST skip the rebuild (action hash-gated via literal
      // mirrors in the oracle) and serve the identical committed
      // content. A skip that recomputed, or a rebuild that produced
      // different rows, both break the hash.
      import graft.model.{Materialization, Model, Registry}
      val root = java.nio.file.Files.createTempDirectory("lake2_state")
      val reg = new Registry(Seq(
        Model("v_orders", Seq("orders"), Materialization.View,
          r => r("orders").filter(col("o_totalprice") > 0)),
        Model("t_status", Seq("v_orders"), Materialization.Table,
          r => r("v_orders").groupBy("o_orderstatus")
            .agg(count(lit(1)).cast("long").as("n_orders")))))
      def pass(run: Int) = {
        val (rel, act) = reg.runStateAware(s, Map("orders" -> t(s, dir, "orders")),
          root.toString, sourceTokens = Map("orders" -> dir))
        rel("t_status").select(
          lit(run).as("run"), lit(act("t_status")).as("action"),
          col("o_orderstatus"), col("n_orders"))
      }
      val p1 = pass(1) // eager commit happens inside runStateAware
      p1.unionAll(pass(2))
    }),

    "lake1_manifest_timetravel" -> ((s, dir) => {
      // the versioned-manifest transactional table end to end (create →
      // append → overwrite → time travel): the engine's ACID commit
      // protocol (sources/ManifestTable, Delta-paper design) under the
      // oracle. The query re-reads version 2 AFTER version 3 overwrote
      // the table — snapshot isolation is what's being hash-checked; the
      // oracle re-derives both versions' content from the source table
      // with the same filters.
      val root = java.nio.file.Files.createTempDirectory("lake1_manifest")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.filter(col("o_orderstatus") === "F"))
      graft.sources.ManifestTable.append(s, root.toString,
        orders.filter(col("o_orderstatus") === "O"))
      graft.sources.ManifestTable.overwrite(s, root.toString,
        orders.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")))
      def agg(v: Long) = graft.sources.ManifestTable
        .read(s, root.toString, Some(v))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        .select(lit(v).as("version"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
      // eager: both reads must resolve file lists before the temp dir is
      // reaped post-run; union then hands one frame to the driver
      agg(2L).unionAll(agg(3L))
    }),

    "lake13_restore" -> ((s, dir) => {
      // RESTORE TO VERSION: v1 = even orders, v2 = append odds (full
      // table), v3 = a fat-finger overwrite with an empty frame, v4 =
      // restore(v2) — one metadata commit, no data copied. The restored
      // read must equal the plain full-table aggregate; the mirror pins
      // that restore landed as version 4.
      val root = java.nio.file.Files.createTempDirectory("lake13_restore")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.filter(col("o_orderkey") % 2 === 0).repartition(2))
      graft.sources.ManifestTable.append(s, root.toString,
        orders.filter(col("o_orderkey") % 2 === 1).repartition(2))
      graft.sources.ManifestTable.overwrite(s, root.toString,
        orders.filter(col("o_orderkey") < 0))
      val v = graft.sources.ManifestTable.restore(s, root.toString, 2L)
      graft.sources.ManifestTable.read(s, root.toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(v == 4L).as("restored_as_v4"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
    }),

    "lake14_history" -> ((s, dir) => {
      // DESCRIBE HISTORY: the per-version audit trail (op + exact row
      // count from committed per-file stats — driver-side text reads,
      // no scan). The oracle re-derives every version's row count from
      // the source: create = even keys, append = all, delete = the
      // survivors of the price predicate (NULL-pred rows would
      // survive; o_totalprice is non-null here).
      val root = java.nio.file.Files.createTempDirectory("lake14_history")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.filter(col("o_orderkey") % 2 === 0).repartition(2),
        statsColumns = Seq("o_orderkey"))
      graft.sources.ManifestTable.append(s, root.toString,
        orders.filter(col("o_orderkey") % 2 === 1).repartition(2),
        statsColumns = Seq("o_orderkey"))
      graft.sources.ManifestTable.delete(s, root.toString,
        col("o_totalprice") < 50000.0, statsColumns = Seq("o_orderkey"))
      import s.implicits._
      graft.sources.ManifestTable.history(s, root.toString)
        .map(v => (v.version, v.operation, v.rowCount.getOrElse(-1L)))
        .toDF("version", "operation", "n_rows")
    }),

    "lake15_column_mapping" -> ((s, dir) => {
      // metadata-only column RENAME (Delta's column mapping): v1 = even
      // orders with key stats, v2/v3 = rename o_orderkey→order_id and
      // o_totalprice→total_price (zero files staged — pinned into the
      // face), v4 = append the odd orders under the NEW logical names
      // (staged back to physical, so files stay homogeneous). The read
      // serves the full table under logical names, and a point probe on
      // the renamed key still prunes through the stats committed under
      // the physical name before the rename existed.
      val root = java.nio.file.Files.createTempDirectory("lake15_colmap")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")),
        statsColumns = Seq("o_orderkey"))
      val filesV1 = graft.sources.ManifestTable.manifestFiles(s, root.toString, 1L)
      graft.sources.ManifestTable.renameColumn(s, root.toString, "o_orderkey", "order_id")
      graft.sources.ManifestTable.renameColumn(s, root.toString, "o_totalprice", "total_price")
      val metadataOnly =
        graft.sources.ManifestTable.manifestFiles(s, root.toString, 3L) == filesV1
      graft.sources.ManifestTable.append(s, root.toString,
        orders.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_orderkey", "order_id")
          .withColumnRenamed("o_totalprice", "total_price")
          .repartitionByRange(4, col("order_id")),
        statsColumns = Seq("order_id"))
      val (_, dropped, _) = graft.sources.ManifestTable.pruneFiles(
        s, root.toString, col("order_id") === 16L)
      graft.sources.ManifestTable.read(s, root.toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("total_price")).as("total_price"),
          min(col("order_id")).as("min_order"),
          max(col("order_id")).as("max_order"))
        .select(lit(metadataOnly).as("rename_metadata_only"),
          lit(dropped.nonEmpty).as("pruned_after_rename"),
          col("o_orderstatus"), col("n_orders"), col("total_price"),
          col("min_order"), col("max_order"))
    }),

    "lake16_shallow_clone" -> ((s, dir) => {
      // shallow CLONE: the clone's first manifest names the source's
      // files by absolute path — zero bytes copied (pinned: no data dir
      // under the clone root) — then the tables diverge copy-on-write:
      // the clone deletes keys < 100 (only affected borrowed files
      // rewrite, locally), the source appends 5 rows, and neither side
      // sees the other's write. Face = both sides' aggregates, flags
      // pinning zero-copy and carried-stats pruning on the clone.
      val src = java.nio.file.Files.createTempDirectory("lake16_src").toString
      val dst = java.nio.file.Files.createTempDirectory("lake16_dst").toString
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, src,
        orders.repartitionByRange(4, col("o_orderkey")),
        statsColumns = Seq("o_orderkey"))
      graft.sources.ManifestTable.shallowClone(s, src, dst)
      val zeroCopy = !new java.io.File(s"$dst/data").exists()
      graft.sources.ManifestTable.delete(s, dst, col("o_orderkey") < 100L,
        statsColumns = Seq("o_orderkey"))
      graft.sources.ManifestTable.append(s, src,
        orders.orderBy(col("o_orderkey")).limit(5))
      val (_, dropped, _) = graft.sources.ManifestTable.pruneFiles(
        s, dst, col("o_orderkey") === 500L)
      def side(name: String, root: String) =
        graft.sources.ManifestTable.read(s, root)
          .groupBy(lit(name).as("side"))
          .agg(count(lit(1)).cast("long").as("n_rows"),
            dsum(col("o_totalprice")).as("total_price"),
            min(col("o_orderkey")).as("min_key"))
      side("clone", dst).unionByName(side("source", src))
        .select(lit(zeroCopy).as("clone_zero_copy"),
          lit(dropped.nonEmpty).as("pruned_on_clone"),
          col("side"), col("n_rows"), col("total_price"), col("min_key"))
    }),

    "lake17_stats_rollup" -> ((s, dir) => {
      // table-level stats rollup (Iceberg's manifest-list/partition-
      // summary idea): every commit folds the per-file stats into one
      // table-wide entry, so "is this table even relevant?" answers in
      // O(columns) — the routing decision a catalog of per-day/
      // per-tenant tables makes before planning anything. Face pins:
      // past-max and IS NULL probes skip the whole table, an in-range
      // point probe keeps it, a widening append widens the rollup, and
      // time travel answers with the OLD rollup.
      val root = java.nio.file.Files.createTempDirectory("lake17_rollup").toString
      val orders = t(s, dir, "orders")
      val mt = graft.sources.ManifestTable
      mt.create(s, root,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")),
        statsColumns = Seq("o_orderkey"))
      val maxKey = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
      mt.append(s, root,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(4, col("o_orderkey")),
        statsColumns = Seq("o_orderkey"))
      val skipPastMax = !mt.tableMayMatch(s, root, col("o_orderkey") > maxKey)
      val skipNull = !mt.tableMayMatch(s, root, col("o_orderkey").isNull)
      val keepPoint = mt.tableMayMatch(s, root, col("o_orderkey") === maxKey)
      // v1 held only even keys up to maxKey-1; the tip's rollup covers
      // maxKey (odd or even, one of the two commits holds it) — and the
      // count fast path answers 0 past the max without touching files
      val (nPast, fullPast, resPast) = mt.countWhere(s, root, col("o_orderkey") > maxKey)
      mt.read(s, root).groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(skipPastMax).as("skip_past_max"),
          lit(skipNull).as("skip_null"),
          lit(keepPoint).as("keep_point"),
          lit(nPast == 0 && fullPast == 0 && resPast == 0).as("count_fast_path"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake12_bucket_transform" -> ((s, dir) => {
      // hidden partitioning (Iceberg bucket transform): orders rewritten
      // CLUSTER BY bucket(16, o_orderkey) — xxhash64 mod 16, committed
      // as min/max on a manifest-only VIRTUAL column — and a 3-key point
      // probe on the SOURCE column translates through the transform and
      // prunes EXACTLY. This is the hash layout where source-column
      // ranges prune nothing and lake5 spends 16 KiB of bloom bits per
      // file; the transform does it in a few manifest bytes with zero
      // false positives. pruned_some mirrors the observed drop.
      val root = java.nio.file.Files.createTempDirectory("lake12_bucket")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString, orders.repartition(4))
      val target = math.max(1L,
        graft.sources.ManifestTable.tableBytes(s, root.toString) / 8)
      graft.sources.ManifestTable.optimizeClusterBy(s, root.toString,
        graft.sources.BucketTransform(16, "o_orderkey"), target)
      val f = col("o_orderkey").isin(7L, 42L, 1337L)
      val (_, dropped, _) = graft.sources.ManifestTable.pruneFiles(s, root.toString, f)
      graft.sources.ManifestTable.readPruned(s, root.toString, f)
        .select(lit(dropped.nonEmpty).as("pruned_some"), col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    }),

    "lake18_drop_column" -> ((s, dir) => {
      // metadata-only DROP COLUMN: v1 = even orders, v2 = drop
      // o_orderpriority (zero files staged — pinned into the face),
      // append the odd orders without it, then the documented re-add
      // workflow: a resurrection attempt (append carrying a column on
      // the tombstoned physical slot) REFUSES — pinned — and the
      // column comes back as prio2 + rename, so only the 5 re-added
      // rows carry values and every pre-drop row reads NULL forever.
      val root = java.nio.file.Files.createTempDirectory("lake18_drop")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.filter(col("o_orderkey") % 2 === 0).repartition(2),
        statsColumns = Seq("o_orderkey"))
      val filesV1 = graft.sources.ManifestTable.manifestFiles(s, root.toString, 1L)
      graft.sources.ManifestTable.dropColumn(s, root.toString, "o_orderpriority")
      val metadataOnly =
        graft.sources.ManifestTable.manifestFiles(s, root.toString, 2L) == filesV1
      graft.sources.ManifestTable.append(s, root.toString,
        orders.filter(col("o_orderkey") % 2 === 1).drop("o_orderpriority")
          .repartition(2),
        statsColumns = Seq("o_orderkey"))
      val resurrectRefused =
        try { graft.sources.ManifestTable.append(s, root.toString, orders.limit(1)); false }
        catch { case _: IllegalArgumentException => true }
      graft.sources.ManifestTable.append(s, root.toString,
        orders.orderBy(col("o_orderkey")).limit(5)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"),
            col("o_orderpriority").as("prio2")))
      graft.sources.ManifestTable.renameColumn(s, root.toString, "prio2", "o_orderpriority")
      graft.sources.ManifestTable.read(s, root.toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"),
          sum(when(col("o_orderpriority").isNotNull, 1L).otherwise(0L)).as("n_prio_set"))
        .select(lit(metadataOnly).as("drop_metadata_only"),
          lit(resurrectRefused).as("resurrect_refused"),
          col("o_orderstatus"), col("n_orders"), col("total_price"), col("n_prio_set"))
    }),

    "lake19_check_constraints" -> ((s, dir) => {
      // CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT): adding
      // one the existing rows violate REFUSES with the count (pinned),
      // a violating append REFUSES at the write boundary (pinned), a
      // clean append lands, and the constraint itself is one metadata
      // commit that rides every subsequent rewrite.
      val root = java.nio.file.Files.createTempDirectory("lake19_check")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString, orders.repartition(2),
        statsColumns = Seq("o_orderkey"))
      graft.sources.ManifestTable.addCheckConstraint(s, root.toString,
        "positive_price", "o_totalprice > 0")
      val addRefused =
        try {
          graft.sources.ManifestTable.addCheckConstraint(s, root.toString,
            "impossible", "o_totalprice > 1000000000")
          false
        } catch { case _: IllegalArgumentException => true }
      val writeRefused =
        try {
          graft.sources.ManifestTable.append(s, root.toString,
            orders.limit(1).withColumn("o_totalprice", lit(-1.0)))
          false
        } catch { case _: IllegalArgumentException => true }
      graft.sources.ManifestTable.append(s, root.toString,
        orders.orderBy(col("o_orderkey")).limit(5))
      graft.sources.ManifestTable.read(s, root.toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(addRefused).as("add_refused"),
          lit(writeRefused).as("write_refused"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake27_cdf_mor" -> ((s, dir) => {
      // change-data feed with row-level DELETES: the deletion-vector
      // diff between a cursor and the tip IS the delete feed (Delta
      // CDF's shape for MOR tables, where the insert-only CDF refuses).
      // Window: cursor at half the orders, then an append + a MOR
      // delete hitting BOTH halves. Inserts = appended half minus its
      // in-window deletions (add-then-delete is net zero); deletes =
      // cursor-visible rows now gone. The key also pins that
      // read(since) − deletes + inserts == read(tip) exactly.
      val root = java.nio.file.Files.createTempDirectory("lake27_cdf").toString
      val orders = t(s, dir, "orders")
      val p1 = orders.filter(col("o_orderkey") % 2 === 0)
      val p2 = orders.filter(col("o_orderkey") % 2 === 1)
      graft.sources.ManifestTable.create(s, root, p1)
      val cursor = graft.sources.ManifestTable.versions(s, root).max
      graft.sources.ManifestTable.append(s, root, p2)
      graft.sources.ManifestTable.deleteMor(s, root, col("o_orderkey") % 7 === 0)
      val (feed, tip) = graft.sources.ManifestTable.readChanges(s, root, cursor)
      val del = feed.filter(col("_change_type") === "delete").drop("_change_type")
      val ins = feed.filter(col("_change_type") === "insert").drop("_change_type")
      val reconciled = graft.sources.ManifestTable.read(s, root, Some(cursor))
        .exceptAll(del).unionAll(ins)
      val now = graft.sources.ManifestTable.read(s, root, Some(tip))
      val reconciles = multisetEqual(reconciled, now)
      feed.groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(reconciles).as("reconciles"), col("_change_type").as("change_type"),
          col("o_orderstatus"), col("n_rows"), col("total_price"))
    }),

    "lake29_compact_small" -> ((s, dir) => {
      // bin-packing OPTIMIZE (what Delta's OPTIMIZE actually runs, vs
      // the full rewrite): pack ONLY the small-file tail, carry every
      // right-sized file byte-identical. Pins: first pass rewrote
      // exactly the 4 tail files and carried the big one; a second pass
      // after a MOR delete pulls the vector-referenced files in
      // regardless of size and drops the vector. Face = final content.
      val root = java.nio.file.Files.createTempDirectory("lake29_cs").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      val f = orders.filter(col("o_orderstatus") === "F")
      MT.create(s, root, f.repartition(1)) // one big file
      (0 until 4).foreach(i => MT.append(s, root,
        orders.filter(col("o_orderstatus") === "O")
          .filter(col("o_orderkey") % 4 === lit(i)).repartition(1)))
      val files0 = MT.manifestFiles(s, root, MT.versions(s, root).max)
      def sizeOf(p: String): Long = new java.io.File(s"$root/$p").length()
      val big = files0.maxBy(sizeOf)
      val threshold = files0.filterNot(_ == big).map(sizeOf).max + 1
      val (v1, st1) = MT.compactSmall(s, root, threshold, 64L * 1024 * 1024)
      val packedTail = st1.filesRewritten == 4 && st1.filesUntouched == 1 &&
        MT.manifestFiles(s, root, v1).contains(big)
      MT.deleteMor(s, root, col("o_orderkey") % 7 === 0)
      val (v2, _) = MT.compactSmall(s, root, threshold, 64L * 1024 * 1024)
      val purged = MT.deletionVector(s, root, v2).isEmpty
      MT.read(s, root).groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(packedTail).as("packed_tail_only"),
          lit(purged).as("vector_materialized"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake30_ivm_total" -> ((s, dir) => {
      // IVM that SURVIVES deletes and updates: the count/sum mart
      // maintained through the TOTAL change feed with SIGNED deltas
      // (+1/+v inserts, −1/−v retractions) across a window holding a
      // MOR delete, a MERGE upsert, and a full COMPACT — exactly where
      // lake11's append-only maintainer must full-refresh. The whole
      // application (group retractions + upserts + the consumed-version
      // watermark) is ONE atomic applyChangesMor commit; pins: the
      // maintained mart equals the from-scratch rebuild bit-exactly AND
      // a crash-replay maintenance call is a no-op.
      val src = java.nio.file.Files.createTempDirectory("lake30_src").toString
      val mart = java.nio.file.Files.createTempDirectory("lake30_mart").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      val f = orders.filter(col("o_orderstatus") === "F")
      MT.create(s, src, f)
      MT.enableRowTracking(s, src)
      graft.ops.LakeOps.maintainAggMartTotal(s, src, mart, Seq("o_orderstatus"), "o_totalprice")
      MT.deleteMor(s, src, col("o_custkey") % 5 === 0)
      val updates = f.filter(col("o_custkey") % 5 =!= 0)
        .filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .unionByName(orders.filter(col("o_orderstatus") === "O"))
      MT.merge(s, src, updates, "o_orderkey")
      MT.compact(s, src, 64L * 1024 * 1024)
      val (tip, _) = graft.ops.LakeOps.maintainAggMartTotal(
        s, src, mart, Seq("o_orderstatus"), "o_totalprice")
      val vBefore = MT.versions(s, mart).max
      val replayNoop = graft.ops.LakeOps.maintainAggMartTotal(
        s, src, mart, Seq("o_orderstatus"), "o_totalprice") == ((tip, 0L)) &&
        MT.versions(s, mart).max == vBefore
      val maintained = MT.read(s, mart)
        .select(col("o_orderstatus"), col("n_rows"), col("total").cast("double"))
      val rebuild = MT.read(s, src).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .select(col("o_orderstatus"), col("n_rows"), col("total"))
      val matches = multisetEqual(maintained, rebuild)
      MT.read(s, mart)
        .select(lit(matches).as("matches_rebuild"),
          lit(replayNoop).as("replay_noop"),
          col("o_orderstatus"),
          col("n_rows").cast("long").as("n_orders"),
          col("total").cast("double").as("total_price"))
    }),

    "lake32_minmax_ivm" -> ((s, dir) => {
      // IVM past the self-maintainable aggregates: a (key, n, MIN, MAX)
      // mart maintained through the total change feed with the
      // PER-GROUP RECOMPUTE fallback — inserts and strictly-interior
      // deletes fold in O(delta) (bounds provably valid), and only a
      // delete TOUCHING a stored bound re-aggregates exactly its group
      // from the source (lake30's maintainer must full-rebuild here).
      // Pins: the insert window recomputes NOTHING, the bound-killing
      // delete window fires the recompute, a replay is a no-op, and
      // the mart equals the from-scratch min/max/count bit-exactly.
      val src = java.nio.file.Files.createTempDirectory("lake32_src").toString
      val mart = java.nio.file.Files.createTempDirectory("lake32_mart").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      MT.create(s, src, orders)
      graft.ops.LakeOps.maintainMinMaxMart(s, src, mart, "o_orderstatus", "o_totalprice")
      // window 1: inserts only — new maxes arrive via the fold
      MT.append(s, src, orders.filter(pmod(col("o_orderkey"), lit(9)) === 4)
        .withColumn("o_totalprice", col("o_totalprice") + 500000.0))
      val (_, _, r1) = graft.ops.LakeOps.maintainMinMaxMart(
        s, src, mart, "o_orderstatus", "o_totalprice")
      // window 2: delete every row above 400000 — each group's MAX dies
      MT.deleteMor(s, src, col("o_totalprice") > 400000.0)
      val (tip, _, r2) = graft.ops.LakeOps.maintainMinMaxMart(
        s, src, mart, "o_orderstatus", "o_totalprice")
      val vBefore = MT.versions(s, mart).max
      val replayNoop = graft.ops.LakeOps.maintainMinMaxMart(
        s, src, mart, "o_orderstatus", "o_totalprice") == ((tip, 0L, 0L)) &&
        MT.versions(s, mart).max == vBefore
      val maintained = MT.read(s, mart)
        .select(col("o_orderstatus"), col("n_rows"), col("vmin"), col("vmax"))
      val rebuild = MT.read(s, src).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_totalprice")).as("vmin"), max(col("o_totalprice")).as("vmax"))
      val matches = multisetEqual(maintained, rebuild)
      MT.read(s, mart)
        .select(lit(r1 == 0L).as("insert_fold"), lit(r2 > 0L).as("recompute_fired"),
          lit(replayNoop && matches).as("replay_noop_and_matches"),
          col("o_orderstatus"), col("n_rows").cast("long").as("n_orders"),
          col("vmin").as("min_price"), col("vmax").as("max_price"))
    }),

    "lake33_join_ivm_total" -> ((s, dir) => {
      // JOIN-mart IVM that SURVIVES non-append sources: the A ⋈ B mart
      // maintained through the TOTAL change feed across a window holding
      // an append, a MOR delete, and a MERGE upsert on fact A plus a MOR
      // delete on fact B — exactly where lake23's append-only delta-join
      // maintainer must full-refresh. The rule is the semi-join-
      // restricted recompute: affected join keys (either side, either
      // sign) retract and re-derive from the tips in ONE atomic
      // applyChangesMor commit carrying both cursors as txn keys (so an
      // OPTIMIZE on the mart can never lose the maintainer's position).
      // Pins: maintained mart == from-scratch join bit-exactly AND a
      // crash-replay maintenance call is a no-op.
      val a = java.nio.file.Files.createTempDirectory("lake33_a").toString
      val b = java.nio.file.Files.createTempDirectory("lake33_b").toString
      val mart = java.nio.file.Files.createTempDirectory("lake33_mart").toString
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val MT = graft.sources.ManifestTable
      MT.create(s, a, orders.filter(col("o_orderstatus") === "F"))
      MT.enableRowTracking(s, a) // the MERGE window needs row identity
      MT.create(s, b, customer)
      def maintain() = graft.ops.LakeOps.maintainJoinMartTotal(
        s, a, b, mart, "o_custkey", "c_custkey")
      maintain() // bootstrap at (v1, v1)
      MT.append(s, a, orders.filter(col("o_orderstatus") === "O"))
      MT.deleteMor(s, a, pmod(col("o_custkey"), lit(7)) === 0)
      val updates = orders.filter(col("o_orderstatus") === "F")
        .filter(pmod(col("o_custkey"), lit(7)) =!= 0 &&
          pmod(col("o_orderkey"), lit(10)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      MT.merge(s, a, updates, "o_orderkey")
      MT.deleteMor(s, b, col("c_mktsegment") === "BUILDING")
      val (ca, cb, _) = maintain()
      val vBefore = MT.versions(s, mart).max
      val replayNoop = maintain() == ((ca, cb, 0L)) &&
        MT.versions(s, mart).max == vBefore
      val scratch = MT.read(s, a)
        .join(MT.read(s, b), col("o_custkey") === col("c_custkey"))
      val m = MT.read(s, mart)
      val matches = multisetEqual(m, scratch)
      m.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total_price"))
        .select(lit(matches).as("matches_rebuild"),
          lit(replayNoop).as("replay_noop"),
          col("c_mktsegment"), col("n_rows").cast("long").as("n_rows"),
          col("total_price"))
    }),

    "lake31_log_tiering" -> ((s, dir) => {
      // the TIERED manifest log (Delta checkpoints + delta actions;
      // Iceberg manifest-list → manifests): a snapshot per commit is
      // O(files·versions) storage — the first wall a streaming sink
      // committing every micro-batch hits. 14 commits land as a
      // create checkpoint + per-commit DELTAS with a forced full
      // snapshot at v10; pins: the stored forms (delta vs checkpoint),
      // the delta being a small fraction of the snapshot beside it,
      // TIME TRAVEL through the chain serving the exact v7 prefix, and
      // vacuum materializing the oldest retained delta before dropping
      // its chain. Face: the tip read grouped by status, replayed by
      // the oracle from raw orders.
      val root = java.nio.file.Files.createTempDirectory("lake31_log").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      def slice(i: Int) = orders.filter(pmod(col("o_orderkey"), lit(14)) === i)
      MT.create(s, root, slice(0).coalesce(1), statsColumns = Seq("o_orderkey"))
      (1 until 14).foreach(i =>
        MT.append(s, root, slice(i).coalesce(1), statsColumns = Seq("o_orderkey")))
      def head(v: Long) = {
        val p = java.nio.file.Paths.get(root, "_graft_log", f"v$v%08d.manifest")
        val src = scala.io.Source.fromFile(p.toFile)
        try src.getLines().next() finally src.close()
      }
      def bytes(v: Long) =
        java.nio.file.Paths.get(root, "_graft_log", f"v$v%08d.manifest").toFile.length()
      def isDelta(v: Long) = head(v).startsWith("# graft-manifest-delta ")
      val forms = !isDelta(1L) && !isDelta(10L) &&
        ((2L to 9L) ++ (11L to 14L)).forall(isDelta)
      val small = bytes(11L) < bytes(10L) / 3
      val ttV7 = MT.read(s, root, Some(7L)).count()
      MT.vacuum(s, root, keepVersions = 3)
      val ckptMaterialized = java.nio.file.Paths
        .get(root, "_graft_log", "v00000012.checkpoint").toFile.exists() &&
        MT.versions(s, root) == Seq(12L, 13L, 14L)
      MT.read(s, root).groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(forms).as("delta_forms"), lit(small).as("delta_small"),
          lit(ckptMaterialized).as("vacuum_checkpointed"),
          lit(ttV7).as("n_at_v7"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake34_segmented_log" -> ((s, dir) => {
      // the TWO-TIER full form (Iceberg's manifest-list shape): above a
      // file-count threshold, create/checkpoint snapshots store as
      // segment POINTERS — file entries (stats + per-file rowbase meta)
      // live in immutable segment files that an unchanged group carries
      // by pointer — and streaming appends never render a full body or
      // re-serialize a carried stats line (metered in-engine). Pins:
      // the create AND the v10 checkpoint store segmented; the
      // checkpoint carries the create's segments verbatim; ten appends
      // cost zero full renders and exactly ten stats-line
      // serializations; the vacuumed tip resolves COLD (all caches
      // dropped) through a segmented sidecar. Face: the tip read
      // grouped by status, replayed from raw orders.
      val root = java.nio.file.Files.createTempDirectory("lake34_seg").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      val saved = MT.SegmentTargetSize
      MT.SegmentTargetSize = 8 // exercise segmentation without staging thousands of files
      try {
        def slice(i: Int) = orders.filter(pmod(col("o_orderkey"), lit(11)) === i)
        MT.create(s, root, slice(0).repartition(10), statsColumns = Seq("o_orderkey"))
        def raw(v: Long) = new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(root, "_graft_log", f"v$v%08d.manifest")),
          java.nio.charset.StandardCharsets.UTF_8)
        def segNames(v: Long): Set[String] = raw(v).linesIterator.collect {
          case l if l.startsWith("# seg:") => l.stripPrefix("# seg:").split('|')(0)
        }.toSet
        val createSegmented = raw(1L).linesIterator.next().contains(" segs=1")
        val (f0, s0) = MT.ComposeMeters.snapshot
        (1 until 11).foreach(i =>
          MT.append(s, root, slice(i).coalesce(1), statsColumns = Seq("o_orderkey")))
        val (f1, s1) = MT.ComposeMeters.snapshot
        val zeroFullRenders = (f1 - f0) == 0L
        val serializeAddsOnly = (s1 - s0) == 10L
        val checkpointCarries = raw(10L).linesIterator.next().contains(" segs=1") &&
          segNames(1L).subsetOf(segNames(10L))
        MT.vacuum(s, root, keepVersions = 1)
        MT.dropResolvedCacheForTest() // cold process: sidecar + segments only
        MT.read(s, root).groupBy("o_orderstatus")
          .agg(count(lit(1)).cast("long").as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
          .select(lit(createSegmented).as("create_segmented"),
            lit(zeroFullRenders).as("appends_zero_full_renders"),
            lit(serializeAddsOnly).as("appends_serialize_adds_only"),
            lit(checkpointCarries).as("checkpoint_carries_segments"),
            col("o_orderstatus"), col("n_orders"), col("total_price"))
          .localCheckpoint() // pin before the threshold restores below
      } finally MT.SegmentTargetSize = saved
    }),

    "lake35_two_tier_pruning" -> ((s, dir) => {
      // manifest-LEVEL pruning (the Iceberg manifest-list idea): every
      // sealed segment's pointer line carries a rollup of its members'
      // stats, and pruneFiles excludes whole segments in O(columns)
      // before any per-file work. Build: 12 single-file commits with
      // disjoint contiguous o_orderkey ranges; the v10 checkpoint seals
      // files 0..9 into segments of 8 and 2; files 10..11 ride as the
      // delta tail. A probe at file 8's lower bound must (a) exclude
      // the 8-member segment at the SEGMENT tier (zero per-file
      // evaluations inside it), (b) evaluate exactly the 2-member
      // segment + 2 tail files, (c) keep exactly the covering file.
      // The meter deltas ride the face as literals the oracle pins.
      val root = java.nio.file.Files.createTempDirectory("lake35_prune").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      val saved = MT.SegmentTargetSize
      MT.SegmentTargetSize = 8
      try {
        val keys = orders.select("o_orderkey").distinct().orderBy("o_orderkey")
          .collect().map(_.getLong(0))
        def slice(i: Int) = {
          val lo = keys(i * keys.length / 12)
          val hiIdx = (i + 1) * keys.length / 12
          val hi = if (hiIdx >= keys.length) Long.MaxValue else keys(hiIdx)
          orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi).coalesce(1)
        }
        MT.create(s, root, slice(0), statsColumns = Seq("o_orderkey"))
        (1 until 12).foreach(i =>
          MT.append(s, root, slice(i), statsColumns = Seq("o_orderkey")))
        val probe = keys(8 * keys.length / 12)
        val before = graft.sources.ManifestStats.PruneMeters.snapshot
        val (kept, _, _) = MT.pruneFiles(s, root, col("o_orderkey") === probe)
        val after = graft.sources.ManifestStats.PruneMeters.snapshot
        MT.readPruned(s, root, col("o_orderkey") === probe)
          .select(lit(after._1 - before._1).as("files_evaluated"),
            lit(after._2 - before._2).as("segments_excluded"),
            lit(kept.size.toLong).as("files_kept"),
            col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("double").as("o_totalprice"))
          .localCheckpoint() // pin before the threshold restores below
      } finally MT.SegmentTargetSize = saved
    }),

    "lake37_cold_pruned_read" -> ((s, dir) => {
      // the LAZY half of the two-tier layout: a COLD process (every
      // cache dropped) planning a point probe resolves from the pointer
      // body + delta chain and loads ONLY the segments whose rollup
      // admits the predicate. Same 12-range build as lake35: the
      // mid-range probe must load exactly ONE segment file (the
      // 8-member segment is excluded by its pointer rollup, the tail
      // files carry their stats in the deltas); a tail-range probe
      // loads ZERO. Both load counts ride the face as literals; the
      // rows are the probed orders, re-derived by rank arithmetic.
      val root = java.nio.file.Files.createTempDirectory("lake37_cold").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      val saved = MT.SegmentTargetSize
      MT.SegmentTargetSize = 8
      try {
        val keys = orders.select("o_orderkey").distinct().orderBy("o_orderkey")
          .collect().map(_.getLong(0))
        def slice(i: Int) = {
          val lo = keys(i * keys.length / 12)
          val hiIdx = (i + 1) * keys.length / 12
          val hi = if (hiIdx >= keys.length) Long.MaxValue else keys(hiIdx)
          orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi).coalesce(1)
        }
        MT.create(s, root, slice(0), statsColumns = Seq("o_orderkey"))
        (1 until 12).foreach(i =>
          MT.append(s, root, slice(i), statsColumns = Seq("o_orderkey")))
        val probe = keys(8 * keys.length / 12)
        val tailKey = keys(11 * keys.length / 12)
        MT.dropResolvedCacheForTest() // fresh process
        val b1 = MT.ComposeMeters.segmentLoads.get
        val mid = MT.readPruned(s, root, col("o_orderkey") === probe).localCheckpoint()
        val loadsMid = MT.ComposeMeters.segmentLoads.get - b1
        MT.dropResolvedCacheForTest()
        val b2 = MT.ComposeMeters.segmentLoads.get
        val tl = MT.readPruned(s, root, col("o_orderkey") === tailKey).localCheckpoint()
        val loadsTail = MT.ComposeMeters.segmentLoads.get - b2
        mid.unionByName(tl)
          .select(lit(loadsMid).as("segment_loads_mid"),
            lit(loadsTail).as("segment_loads_tail"),
            col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("double").as("o_totalprice"))
          .localCheckpoint() // pin before the threshold restores below
      } finally MT.SegmentTargetSize = saved
    }),

    "lake38_prune_sidecar" -> ((s, dir) => {
      // the PERSISTED prune index: the first cold pruned probe decodes
      // the pointer body + delta chain ONCE and writes the `.pruneidx`
      // sidecar beside the checkpoint; a second cold process (every
      // cache dropped) plans the same probe from that one pre-digested
      // read — ZERO pointer decodes. Both decode counts ride the face
      // as literals; the rows are the mid-range probe, re-derived by
      // the lake37 rank arithmetic.
      val root = java.nio.file.Files.createTempDirectory("lake38_sidecar").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      val saved = MT.SegmentTargetSize
      MT.SegmentTargetSize = 8
      try {
        val keys = orders.select("o_orderkey").distinct().orderBy("o_orderkey")
          .collect().map(_.getLong(0))
        def slice(i: Int) = {
          val lo = keys(i * keys.length / 12)
          val hiIdx = (i + 1) * keys.length / 12
          val hi = if (hiIdx >= keys.length) Long.MaxValue else keys(hiIdx)
          orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi).coalesce(1)
        }
        MT.create(s, root, slice(0), statsColumns = Seq("o_orderkey"))
        (1 until 12).foreach(i =>
          MT.append(s, root, slice(i), statsColumns = Seq("o_orderkey")))
        val probe = keys(8 * keys.length / 12)
        MT.dropResolvedCacheForTest() // fresh process #1
        val b1 = MT.ComposeMeters.coldPointerDecodes.get
        val first = MT.readPruned(s, root, col("o_orderkey") === probe).localCheckpoint()
        val decodesFirst = MT.ComposeMeters.coldPointerDecodes.get - b1
        MT.dropResolvedCacheForTest() // fresh process #2: sidecar hit
        val b2 = MT.ComposeMeters.coldPointerDecodes.get
        val second = MT.readPruned(s, root, col("o_orderkey") === probe).localCheckpoint()
        val decodesSecond = MT.ComposeMeters.coldPointerDecodes.get - b2
        val same = multisetEqual(second, first)
        first
          .select(lit(decodesFirst).as("pointer_decodes_first"),
            lit(decodesSecond).as("pointer_decodes_second"),
            lit(same).as("sidecar_plan_identical"),
            col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("double").as("o_totalprice"))
          .localCheckpoint() // pin before the threshold restores below
      } finally MT.SegmentTargetSize = saved
    }),

    "lake39_tip_watermark" -> ((s, dir) => {
      // O(1) maintainer cursor discovery: txn-* watermarks carry to the
      // TIP with max semantics through every commit, so one maintenance
      // window reads ONE meta regardless of how deep the mart's history
      // is. Drive the incrementally-maintained contamination sketch
      // through 7 windows; the manifestMeta-call delta of a window at
      // depth ~2 must EQUAL the delta at depth ~7 (an O(versions) scan
      // would grow it by ~5 reads per mart). Flatness and the absolute
      // bound ride the face as in-engine booleans; the content is the
      // probe corpus grouped per window slice, re-derived relationally.
      val pRoot = java.nio.file.Files.createTempDirectory("lake39_probes").toString
      val sRoot = java.nio.file.Files.createTempDirectory("lake39_sketch").toString
      val MT = graft.sources.ManifestTable
      val probes = t(s, dir, "documents")
        .filter(col("doc_id") < 200 && length(col("text")) >= 20)
        .select(col("doc_id").as("probe_id"), substring(col("text"), 1, 20).as("probe"))
        .localCheckpoint()
      def slice(i: Int) = probes.filter(pmod(col("probe_id"), lit(8)) === i)
      MT.create(s, pRoot, slice(0))
      graft.ops.LakeOps.maintainContaminationSketch(s, pRoot, sRoot, "probe")
      def windowCost(i: Int): Long = {
        MT.append(s, pRoot, slice(i))
        val before = MT.ComposeMeters.metaReads.get
        graft.ops.LakeOps.maintainContaminationSketch(s, pRoot, sRoot, "probe")
        MT.ComposeMeters.metaReads.get - before
      }
      val shallow = windowCost(1)
      (2 to 6).foreach(windowCost)
      val deep = windowCost(7)
      probes.groupBy(pmod(col("probe_id"), lit(8)).as("window_slice"))
        .agg(count(lit(1)).cast("long").as("n_probes"),
          min(col("probe_id")).as("first_probe"))
        .select(lit(deep <= shallow).as("tip_watermark_flat"),
          lit(shallow <= 16L).as("window_reads_bounded"),
          col("window_slice"), col("n_probes"), col("first_probe"))
    }),

    "lake36_checkpoint_ledger" -> ((s, dir) => {
      // the segment DIRTINESS ledger: between checkpoints the writer
      // tracks which segments deltas touched, so an appends-only
      // checkpoint carries every clean segment by name and walks ONLY
      // the appended tail — O(touched + segments) member visits, never
      // O(files). Build: 20 single-file pmod slices; the v20 checkpoint
      // (files 1..10 sealed at v10, 10 tail files since) must visit
      // exactly 10 member entries. The visit count rides the face as a
      // literal; the content is re-derived relationally after a COLD
      // resolve (all caches dropped).
      val root = java.nio.file.Files.createTempDirectory("lake36_ledger").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      val saved = MT.SegmentTargetSize
      MT.SegmentTargetSize = 8
      try {
        def slice(i: Int) = orders.filter(pmod(col("o_orderkey"), lit(20)) === i).coalesce(1)
        MT.create(s, root, slice(0), statsColumns = Seq("o_orderkey"))
        (1 until 19).foreach(i =>
          MT.append(s, root, slice(i), statsColumns = Seq("o_orderkey")))
        val before = MT.ComposeMeters.memberVisits.get
        MT.append(s, root, slice(19), statsColumns = Seq("o_orderkey")) // v20 checkpoint
        val visits = MT.ComposeMeters.memberVisits.get - before
        MT.dropResolvedCacheForTest() // cold: pointer body + segments only
        MT.read(s, root).groupBy("o_orderstatus")
          .agg(count(lit(1)).cast("long").as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
          .select(lit(visits).as("checkpoint_member_visits"),
            col("o_orderstatus"), col("n_orders"), col("total_price"))
          .localCheckpoint() // pin before the threshold restores below
      } finally MT.SegmentTargetSize = saved
    }),

    "lake28_row_tracking" -> ((s, dir) => {
      // row tracking (Delta row tracking / Iceberg v3 row lineage):
      // every row carries an immutable table-unique id — fresh files as
      // base + row_index (zero storage), rewrites via a materialized
      // invisible column. The key drives the full lifecycle — enable,
      // append, compact, MOR delete, purge, zorder — and pins that ids
      // stay unique AND that every id-preserving rewrite kept the exact
      // (row, id) pairs; the face is the surviving content, which the
      // oracle computes relationally.
      val root = java.nio.file.Files.createTempDirectory("lake28_rt").toString
      val orders = t(s, dir, "orders")
      val MT = graft.sources.ManifestTable
      MT.create(s, root, orders.filter(col("o_orderstatus") =!= "O").repartition(3))
      MT.enableRowTracking(s, root)
      MT.append(s, root, orders.filter(col("o_orderstatus") === "O"))
      def pairs() = MT.readWithRowIds(s, root)
        .select(col("o_orderkey"), col("_row_id"))
      val before = pairs().localCheckpoint()
      MT.compact(s, root, 64L * 1024 * 1024)
      val afterCompact = pairs().localCheckpoint()
      MT.deleteMor(s, root, col("o_orderkey") % 3 === 0)
      MT.purgeDeletes(s, root)
      MT.optimizeZOrder(s, root, Seq("o_custkey"), 64L * 1024 * 1024)
      val after = pairs().localCheckpoint()
      val preserved =
        multisetEqual(afterCompact, before) &&
          multisetEqual(after, before.filter(col("o_orderkey") % 3 =!= 0))
      val withIds = MT.readWithRowIds(s, root)
      val unique = withIds.select(countDistinct(col("_row_id"))).first().getLong(0) ==
        withIds.count()
      MT.read(s, root).groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(preserved).as("ids_preserved"), lit(unique).as("ids_unique"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake26_multi_txn" -> ((s, dir) => {
      // multi-table TRANSACTIONS (catalog-commit): a fact table and its
      // summary mart advance ATOMICALLY — each transact appends a batch
      // to fact AND overwrites mart with the matching aggregate, so at
      // EVERY catalog version mart == agg(fact) exactly. The key reads
      // both tables at every catalog cut and pins mutual consistency
      // (all_cuts_consistent) plus that a staged-only orphan txn stayed
      // invisible; the final mart must equal the oracle's aggregate of
      // all three batches.
      val cat = java.nio.file.Files.createTempDirectory("lake26_cat").toString
      val factRoot = s"$cat/fact"; val martRoot = s"$cat/mart"
      val orders = t(s, dir, "orders")
      def martOf(f: DataFrame) = f.groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
      graft.sources.ManifestTable.create(s, factRoot,
        orders.filter(col("o_orderkey") % 3 === 0))
      graft.sources.ManifestTable.create(s, martRoot,
        martOf(orders.filter(col("o_orderkey") % 3 === 0)))
      graft.sources.ManifestCatalog.create(s, cat,
        Seq("fact" -> factRoot, "mart" -> martRoot))
      val after1 = orders.filter(col("o_orderkey") % 3 <= 1)
      graft.sources.ManifestCatalog.transact(s, cat, Seq(
        graft.sources.ManifestCatalog.AppendOp("fact",
          orders.filter(col("o_orderkey") % 3 === 1)),
        graft.sources.ManifestCatalog.OverwriteOp("mart", martOf(after1))))
      graft.sources.ManifestCatalog.transact(s, cat, Seq(
        graft.sources.ManifestCatalog.AppendOp("fact",
          orders.filter(col("o_orderkey") % 3 === 2)),
        graft.sources.ManifestCatalog.OverwriteOp("mart", martOf(orders))))
      // mart == agg(fact) at EVERY catalog cut — the atomicity witness
      val allCuts = graft.sources.ManifestCatalog.versions(s, cat).forall { v =>
        val f = graft.sources.ManifestCatalog.read(s, cat, "fact", Some(v))
        val m = graft.sources.ManifestCatalog.read(s, cat, "mart", Some(v))
        val r = martOf(f)
        multisetEqual(m, r)
      }
      graft.sources.ManifestCatalog.read(s, cat, "mart")
        .select(lit(allCuts).as("all_cuts_consistent"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake25_generated" -> ((s, dir) => {
      // generated columns (GENERATED ALWAYS AS): o_year is declared
      // generated from year(o_orderdate) after create; a batch that
      // OMITS the column gets it computed by the engine (b1), a batch
      // that PROVIDES it is validated (b2), and a batch with wrong
      // values is REFUSED atomically — nothing lands (violation_refused
      // pins both the refusal and that the count stayed put). The final
      // per-year aggregate must equal the oracle computing the same
      // expression itself, proving engine-computed == declared.
      val root = java.nio.file.Files.createTempDirectory("lake25_gen").toString
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root,
        orders.withColumn("o_year", year(col("o_orderdate"))))
      graft.sources.ManifestTable.addGeneratedColumn(s, root,
        "o_year", "year(o_orderdate)")
      graft.sources.ManifestTable.append(s, root,
        orders.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)) // o_year omitted
      graft.sources.ManifestTable.append(s, root,
        orders.filter(col("o_orderkey") % 10 === 4)
          .withColumn("o_orderkey", col("o_orderkey") + 2000000000L)
          .withColumn("o_year", year(col("o_orderdate")))) // provided, validated
      val before = graft.sources.ManifestTable.read(s, root).count()
      val refused =
        try {
          graft.sources.ManifestTable.append(s, root,
            orders.limit(5).withColumn("o_year", lit(1900)))
          false
        } catch { case _: IllegalArgumentException => true }
      val intact = graft.sources.ManifestTable.read(s, root).count() == before
      graft.sources.ManifestTable.read(s, root)
        .groupBy("o_year")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(refused && intact).as("violation_refused"),
          col("o_year"), col("n_orders"), col("total_price"))
    }),

    "lake24_delete_mor" -> ((s, dir) => {
      // merge-on-read DELETE (deletion vectors — Delta DV / Iceberg v2
      // positional deletes): two stacked MOR deletes commit ZERO data
      // files (zero_new_files pins it — at 100 TB that's a sidecar
      // write instead of a multi-file COW rewrite), an append lands
      // after them, then purgeDeletes materializes the vector. The
      // SAME aggregate is taken before the purge (broadcast-anti-join
      // scan path) and after (pure-files path) — both phases must
      // match the oracle's NOT(pred IS TRUE) replay, proving the two
      // read paths agree exactly.
      val root = java.nio.file.Files.createTempDirectory("lake24_mor").toString
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root,
        orders.repartitionByRange(8, col("o_orderkey")),
        statsColumns = Seq("o_orderkey"))
      val (_, st1) = graft.sources.ManifestTable.deleteMor(s, root,
        col("o_orderkey") % 7 === 0)
      val (_, st2) = graft.sources.ManifestTable.deleteMor(s, root,
        col("o_orderstatus") === "P" && col("o_orderkey") % 2 === 1)
      graft.sources.ManifestTable.append(s, root,
        orders.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L),
        statsColumns = Seq("o_orderkey"))
      def agg(phase: String) = graft.sources.ManifestTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("phase", lit(phase))
      val mor = agg("mor")
      val (pv, _) = graft.sources.ManifestTable.purgeDeletes(s, root,
        statsColumns = Seq("o_orderkey"))
      val purgedClean =
        graft.sources.ManifestTable.deletionVector(s, root, pv).isEmpty
      mor.unionByName(agg("purged"))
        .select(lit(st1.newFiles == 0 && st2.newFiles == 0).as("zero_new_files"),
          lit(purgedClean).as("purged_clean"), col("phase"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake23_incr_join" -> ((s, dir) => {
      // incremental JOIN view maintenance — the delta-join identity
      // Δ(A⋈B) = dA⋈B_new ∪ A_prev⋈dB over two append-only sources,
      // cursors for BOTH riding each mart commit. Boot on (F orders ×
      // even customers), then three maintenance passes: an A-side
      // append, a B-side append, another A-side append, and a caught-up
      // no-op — every pass's delta row count is a literal mirror the
      // oracle re-derives, so a rescan or double-apply breaks the hash;
      // the final mart must equal the from-scratch join exactly.
      val aRoot = java.nio.file.Files.createTempDirectory("lake23_a").toString
      val bRoot = java.nio.file.Files.createTempDirectory("lake23_b").toString
      val mRoot = java.nio.file.Files.createTempDirectory("lake23_m").toString
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      graft.sources.ManifestTable.create(s, aRoot,
        orders.filter(col("o_orderstatus") === "F"))
      graft.sources.ManifestTable.create(s, bRoot,
        cust.filter(col("c_custkey") % 2 === 0))
      val (_, _, boot) = LakeOps.maintainJoinMart(s, aRoot, bRoot, mRoot,
        "o_custkey", "c_custkey")
      graft.sources.ManifestTable.append(s, aRoot,
        orders.filter(col("o_orderstatus") === "O"))
      val (_, _, d1) = LakeOps.maintainJoinMart(s, aRoot, bRoot, mRoot,
        "o_custkey", "c_custkey")
      graft.sources.ManifestTable.append(s, bRoot,
        cust.filter(col("c_custkey") % 2 === 1))
      val (_, _, d2) = LakeOps.maintainJoinMart(s, aRoot, bRoot, mRoot,
        "o_custkey", "c_custkey")
      graft.sources.ManifestTable.append(s, aRoot,
        orders.filter(col("o_orderstatus") === "P"))
      val (_, _, d3) = LakeOps.maintainJoinMart(s, aRoot, bRoot, mRoot,
        "o_custkey", "c_custkey")
      val (_, _, d4) = LakeOps.maintainJoinMart(s, aRoot, bRoot, mRoot,
        "o_custkey", "c_custkey")
      graft.sources.ManifestTable.read(s, mRoot)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(boot).as("boot_rows"), lit(d1).as("step1_rows"),
          lit(d2).as("step2_rows"), lit(d3).as("step3_rows"),
          lit(d4).as("noop_rows"), col("c_mktsegment"),
          col("n_rows"), col("total_price"))
    }),

    "lake22_forget" -> ((s, dir) => {
      // the compliance delete (right-to-be-forgotten): COW-delete one
      // customer's orders, vacuum to retention 1, then PROVE erasure by
      // scanning every byte still on disk OUTSIDE the table protocol —
      // raw parquet over the surviving files must hold zero rows for
      // the subject (pinned), time travel to the pre-delete version
      // must be GONE (pinned; a kept old manifest would be a
      // compliance hole), and the surviving table is exact.
      val root = java.nio.file.Files.createTempDirectory("lake22_forget").toString
      val orders = t(s, dir, "orders")
      val subject = orders.agg(min(col("o_custkey"))).head().getLong(0)
      graft.sources.ManifestTable.create(s, root,
        orders.repartitionByRange(4, col("o_custkey")),
        statsColumns = Seq("o_custkey"))
      graft.sources.ManifestTable.delete(s, root,
        col("o_custkey") === subject, statsColumns = Seq("o_custkey"))
      graft.sources.ManifestTable.vacuum(s, root, keepVersions = 1)
      val historyGone =
        graft.sources.ManifestTable.versions(s, root) == Seq(2L)
      // the erasure proof reads the data directory RAW — no manifest,
      // no pruning, every surviving byte
      val survivors = graft.sources.ManifestTable.manifestFiles(s, root, 2L)
        .map(p => s"$root/$p")
      val physicallyGone = s.read.parquet(survivors: _*)
        .filter(col("o_custkey") === subject).isEmpty
      graft.sources.ManifestTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(historyGone).as("history_gone"),
          lit(physicallyGone).as("physically_gone"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake21_time_travel_ts" -> ((s, dir) => {
      // TIMESTAMP AS OF: even orders at v1, odd appended at v2 with its
      // commit time pinned 10 s later (deterministic boundary whatever
      // the wall clock did), then the v1-time read must resolve to v1
      // (pinned) and serve EXACTLY the pre-append content — the face is
      // the as-of aggregate, which the oracle re-derives from the even
      // half alone.
      val root = java.nio.file.Files.createTempDirectory("lake21_asof").toString
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root,
        orders.filter(col("o_orderkey") % 2 === 0))
      graft.sources.ManifestTable.append(s, root,
        orders.filter(col("o_orderkey") % 2 === 1))
      val hfs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def mpath(v: Long) = new org.apache.hadoop.fs.Path(
        s"$root/_graft_log/" + f"v$v%08d" + ".manifest")
      val t1 = hfs.getFileStatus(mpath(1L)).getModificationTime
      hfs.setTimes(mpath(2L), t1 + 10000, -1)
      val resolvedFirst =
        graft.sources.ManifestTable.versionAsOf(s, root, t1 + 9999) == 1L &&
          graft.sources.ManifestTable.versionAsOf(s, root, t1 + 10000) == 2L
      graft.sources.ManifestTable.readAsOf(s, root, t1)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(resolvedFirst).as("resolved_boundary"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    }),

    "lake20_spec_evolution" -> ((s, dir) => {
      // partition-spec evolution: even orders clustered by
      // bucket(16, o_orderkey), then ADD PARTITION FIELD
      // bucket(8, o_custkey) as one metadata commit (pinned), then the
      // odd orders append clustered on the new dimension. A custkey
      // point probe prunes NEW files while every pre-evolution file is
      // keep-biased (pinned); an orderkey probe still prunes OLD files
      // through the original transform (pinned). Content unchanged.
      val root = java.nio.file.Files.createTempDirectory("lake20_evolve")
      val orders = t(s, dir, "orders")
      graft.sources.ManifestTable.create(s, root.toString,
        orders.filter(col("o_orderkey") % 2 === 0),
        statsColumns = Seq("o_orderkey"))
      graft.sources.ManifestTable.optimizeClusterBy(s, root.toString,
        graft.sources.BucketTransform(16, "o_orderkey"),
        targetFileBytes =
          math.max(1L, graft.sources.ManifestTable.tableBytes(s, root.toString) / 8),
        statsColumns = Seq("o_orderkey"))
      val filesBefore = graft.sources.ManifestTable.manifestFiles(s, root.toString,
        graft.sources.ManifestTable.versions(s, root.toString).max)
      val v = graft.sources.ManifestTable.evolvePartitionSpec(s, root.toString,
        graft.sources.BucketTransform(8, "o_custkey"))
      val metadataOnly =
        graft.sources.ManifestTable.manifestFiles(s, root.toString, v) == filesBefore
      graft.sources.ManifestTable.append(s, root.toString,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(8, pmod(xxhash64(col("o_custkey")), lit(8L))),
        statsColumns = Seq("o_orderkey"))
      val probeCust = orders.agg(min(col("o_custkey"))).head().getLong(0)
      val (_, drCust, _) = graft.sources.ManifestTable.pruneFiles(
        s, root.toString, col("o_custkey") === probeCust)
      val newPrunes = drCust.nonEmpty
      val oldKept = filesBefore.forall(f => !drCust.contains(f))
      val (_, drKey, _) = graft.sources.ManifestTable.pruneFiles(
        s, root.toString, col("o_orderkey") === 16L)
      val oldStillPrunes = drKey.exists(filesBefore.contains)
      graft.sources.ManifestTable.read(s, root.toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(metadataOnly).as("evolve_metadata_only"),
          lit(newPrunes).as("new_files_prune"),
          lit(oldKept).as("old_files_keep_biased"),
          lit(oldStillPrunes).as("old_transform_prunes"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "lake13_restore" -> // the restored tip must serve the FULL table
      // (v2's content) even though v3 overwrote it away; restore is one
      // metadata commit landing as version 4
      (s"""SELECT TRUE AS restored_as_v4, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "lake14_history" -> // every version's exact row count re-derived
      // from the source filters that built it
      ("""SELECT CAST(1 AS BIGINT) AS version, 'create' AS operation,
         |       (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 2 = 0) AS n_rows
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'append',
         |       (SELECT CAST(count(*) AS BIGINT) FROM orders)
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), 'delete',
         |       (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE NOT (o_totalprice < 50000.0))""").stripMargin,

    "lake15_column_mapping" -> // the mapped table must serve the FULL
      // content under the new logical names; rename is pinned
      // metadata-only and stats-pruning is pinned alive by the flags
      (s"""SELECT TRUE AS rename_metadata_only, TRUE AS pruned_after_rename,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price,
         |       min(o_orderkey) AS min_order,
         |       max(o_orderkey) AS max_order
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "lake18_drop_column" -> // table = all orders (priority NULL — the
      // drop) plus the 5 smallest keys re-appended with priority under
      // the re-added column; drop is pinned metadata-only and the
      // resurrection refusal is pinned by the flags
      (s"""WITH t AS (
         |  SELECT o_orderstatus, o_totalprice, CAST(NULL AS VARCHAR) AS prio
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice, o_orderpriority AS prio
         |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 5)
         |)
         |SELECT TRUE AS drop_metadata_only, TRUE AS resurrect_refused,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price,
         |       CAST(sum(CASE WHEN prio IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_prio_set
         |FROM t GROUP BY o_orderstatus""").stripMargin,

    "lake27_cdf_mor" -> // inserts = odd keys not divisible by 7
      // (add-then-delete nets to zero); deletes = cursor-visible even
      // keys divisible by 7; reconciliation pinned in-key
      (s"""WITH feed AS (
         |  SELECT 'insert' AS change_type, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT 'delete' AS change_type, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 = 0
         |)
         |SELECT TRUE AS reconciles, change_type, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM feed GROUP BY change_type, o_orderstatus""").stripMargin,

    "lake29_compact_small" -> // content is maintenance-invariant: F ∪ O
      // minus the %7 MOR delete; the packing/selectivity/purge behavior
      // is pinned in-engine
      (s"""SELECT TRUE AS packed_tail_only, TRUE AS vector_materialized,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders
         |WHERE o_orderstatus IN ('F', 'O') AND o_orderkey % 7 <> 0
         |GROUP BY o_orderstatus""").stripMargin,

    "lake30_ivm_total" -> // the maintained mart = aggregate of the final
      // source state: F minus cust%5 MOR-deletes, surviving %10 keys
      // repriced (+1000), plus the O inserts; rebuild-equality and
      // replay-no-op pinned in-engine
      (s"""WITH fkeep AS (
         |  SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
         |  WHERE o_orderstatus = 'F' AND o_custkey % 5 <> 0
         |), final AS (
         |  SELECT o_orderstatus,
         |         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
         |              ELSE o_totalprice END AS v
         |  FROM fkeep
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice AS v FROM orders
         |  WHERE o_orderstatus = 'O'
         |)
         |SELECT TRUE AS matches_rebuild, TRUE AS replay_noop,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("v")} AS total_price
         |FROM final GROUP BY o_orderstatus""").stripMargin,

    "lake32_minmax_ivm" -> // the maintained min/max mart must equal the
      // from-scratch aggregate over the final state: orders plus the
      // repriced pmod-9 slice, minus everything above 400000; fold /
      // recompute / replay behavior pinned in-engine
      ("""WITH plus AS (
         |  SELECT o_orderstatus, o_totalprice + 500000.0 AS p FROM orders
         |  WHERE ((o_orderkey % 9) + 9) % 9 = 4
         |), base AS (
         |  SELECT o_orderstatus, o_totalprice AS p FROM orders
         |  UNION ALL SELECT o_orderstatus, p FROM plus
         |), fin AS (
         |  SELECT * FROM base WHERE NOT (p > 400000.0)
         |)
         |SELECT TRUE AS insert_fold, TRUE AS recompute_fired,
         |       TRUE AS replay_noop_and_matches,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       min(p) AS min_price, max(p) AS max_price
         |FROM fin GROUP BY o_orderstatus""").stripMargin,

    "lake33_join_ivm_total" -> // the maintained join mart = join of the
      // FINAL fact states: A = (F ∪ O orders) minus the custkey%7 MOR
      // deletes, F rows repriced (+1000) at orderkey%10; B = customers
      // outside BUILDING. Rebuild-equality and replay-no-op pinned
      // in-engine; the oracle replays the final join aggregate.
      (s"""WITH a AS (
         |  SELECT o_custkey,
         |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 0
         |              THEN o_totalprice + 1000.0 ELSE o_totalprice END AS v
         |  FROM orders
         |  WHERE o_orderstatus IN ('F', 'O') AND o_custkey % 7 <> 0
         |), b AS (
         |  SELECT c_custkey, c_mktsegment FROM customer
         |  WHERE c_mktsegment <> 'BUILDING'
         |)
         |SELECT TRUE AS matches_rebuild, TRUE AS replay_noop,
         |       c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
         |       ${dsumSql("v")} AS total_price
         |FROM a JOIN b ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""").stripMargin,

    "lake31_log_tiering" -> // storage form and vacuum materialization
      // pinned in-engine; the oracle re-derives the time-travel prefix
      // (slices 0..6 of the pmod-14 cut) and the tip aggregate
      (s"""SELECT TRUE AS delta_forms, TRUE AS delta_small,
         |       TRUE AS vacuum_checkpointed,
         |       (SELECT CAST(count(*) AS BIGINT) FROM orders
         |        WHERE ((o_orderkey % 14) + 14) % 14 <= 6) AS n_at_v7,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "lake34_segmented_log" -> // the two-tier storage form, the metered
      // O(delta) append contract, pointer carry, and the cold segmented
      // sidecar read are pinned in-engine; the face is the tip content,
      // which is the whole orders table (all 11 pmod slices appended)
      (s"""SELECT TRUE AS create_segmented, TRUE AS appends_zero_full_renders,
         |       TRUE AS appends_serialize_adds_only,
         |       TRUE AS checkpoint_carries_segments,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "lake35_two_tier_pruning" -> // the meter literals pin the two-tier
      // contract (the 8-member segment excluded by its pointer rollup
      // with zero per-file work; only the 2-member segment + 2 tail
      // files evaluated; exactly the covering file kept); the row
      // content is the probed order, re-derived by rank arithmetic over
      // the distinct keys — integer division matches the Spark side
      ("""WITH k AS (
         |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS rn,
         |         count(*) OVER () AS c
         |  FROM (SELECT DISTINCT o_orderkey FROM orders)
         |), probe AS (
         |  SELECT o_orderkey FROM k WHERE rn = (8 * c) // 12
         |)
         |SELECT CAST(4 AS BIGINT) AS files_evaluated,
         |       CAST(1 AS BIGINT) AS segments_excluded,
         |       CAST(1 AS BIGINT) AS files_kept,
         |       o.o_orderkey, o.o_orderstatus,
         |       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
         |FROM orders o JOIN probe USING (o_orderkey)""").stripMargin,

    "lake37_cold_pruned_read" -> // the cold plan's load counts are the
      // face literals (one surviving segment for the mid probe, zero
      // for the tail probe); the rows are the two probed orders
      ("""WITH k AS (
         |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS rn,
         |         count(*) OVER () AS c
         |  FROM (SELECT DISTINCT o_orderkey FROM orders)
         |), probes AS (
         |  SELECT o_orderkey FROM k WHERE rn = (8 * c) // 12 OR rn = (11 * c) // 12
         |)
         |SELECT CAST(1 AS BIGINT) AS segment_loads_mid,
         |       CAST(0 AS BIGINT) AS segment_loads_tail,
         |       o.o_orderkey, o.o_orderstatus,
         |       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
         |FROM orders o JOIN probes USING (o_orderkey)""").stripMargin,

    "lake38_prune_sidecar" -> // the first cold probe decodes the pointer
      // chain exactly once (and persists the .pruneidx sidecar); the
      // second cold process decodes ZERO pointer bytes and plans the
      // identical file set; the rows are the mid-range probe
      ("""WITH k AS (
         |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS rn,
         |         count(*) OVER () AS c
         |  FROM (SELECT DISTINCT o_orderkey FROM orders)
         |), probe AS (
         |  SELECT o_orderkey FROM k WHERE rn = (8 * c) // 12
         |)
         |SELECT CAST(1 AS BIGINT) AS pointer_decodes_first,
         |       CAST(0 AS BIGINT) AS pointer_decodes_second,
         |       TRUE AS sidecar_plan_identical,
         |       o.o_orderkey, o.o_orderstatus,
         |       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
         |FROM orders o JOIN probe USING (o_orderkey)""").stripMargin,

    "lake39_tip_watermark" -> // a maintenance window's manifestMeta-call
      // count at history depth ~7 equals the depth-~2 count (the tip
      // carries every txn-* watermark, max-wins) and stays under the
      // small-constant bound; content = probes per window slice
      ("""WITH probes AS (
         |  SELECT doc_id AS probe_id
         |  FROM documents WHERE doc_id < 200 AND length(text) >= 20
         |)
         |SELECT TRUE AS tip_watermark_flat, TRUE AS window_reads_bounded,
         |       probe_id % 8 AS window_slice,
         |       CAST(count(*) AS BIGINT) AS n_probes,
         |       min(probe_id) AS first_probe
         |FROM probes GROUP BY probe_id % 8""").stripMargin,

    "lake36_checkpoint_ledger" -> // an appends-only checkpoint visits
      // exactly the 10 tail members (clean segments carry by name); the
      // cold-resolved content is the whole orders table (all 20 slices)
      (s"""SELECT CAST(10 AS BIGINT) AS checkpoint_member_visits,
         |       o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "lake28_row_tracking" -> // the face is the post-lifecycle content
      // (everything but the %3 deletes); id uniqueness and rewrite
      // preservation are pinned in-engine as booleans
      (s"""SELECT TRUE AS ids_preserved, TRUE AS ids_unique, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders WHERE o_orderkey % 3 <> 0
         |GROUP BY o_orderstatus""").stripMargin,

    "lake26_multi_txn" -> // after two atomic (append fact, overwrite
      // mart) transactions the fact holds all three thirds, so the
      // final mart is just the full aggregate; per-cut consistency is
      // pinned in-key
      (s"""SELECT TRUE AS all_cuts_consistent, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "lake25_generated" -> // the engine-computed o_year must equal the
      // declared expression on every row, so the oracle just computes
      // year(o_orderdate) itself over the same three batches
      (s"""WITH rows AS (
         |  SELECT o_orderdate, o_totalprice FROM orders
         |  UNION ALL
         |  SELECT o_orderdate, o_totalprice FROM orders WHERE o_orderkey % 10 = 3
         |  UNION ALL
         |  SELECT o_orderdate, o_totalprice FROM orders WHERE o_orderkey % 10 = 4
         |)
         |SELECT TRUE AS violation_refused,
         |       CAST(year(o_orderdate) AS INT) AS o_year,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM rows GROUP BY 2""").stripMargin,

    "lake24_delete_mor" -> // survivors = NOT(pred1 IS TRUE) AND
      // NOT(pred2 IS TRUE) plus the post-delete append; the SAME
      // aggregate must hold in both phases (anti-join read and
      // materialized read) — the phase cross join replays that
      (s"""WITH survivors AS (
         |  SELECT * FROM orders
         |  WHERE NOT (o_orderkey % 7 = 0)
         |    AND NOT (o_orderstatus = 'P' AND o_orderkey % 2 = 1)
         |  UNION ALL
         |  SELECT * REPLACE (o_orderkey + 1000000000 AS o_orderkey)
         |  FROM orders WHERE o_orderkey % 100 = 0
         |), agg AS (
         |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
         |         ${dsumSql("o_totalprice")} AS total_price
         |  FROM survivors GROUP BY o_orderstatus
         |)
         |SELECT TRUE AS zero_new_files, TRUE AS purged_clean,
         |       p.phase, a.o_orderstatus, a.n_orders, a.total_price
         |FROM agg a CROSS JOIN (VALUES ('mor'), ('purged')) AS p(phase)""").stripMargin,

    "lake23_incr_join" -> // every maintenance pass's delta re-derived:
      // boot = F×even, step1 = O×even (B hadn't advanced), step2 =
      // (F∪O)×odd, step3 = P×all, no-op = 0; final mart = the full join
      (s"""WITH j AS (
         |  SELECT o.o_orderstatus AS st, o.o_totalprice AS tp,
         |         c.c_custkey AS ck, c.c_mktsegment AS seg
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |)
         |SELECT
         |  (SELECT count(*) FROM j WHERE st = 'F' AND ck % 2 = 0) AS boot_rows,
         |  (SELECT count(*) FROM j WHERE st = 'O' AND ck % 2 = 0) AS step1_rows,
         |  (SELECT count(*) FROM j WHERE st IN ('F', 'O') AND ck % 2 = 1) AS step2_rows,
         |  (SELECT count(*) FROM j WHERE st = 'P') AS step3_rows,
         |  CAST(0 AS BIGINT) AS noop_rows,
         |  seg AS c_mktsegment,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  ${dsumSql("tp")} AS total_price
         |FROM j GROUP BY seg""").stripMargin,

    "lake22_forget" -> // the surviving table = orders minus the
      // min-custkey subject; both erasure proofs pinned
      (s"""SELECT TRUE AS history_gone, TRUE AS physically_gone,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders
         |WHERE o_custkey <> (SELECT min(o_custkey) FROM orders)
         |GROUP BY o_orderstatus""").stripMargin,

    "lake21_time_travel_ts" -> // the as-of read serves the even half
      // only; boundary resolution pinned
      (s"""SELECT TRUE AS resolved_boundary, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders WHERE o_orderkey % 2 = 0
         |GROUP BY o_orderstatus""").stripMargin,

    "lake20_spec_evolution" -> // content = all orders; the four
      // evolution invariants are pinned by the flags
      (s"""SELECT TRUE AS evolve_metadata_only, TRUE AS new_files_prune,
         |       TRUE AS old_files_keep_biased, TRUE AS old_transform_prunes,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "lake19_check_constraints" -> // table = all orders plus the 5
      // smallest keys re-appended (the clean append); both refusals
      // pinned by the flags
      (s"""WITH t AS (
         |  SELECT o_orderstatus, o_totalprice FROM orders
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice
         |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 5)
         |)
         |SELECT TRUE AS add_refused, TRUE AS write_refused,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM t GROUP BY o_orderstatus""").stripMargin,

    "lake17_stats_rollup" -> // the rollup's routing verdicts are pinned
      // TRUE; the content aggregate re-derives from the source
      (s"""SELECT TRUE AS skip_past_max, TRUE AS skip_null,
         |       TRUE AS keep_point, TRUE AS count_fast_path,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "lake16_shallow_clone" -> // clone = orders minus keys < 100 (the
      // CoW delete); source = orders plus its 5 smallest keys appended
      // again — each side re-derived independently
      (s"""SELECT TRUE AS clone_zero_copy, TRUE AS pruned_on_clone,
         |       'clone' AS side, CAST(count(*) AS BIGINT) AS n_rows,
         |       ${dsumSql("o_totalprice")} AS total_price,
         |       min(o_orderkey) AS min_key
         |FROM orders WHERE NOT (o_orderkey < 100)
         |UNION ALL
         |SELECT TRUE, TRUE, 'source', CAST(count(*) AS BIGINT),
         |       ${dsumSql("o_totalprice")}, min(o_orderkey)
         |FROM (SELECT o_orderkey, o_totalprice FROM orders
         |      UNION ALL
         |      SELECT o_orderkey, o_totalprice FROM
         |        (SELECT * FROM orders ORDER BY o_orderkey LIMIT 5))""").stripMargin,

    "lake12_bucket_transform" -> // the transform-pruned point probe must
      // equal the plain IN-probe (hidden partitioning is an
      // optimization, never a semantics change); pruned_some mirrors
      // the observed file drop
      ("""SELECT TRUE AS pruned_some, o_orderkey, o_custkey,
         |       o_orderstatus, o_totalprice
         |FROM orders WHERE o_orderkey IN (7, 42, 1337)""").stripMargin,

    "scd1_scd2_history" -> // change rows (lag IS DISTINCT FROM state, first row
      // via lagged tie key — null-safe, mirrors scd2Snapshot) -> lead()
      // closes the interval; o_orderkey breaks observation-time ties
      ("""WITH ordered AS (
         |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         |         lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_status,
         |         lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_key
         |  FROM orders
         |), changes AS (
         |  SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from, o_orderkey
         |  FROM ordered
         |  WHERE prev_key IS NULL OR prev_status IS DISTINCT FROM o_orderstatus
         |)
         |SELECT o_custkey, o_orderstatus AS status, valid_from,
         |       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from, o_orderkey) AS valid_to,
         |       (lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from, o_orderkey) IS NULL) AS is_current
         |FROM changes""").stripMargin,

    "mv1_query_rewrite" -> // the mart-served aggregate must equal the
      // from-scratch aggregate over the whole fact (= all orders);
      // plan routing + control pinned in-engine
      (s"""SELECT TRUE AS served_from_mart, TRUE AS control_unrewritten,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "mv2_rewrite_filtered" -> // the key-filtered mart-served aggregate
      // must equal the filtered from-scratch aggregate; the time-travel
      // count is v1's truth (the F slice); plan routing pinned in-engine
      (s"""SELECT TRUE AS filtered_from_mart, TRUE AS timetravel_unrewritten,
         |       (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'F') AS n_f_at_v1,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders WHERE o_orderstatus IN ('F', 'O')
         |GROUP BY o_orderstatus""").stripMargin,

    "mv3_rewrite_minmax" -> // the mart-served count/min/max must equal
      // the filtered from-scratch aggregate; routing pinned in-engine
      ("""SELECT TRUE AS served_from_mart, TRUE AS sum_control_unrewritten,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         |FROM orders WHERE o_orderstatus IN ('F', 'O')
         |GROUP BY o_orderstatus""").stripMargin,

    "mv4_rewrite_composite" -> // the composite-key mart (maintained
      // through an append + MOR-delete window) must serve the exact
      // (status, priority) aggregate over the final state
      (s"""SELECT TRUE AS served_from_mart, TRUE AS single_key_unrewritten,
         |       o_orderpriority, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders WHERE o_custkey % 5 <> 0
         |GROUP BY o_orderpriority, o_orderstatus""").stripMargin,

    "mv5_staleness_guard" -> // after one maintainAndReregister call the
      // mart serves the WHOLE fact (all four o_orderkey%4 slices = all
      // orders); the four plan-probe booleans pin the staleness
      // life-cycle in-engine
      (s"""SELECT TRUE AS fresh_rewrites, TRUE AS stale_within_bound_rewrites,
         |       TRUE AS past_bound_disabled, TRUE AS reregistered_rewrites,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "mv6_rewrite_avg" -> // the mart-served avg (exact decimal sum ÷
      // count, divided as doubles) must equal the from-scratch davg;
      // routing and the unregistered-column control pinned in-engine
      (s"""SELECT TRUE AS avg_from_mart, TRUE AS other_column_unrewritten,
         |       o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price,
         |       ${graft.ops.ExactSums.davgSql("o_totalprice")} AS avg_price
         |FROM orders WHERE o_orderstatus IN ('F', 'O')
         |GROUP BY o_orderstatus""").stripMargin,

    "mv7_rewrite_join" -> // the mart-served join-agg must equal the
      // from-scratch orders⋈customer aggregate over the WHOLE fact
      // (both slices maintained in); routing probes pinned in-engine
      (s"""SELECT TRUE AS join_from_mart, TRUE AS other_key_unrewritten,
         |       c_mktsegment,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""").stripMargin,

    "mv8_rewrite_join_agg" -> // the agg-mart-served join aggregate must
      // equal the from-scratch orders⋈customer groupBy over exactly the
      // surviving window (create %3=0, append %3=1, MOR-delete %9=0);
      // the three routing probes are pinned in-engine
      (s"""SELECT TRUE AS agg_from_agg_mart, TRUE AS join_from_join_mart,
         |       TRUE AS other_key_on_join_mart,
         |       c_mktsegment,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 9 <> 0
         |GROUP BY c_mktsegment""").stripMargin,

    "lake11_incr_agg" -> // the maintained mart must equal the
      // from-scratch aggregate; per-step delta sizes pin that each pass
      // consumed exactly its append (and pass 3 nothing)
      (s"""SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'O') AS step1_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'P') AS step2_rows,
         |  CAST(0 AS BIGINT) AS step3_rows,
         |  o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus""").stripMargin,

    "lake10_delete_cow" -> // DELETE WHERE pred keeps exactly the rows for
      // which pred is not true; the COW shape (tail files only) is
      // pinned by rewrote_minority
      (s"""SELECT TRUE AS rewrote_minority, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders
         |WHERE NOT (o_orderdate >= TIMESTAMP '2000-01-01')
         |GROUP BY o_orderstatus""").stripMargin,

    "lake9_merge_cow" -> // MERGE semantics replayed relationally: batch
      // rows win on key, the rest of the table carries; the COW part
      // (only boundary files rewrote) is pinned by rewrote_minority
      (s"""WITH batch AS (
         |  SELECT * REPLACE ('X' AS o_orderstatus,
         |                    o_totalprice + 1000.0 AS o_totalprice)
         |  FROM orders WHERE o_orderkey <= 100
         |  UNION ALL
         |  SELECT * REPLACE (o_orderkey + 1000000000 AS o_orderkey)
         |  FROM orders WHERE o_orderkey <= 10
         |), merged AS (
         |  SELECT * FROM orders
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
         |  UNION ALL
         |  SELECT * FROM batch
         |)
         |SELECT TRUE AS rewrote_minority, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM merged GROUP BY o_orderstatus""").stripMargin,

    "lake8_keyjoin_pruned" -> // the key-pruned fact join must equal the
      // plain inner join; pruned_some mirrors the observed file drop
      (s"""SELECT TRUE AS pruned_some, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE c_custkey < 10
         |GROUP BY o_orderstatus""").stripMargin,

    "lake7_manifest_count" -> // the metadata-resolved count must equal the
      // scanned count exactly; the mirrors pin the resolution shape
      ("""SELECT CAST(count(*) AS BIGINT) AS n_orders,
         |       TRUE AS meta_resolved_some, TRUE AS scanned_minority
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'""").stripMargin,

    "lake6_zorder_pruned" -> // the z-order-pruned 2-d box scan must equal
      // the plain filtered aggregate; pruned_some mirrors the file drop
      (s"""SELECT TRUE AS pruned_some, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND o_totalprice < 100000.0
         |GROUP BY o_orderstatus""").stripMargin,

    "lake5_bloom_pruned" -> // the bloom-pruned point lookup must equal the
      // plain IN-probe (skipping is an optimization, never a semantics
      // change); pruned_some mirrors the observed file drop
      ("""SELECT TRUE AS pruned_some, o_orderkey, o_custkey,
         |       o_orderstatus, o_totalprice
         |FROM orders WHERE o_orderkey IN (7, 42, 1337)""").stripMargin,

    "lake4_stats_pruned" -> // the stats-pruned scan must equal the plain
      // filtered aggregate (pruning is an optimization, never a
      // semantics change); pruned_some mirrors the observed file drop
      (s"""SELECT TRUE AS pruned_some, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-07-01'
         |GROUP BY o_orderstatus""").stripMargin,

    "lake3_changes_since" -> // the delta from cursor v2 to tip v3 is the
      // 'P' append alone; the tip version is a literal mirror
      (s"""SELECT CAST(3 AS BIGINT) AS tip_version, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders WHERE o_orderstatus = 'P' GROUP BY o_orderstatus""").stripMargin,

    "lake2_state_skip" -> // run 1 builds, run 2 skips — the actions are
      // literal mirrors, so a skip that didn't happen breaks the hash;
      // both runs must serve the same committed aggregate
      ("""SELECT CAST(1 AS INT) AS run, 'built' AS action, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders
         |FROM orders WHERE o_totalprice > 0 GROUP BY o_orderstatus
         |UNION ALL
         |SELECT CAST(2 AS INT) AS run, 'skipped' AS action, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders
         |FROM orders WHERE o_totalprice > 0 GROUP BY o_orderstatus""").stripMargin,

    "lake1_manifest_timetravel" -> // both manifest versions' content
      // re-derived from the source table: version 2 = the F-then-O
      // append state, version 3 = the overwrite; snapshot isolation on
      // the Spark side is what makes version 2 still readable
      (s"""SELECT CAST(2 AS BIGINT) AS version, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY o_orderstatus
         |UNION ALL
         |SELECT CAST(3 AS BIGINT) AS version, o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o_totalprice")} AS total_price
         |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |GROUP BY o_orderstatus""").stripMargin,

    "mrg1_merge_upsert" -> // MERGE = full outer on the key: source wins the
      // state columns WHEN ITS KEY IS PRESENT (even if the value is NULL —
      // mirrors mergeUpsert's source-present marker), counts accumulate,
      // absent sides coalesce to 0
      ("""WITH tgt_r AS (
         |  SELECT o_custkey, o_orderstatus, o_orderdate,
         |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
         |), tgt AS (
         |  SELECT o_custkey, max(CASE WHEN rn = 1 THEN o_orderstatus END) AS status,
         |         max(o_orderdate) AS last_order, CAST(count(*) AS BIGINT) AS n_orders
         |  FROM tgt_r GROUP BY 1
         |), src_r AS (
         |  SELECT o_custkey, o_orderstatus, o_orderdate,
         |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |  FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
         |), src AS (
         |  SELECT o_custkey, max(CASE WHEN rn = 1 THEN o_orderstatus END) AS status,
         |         max(o_orderdate) AS last_order, CAST(count(*) AS BIGINT) AS n_orders
         |  FROM src_r GROUP BY 1
         |)
         |SELECT coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
         |       CASE WHEN s.o_custkey IS NOT NULL THEN s.status ELSE t.status END AS status,
         |       CASE WHEN s.o_custkey IS NOT NULL THEN s.last_order ELSE t.last_order END AS last_order,
         |       CAST(coalesce(t.n_orders, 0) + coalesce(s.n_orders, 0) AS BIGINT) AS n_orders
         |FROM tgt t FULL JOIN src s ON t.o_custkey = s.o_custkey""").stripMargin
  )
}
