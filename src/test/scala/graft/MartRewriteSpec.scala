package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.{ExactSums, LakeOps}
import graft.plans.MartRewrite
import graft.sources.ManifestTable

/** Transparent materialized-view routing: a count/sum aggregate over the
  * fact table must silently re-plan onto the maintained mart — same
  * results bit-for-bit, O(groups) scan — while every shape the rewrite
  * cannot prove (other group keys, filters, distinct, other value
  * columns) stays on the fact scan untouched. */
class MartRewriteSpec extends SparkSpec {
  private def freshRoot(p: String): String =
    Files.createTempDirectory(p).toFile.getAbsolutePath

  private def orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")

  private def scansUnder(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString)

  private def factAgg(fact: String) =
    ManifestTable.read(spark, fact).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        ExactSums.dsum(col("o_totalprice")).as("total_price"))

  test("the registered shape re-plans onto the mart, results bit-identical to the fact scan") {
    val fact = freshRoot("mv_fact")
    val mart = freshRoot("mv_mart")
    ManifestTable.create(spark, fact, orders.filter(col("o_orderstatus") === "F"))
    ManifestTable.append(spark, fact, orders.filter(col("o_orderstatus") =!= "F"))
    LakeOps.maintainAggMartTotal(spark, fact, mart, Seq("o_orderstatus"), "o_totalprice")
    // ground truth BEFORE registering: the plain fact-scan aggregate
    val direct = factAgg(fact).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    MartRewrite.register(spark, fact, Seq("o_orderstatus"), "o_totalprice", mart)
    try {
      val q = factAgg(fact)
      val martName = new java.io.File(mart).getName
      assert(scansUnder(q).exists(_.contains(martName)),
        s"aggregate must scan the mart:\n${q.queryExecution.executedPlan}")
      assert(!scansUnder(q).exists(_.contains(new java.io.File(fact).getName)),
        "the fact table must not be scanned at all")
      val rewritten = q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rewritten === direct, "mart-served results must be bit-identical")
    } finally MartRewrite.deregister(fact)
  }

  test("unprovable shapes stay on the fact scan: other key, filter, distinct, other value column") {
    val fact = freshRoot("mv_fact2")
    val mart = freshRoot("mv_mart2")
    ManifestTable.create(spark, fact, orders)
    LakeOps.maintainAggMartTotal(spark, fact, mart, Seq("o_orderstatus"), "o_totalprice")
    MartRewrite.register(spark, fact, Seq("o_orderstatus"), "o_totalprice", mart)
    try {
      val martName = new java.io.File(mart).getName
      def untouched(df: org.apache.spark.sql.DataFrame, what: String): Unit =
        assert(!scansUnder(df).exists(_.contains(martName)),
          s"$what must NOT rewrite:\n${df.queryExecution.executedPlan}")
      untouched(ManifestTable.read(spark, fact).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n")), "different group key")
      untouched(ManifestTable.read(spark, fact)
        .filter(col("o_orderkey") % 2 === 0).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n")), "filtered aggregate")
      untouched(ManifestTable.read(spark, fact).groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n")), "count distinct")
      untouched(ManifestTable.read(spark, fact).groupBy("o_orderstatus")
        .agg(ExactSums.dsum(col("o_custkey")).as("s")), "sum of an unregistered column")
      // a completely different table never rewrites
      untouched(Tables.load(spark, "/root/testdata/sf0.001", "orders")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n")), "foreign scan")
    } finally MartRewrite.deregister(fact)
  }

  test("a deterministic filter on the GROUP KEY rides the rewrite onto the mart") {
    val fact = freshRoot("mv_fact_kf")
    val mart = freshRoot("mv_mart_kf")
    ManifestTable.create(spark, fact, orders)
    LakeOps.maintainAggMartTotal(spark, fact, mart, Seq("o_orderstatus"), "o_totalprice")
    def keyFiltered = ManifestTable.read(spark, fact)
      .filter(col("o_orderstatus").isin("F", "O"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), ExactSums.dsum(col("o_totalprice")).as("total_price"))
    val direct = keyFiltered.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    MartRewrite.register(spark, fact, Seq("o_orderstatus"), "o_totalprice", mart)
    try {
      val q = keyFiltered
      val martName = new java.io.File(mart).getName
      assert(scansUnder(q).exists(_.contains(martName)),
        s"key-filtered aggregate must scan the mart:\n${q.queryExecution.executedPlan}")
      assert(!scansUnder(q).exists(_.contains(new java.io.File(fact).getName)),
        "the fact table must not be scanned at all")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === direct, "key-filtered mart results must be bit-identical")
      // a NON-key filter still refuses (group-preservation unprovable)
      val nk = ManifestTable.read(spark, fact)
        .filter(col("o_totalprice") > 1000).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
      assert(!scansUnder(nk).exists(_.contains(martName)),
        "non-key filters must NOT rewrite")
    } finally MartRewrite.deregister(fact)
  }

  test("min/max mart routing: count/min/max re-plan onto the minmax mart; sum shapes only onto the sum mart") {
    val fact = freshRoot("mv_fact_mm")
    val sumMart = freshRoot("mv_mart_sum")
    val mmMart = freshRoot("mv_mart_mm")
    ManifestTable.create(spark, fact, orders)
    LakeOps.maintainMinMaxMart(spark, fact, mmMart, "o_orderstatus", "o_totalprice")
    def mmAgg = ManifestTable.read(spark, fact)
      .filter(col("o_orderstatus") =!= "X") // key-only filter rides along
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
    def sumAgg = ManifestTable.read(spark, fact).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), ExactSums.dsum(col("o_totalprice")).as("s"))
    val direct = mmAgg.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    MartRewrite.registerMinMax(spark, fact, "o_orderstatus", "o_totalprice", mmMart)
    try {
      val mmName = new java.io.File(mmMart).getName
      assert(scansUnder(mmAgg).exists(_.contains(mmName)),
        s"count/min/max must scan the minmax mart:\n${mmAgg.queryExecution.executedPlan}")
      assert(mmAgg.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet === direct)
      // a SUM query must NOT be served by the minmax mart (it doesn't
      // store sums) — untouched while only minmax is registered
      assert(!scansUnder(sumAgg).exists(_.contains(mmName)),
        "sum shapes must not route to the minmax mart")
      // with BOTH marts registered, each shape routes to its own mart
      LakeOps.maintainAggMartTotal(spark, fact, sumMart, Seq("o_orderstatus"), "o_totalprice")
      MartRewrite.register(spark, fact, Seq("o_orderstatus"), "o_totalprice", sumMart)
      val sumName = new java.io.File(sumMart).getName
      assert(scansUnder(sumAgg).exists(_.contains(sumName)),
        s"count/dsum must scan the sum mart:\n${sumAgg.queryExecution.executedPlan}")
      assert(scansUnder(mmAgg).exists(_.contains(mmName)),
        "count/min/max must still scan the minmax mart")
      // min of an UNREGISTERED column never rewrites
      val other = ManifestTable.read(spark, fact).groupBy("o_orderstatus")
        .agg(min(col("o_custkey")).as("m"))
      assert(!scansUnder(other).exists(l => l.contains(mmName) || l.contains(sumName)),
        "min over an unregistered column must stay on the fact scan")
    } finally MartRewrite.deregister(fact)
  }

  test("composite-key registrations: multi-key aggregates route (any grouping order); other key sets refuse") {
    val fact = freshRoot("mv_fact_ck")
    val mart = freshRoot("mv_mart_ck")
    ManifestTable.create(spark, fact, orders)
    LakeOps.maintainAggMartTotal(spark, fact, mart,
      Seq("o_orderstatus", "o_orderpriority"), "o_totalprice")
    // grouping order REVERSED vs registration — sets match, order must not matter
    def q = ManifestTable.read(spark, fact)
      .filter(col("o_orderpriority") =!= "nope") // composite-key-only filter
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"), ExactSums.dsum(col("o_totalprice")).as("s"))
    val direct = q.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    MartRewrite.register(spark, fact,
      Seq("o_orderstatus", "o_orderpriority"), "o_totalprice", mart)
    try {
      val martName = new java.io.File(mart).getName
      assert(scansUnder(q).exists(_.contains(martName)),
        s"composite-key aggregate must scan the mart:\n${q.queryExecution.executedPlan}")
      assert(q.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet === direct,
        "mart-served composite results must be bit-identical")
      // a DIFFERENT key set (single key / superset) must refuse
      val single = ManifestTable.read(spark, fact).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
      assert(!scansUnder(single).exists(_.contains(martName)),
        "a single-key aggregate must not route to the composite mart")
      val triple = ManifestTable.read(spark, fact)
        .groupBy("o_orderstatus", "o_orderpriority", "o_custkey")
        .agg(count(lit(1)).as("n"))
      assert(!scansUnder(triple).exists(_.contains(martName)),
        "a superset key aggregate must not route to the composite mart")
      // SAFETY: a MOR delete puts the DV anti-join above the fact scan —
      // a shape the rewrite cannot prove, so the query correctly stops
      // rewriting (fresh, delete-aware results) instead of serving
      // deleted rows from the stale mart
      ManifestTable.deleteMor(spark, fact, col("o_custkey") % 7 === 0)
      assert(!scansUnder(q).exists(_.contains(martName)),
        "a DV-bearing fact read must NOT rewrite")
      assert(q.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet !== direct,
        "the un-rewritten query must serve the delete-aware truth")
    } finally MartRewrite.deregister(fact)
  }

  test("time travel and file-subset scans never rewrite; a post-registration overwrite stops the rewrite") {
    val fact = freshRoot("mv_fact_tt")
    val mart = freshRoot("mv_mart_tt")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, fact, f) // v1
    ManifestTable.append(spark, fact, orders.filter(col("o_orderstatus") =!= "F")) // v2
    LakeOps.maintainAggMartTotal(spark, fact, mart, Seq("o_orderstatus"), "o_totalprice")
    MartRewrite.register(spark, fact, Seq("o_orderstatus"), "o_totalprice", mart)
    try {
      val martName = new java.io.File(mart).getName
      // a TIME-TRAVEL read at v1 scans a PROPER SUBSET of the
      // registered files — serving tip-mart numbers for it would be
      // wrong results, not staleness
      val tt = ManifestTable.read(spark, fact, Some(1L)).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
      assert(!scansUnder(tt).exists(_.contains(martName)),
        s"time travel must NOT rewrite:\n${tt.queryExecution.executedPlan}")
      assert(tt.collect().map(r => (r.getString(0), r.getLong(1))).toMap ===
        Map("F" -> f.count()), "time travel must serve v1's true content")
      // an explicit file-subset scan (what readPrunedByKeys produces)
      val subset = ManifestTable.manifestFiles(spark, fact, 1L)
        .map(p => s"$fact/$p")
      val sub = spark.read.parquet(subset: _*).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
      assert(!scansUnder(sub).exists(_.contains(martName)),
        "a file-subset scan must NOT rewrite")
      // an overwrite breaks the superset relation: the rewrite stops
      // (fresh fact truth is served) until re-registration
      ManifestTable.overwrite(spark, fact, orders.limit(7))
      val post = ManifestTable.read(spark, fact).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
      assert(!scansUnder(post).exists(_.contains(martName)),
        "post-overwrite tip scans must NOT rewrite against a pre-overwrite registration")
      assert(post.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0) === 7L)
    } finally MartRewrite.deregister(fact)
  }

  test("registration snapshots the mart: stale until re-registered after maintenance") {
    val fact = freshRoot("mv_fact3")
    val mart = freshRoot("mv_mart3")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, fact, f)
    LakeOps.maintainAggMartTotal(spark, fact, mart, Seq("o_orderstatus"), "o_totalprice")
    MartRewrite.register(spark, fact, Seq("o_orderstatus"), "o_totalprice", mart)
    try {
      // new fact data, mart NOT maintained: the rewrite serves the
      // registered snapshot (the documented allowed-staleness model)
      ManifestTable.append(spark, fact, orders.filter(col("o_orderstatus") === "O"))
      val stale = factAgg(fact).collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(stale === Map("F" -> f.count()), s"expected the snapshot, got $stale")
      // maintain + re-register: fresh again
      LakeOps.maintainAggMartTotal(spark, fact, mart, Seq("o_orderstatus"), "o_totalprice")
      MartRewrite.register(spark, fact, Seq("o_orderstatus"), "o_totalprice", mart)
      val fresh = factAgg(fact).collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(fresh === Map("F" -> f.count(),
        "O" -> orders.filter(col("o_orderstatus") === "O").count()))
    } finally MartRewrite.deregister(fact)
  }

  test("ExactSums.davg rides the rewrite: avg served as total/n_rows from the mart, bit-identical; unregistered column refuses") {
    val fact = freshRoot("mv_fact_avg")
    val mart = freshRoot("mv_mart_avg")
    ManifestTable.create(spark, fact, orders)
    LakeOps.maintainAggMartTotal(spark, fact, mart, Seq("o_orderstatus"), "o_totalprice")
    MartRewrite.register(spark, fact, Seq("o_orderstatus"), "o_totalprice", mart)
    try {
      val martName = new java.io.File(mart).getName
      def shaped(df: org.apache.spark.sql.DataFrame) = df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), ExactSums.dsum(col("o_totalprice")).as("t"),
          ExactSums.davg(col("o_totalprice")).as("a"))
      val q = shaped(ManifestTable.read(spark, fact))
      assert(scansUnder(q).exists(_.contains(martName)),
        s"count+sum+avg must route onto the mart:\n${q.queryExecution.executedPlan}")
      val direct = shaped(orders)
      assert(q.exceptAll(direct).isEmpty && direct.exceptAll(q).isEmpty,
        "the mart-served avg must be bit-identical (same decimal sum, same IEEE division)")
      // avg of an UNREGISTERED column cannot be derived — stays on the fact
      val other = ManifestTable.read(spark, fact).groupBy("o_orderstatus")
        .agg(ExactSums.davg(col("o_custkey")).as("a"))
      assert(!scansUnder(other).exists(_.contains(martName)),
        "davg over an unregistered column must NOT rewrite")
    } finally MartRewrite.deregister(fact)
  }

  test("maintainAndReregister advances mart and registration together; maxVersionLag disables a stale rewrite") {
    val fact = freshRoot("mv_fact4")
    val mart = freshRoot("mv_mart4")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, fact, f) // fact v1
    // ONE call: bootstrap the mart AND register, with a 2-version bound
    LakeOps.maintainAndReregister(spark, fact, mart,
      Seq("o_orderstatus"), "o_totalprice", maxVersionLag = 2L)
    try {
      val martName = new java.io.File(mart).getName
      assert(scansUnder(factAgg(fact)).exists(_.contains(martName)),
        "a fresh maintainAndReregister must enable the rewrite")
      // v2, v3: within the bound — still rewrites (allowed staleness)
      ManifestTable.append(spark, fact, orders.filter(col("o_orderstatus") === "O"))
      ManifestTable.append(spark, fact, orders.filter(col("o_orderstatus") === "P"))
      assert(scansUnder(factAgg(fact)).exists(_.contains(martName)),
        "within maxVersionLag the rewrite stays on")
      // v4: PAST the bound — the rewrite disables itself; the query
      // falls back to the fact scan and the results are FRESH
      ManifestTable.append(spark, fact, orders.orderBy(col("o_orderkey")).limit(7))
      val q = factAgg(fact)
      assert(!scansUnder(q).exists(_.contains(martName)),
        s"past maxVersionLag the rewrite must disable:\n${q.queryExecution.executedPlan}")
      val freshDirect = q.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // ONE maintenance call: mart caught up AND registration advanced —
      // the rewrite is back on and serves exactly the fresh truth
      LakeOps.maintainAndReregister(spark, fact, mart,
        Seq("o_orderstatus"), "o_totalprice", maxVersionLag = 2L)
      val q2 = factAgg(fact)
      assert(scansUnder(q2).exists(_.contains(martName)),
        "maintainAndReregister must re-enable the rewrite")
      assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).toMap === freshDirect,
        "the re-registered mart must serve the fresh aggregates bit-for-bit")
    } finally MartRewrite.deregister(fact)
  }

  test("the staleness check lists the log ZERO times per planned query (cached tip), behavior unchanged") {
    val fact = freshRoot("mv_fact_tc")
    val mart = freshRoot("mv_mart_tc")
    ManifestTable.create(spark, fact, orders)
    LakeOps.maintainAndReregister(spark, fact, mart,
      Seq("o_orderstatus"), "o_totalprice", maxVersionLag = 5L)
    try {
      val martName = new java.io.File(mart).getName
      def plan() = {
        val q = factAgg(fact)
        q.queryExecution.executedPlan // force optimization (runs MartRewrite)
        q
      }
      assert(scansUnder(plan()).exists(_.contains(martName)), "rewrite must be on")
      // the lag-bounded staleness check runs inside the optimizer on
      // EVERY planned query — it must read the JVM's tip cache, never
      // list the log: repeated plans add zero listings of the fact root
      // beyond what constructing the scan itself costs
      val withReg = {
        val before = ManifestTable.listingsOf(fact)
        (1 to 5).foreach(_ => plan())
        ManifestTable.listingsOf(fact) - before
      }
      MartRewrite.deregister(fact)
      val without = {
        val before = ManifestTable.listingsOf(fact)
        (1 to 5).foreach(_ => plan())
        ManifestTable.listingsOf(fact) - before
      }
      assert(withReg <= without,
        s"the staleness check added listings: $withReg with registration vs $without without")
      // the bound still ENFORCES: advance the fact 6 versions without
      // maintenance (commits prime the same tip cache) — rewrite off
      LakeOps.maintainAndReregister(spark, fact, mart,
        Seq("o_orderstatus"), "o_totalprice", maxVersionLag = 2L)
      (1 to 3).foreach(_ => ManifestTable.append(spark, fact,
        orders.orderBy(col("o_orderkey")).limit(5)))
      assert(!scansUnder(plan()).exists(_.contains(martName)),
        "past maxVersionLag the cached-tip check must still disable the rewrite")
    } finally MartRewrite.deregister(fact)
  }

  test("join-mart rewrite: a provable A⋈B re-plans onto the maintained join mart; filters ride; wrong shapes refuse") {
    val a = freshRoot("mv_ja")
    val b = freshRoot("mv_jb")
    val mart = freshRoot("mv_jm")
    val customer = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    ManifestTable.create(spark, a, orders.filter(col("o_orderstatus") === "F"))
    ManifestTable.create(spark, b, customer)
    LakeOps.maintainJoinAndReregister(spark, a, b, mart, "o_custkey", "c_custkey")
    try {
      val martName = new java.io.File(mart).getName
      def onMart(df: org.apache.spark.sql.DataFrame): Boolean =
        scansUnder(df).exists(_.contains(martName))
      def joined = ManifestTable.read(spark, a)
        .join(ManifestTable.read(spark, b), col("o_custkey") === col("c_custkey"))
      assert(onMart(joined), s"the registered join must re-plan:\n${joined.queryExecution.executedPlan}")
      assert(!scansUnder(joined).exists(s =>
        s.contains(new java.io.File(a).getName) || s.contains(new java.io.File(b).getName)),
        "neither fact table may be scanned")
      val direct = orders.filter(col("o_orderstatus") === "F")
        .join(customer, col("o_custkey") === col("c_custkey"))
      assert(joined.exceptAll(direct).isEmpty && direct.exceptAll(joined).isEmpty,
        "mart-served join must equal the from-scratch join")
      // deterministic side filters push onto the mart (all columns stored)
      val filtered = ManifestTable.read(spark, a).filter(col("o_totalprice") > 1000.0)
        .join(ManifestTable.read(spark, b).filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
      assert(onMart(filtered), "side filters must ride the rewrite")
      val filteredDirect = direct.filter(col("o_totalprice") > 1000.0 &&
        col("c_mktsegment") === "BUILDING")
      assert(filtered.exceptAll(filteredDirect).isEmpty &&
        filteredDirect.exceptAll(filtered).isEmpty)
      // an aggregate ABOVE the join rides too (the join child rewrites)
      val agg = joined.groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      assert(onMart(agg), "aggregates above the registered join must ride")
      // wrong shapes refuse: different condition, outer join
      assert(!onMart(ManifestTable.read(spark, a).join(ManifestTable.read(spark, b),
        col("o_custkey") === col("c_nationkey"))), "a different key pair must refuse")
      assert(!onMart(ManifestTable.read(spark, a).join(ManifestTable.read(spark, b),
        col("o_custkey") === col("c_custkey"), "left")), "an outer join must refuse")
      // incremental lifecycle: append to A, ONE maintain call, fresh again
      ManifestTable.append(spark, a, orders.filter(col("o_orderstatus") === "O"))
      LakeOps.maintainJoinAndReregister(spark, a, b, mart, "o_custkey", "c_custkey")
      val q2 = joined
      assert(onMart(q2))
      val direct2 = orders.filter(col("o_orderstatus").isin("F", "O"))
        .join(customer, col("o_custkey") === col("c_custkey"))
      assert(q2.exceptAll(direct2).isEmpty && direct2.exceptAll(q2).isEmpty,
        "the maintained join mart must serve the fresh join")
    } finally { MartRewrite.deregister(a); MartRewrite.deregister(b) }
  }

  test("a side filter referencing a column the mart does not store REFUSES the join rewrite (fresh fact scan, no unresolved plan)") {
    val a = freshRoot("mv_jfa")
    val b = freshRoot("mv_jfb")
    val mart = freshRoot("mv_jfm")
    val customer = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    ManifestTable.create(spark, a, orders.filter(col("o_orderstatus") === "F"))
    ManifestTable.create(spark, b, customer)
    LakeOps.maintainJoinAndReregister(spark, a, b, mart, "o_custkey", "c_custkey")
    try {
      // widen A AFTER registration: appends keep the file-set superset
      // relation, so the rewrite still fires on the plain join — but the
      // mart was built before 'extra' existed and does not store it
      ManifestTable.append(spark, a, orders.filter(col("o_orderstatus") === "O")
        .withColumn("extra", lit(1L)))
      val martName = new java.io.File(mart).getName
      // filter on 'extra', then PROJECT it away: the join's output is
      // fully mart-covered, so only the filter references the missing
      // column — the exact shape that produced an unresolvable plan
      // before the filter-reference guard
      val q = ManifestTable.read(spark, a)
        .filter(col("extra") === 1L)
        .select("o_orderkey", "o_custkey")
        .join(ManifestTable.read(spark, b), col("o_custkey") === col("c_custkey"))
      assert(!scansUnder(q).exists(_.contains(martName)),
        "a filter on an un-stored column must refuse the rewrite")
      // ... and the fallback executes correctly (fresh truth, no crash)
      assert(q.count() === orders.filter(col("o_orderstatus") === "O")
        .join(customer, col("o_custkey") === col("c_custkey")).count())
      // sanity: without the filter the rewrite still fires
      val plain = ManifestTable.read(spark, a)
        .select("o_orderkey", "o_custkey")
        .join(ManifestTable.read(spark, b), col("o_custkey") === col("c_custkey"))
      assert(scansUnder(plain).exists(_.contains(martName)),
        "the guard must only refuse filters on un-stored columns")
    } finally { MartRewrite.deregister(a); MartRewrite.deregister(b) }
  }

  test("maintainAndReregister kind=minmax bootstraps, routes min/max, and stays fresh through a maintained delete") {
    val fact = freshRoot("mv_fact5")
    val mart = freshRoot("mv_mart5")
    ManifestTable.create(spark, fact, orders)
    ManifestTable.enableRowTracking(spark, fact)
    LakeOps.maintainAndReregister(spark, fact, mart,
      Seq("o_orderstatus"), "o_totalprice", kind = "minmax", writerId = "mm")
    try {
      val martName = new java.io.File(mart).getName
      def minmaxAgg = ManifestTable.read(spark, fact).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"))
      assert(scansUnder(minmaxAgg).exists(_.contains(martName)),
        "min/max shape must route onto the minmax mart")
      // a MOR delete stops the rewrite while the vector is live (the
      // DV anti-join above the scan — delete-aware truth, spec-pinned
      // elsewhere); after the OPTIMIZE-style purge + ONE maintenance
      // call the loop is whole again: routed AND exact
      ManifestTable.deleteMor(spark, fact, col("o_orderkey") % 3 === 0)
      ManifestTable.purgeDeletes(spark, fact)
      LakeOps.maintainAndReregister(spark, fact, mart,
        Seq("o_orderstatus"), "o_totalprice", kind = "minmax", writerId = "mm")
      val direct = ManifestTable.read(spark, fact).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      val q = minmaxAgg
      assert(scansUnder(q).exists(_.contains(martName)))
      val served = q.collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(served === direct, "maintained minmax mart must equal the fresh truth")
    } finally MartRewrite.deregister(fact)
  }

  test("composed join-agg routing: groupBy over A⋈B serves from the agg mart OVER the join mart, through a MOR window") {
    val a = freshRoot("mv8_a")
    val b = freshRoot("mv8_b")
    val jmart = freshRoot("mv8_jmart")
    val amart = freshRoot("mv8_amart")
    val customer = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    def name(p: String) = new java.io.File(p).getName
    ManifestTable.create(spark, a, orders.filter(col("o_orderkey") % 3 === 0))
    ManifestTable.enableRowTracking(spark, a) // purge-dv window needs id-preserving feed
    ManifestTable.create(spark, b, customer)
    LakeOps.maintainJoinAggAndReregister(spark, a, b, jmart, amart,
      "o_custkey", "c_custkey", "c_mktsegment", "o_totalprice")
    // non-append window: the total feed maintains the join mart through
    // the MOR delete, and the agg mart follows the join mart's own feed;
    // the purge materializes the vector so the tip scan is bare files
    // again (a LIVE DV is an anti-join above the scan — rewrites refuse
    // while it stands, the documented MV contract)
    ManifestTable.append(spark, a, orders.filter(col("o_orderkey") % 3 === 1))
    ManifestTable.deleteMor(spark, a, col("o_orderkey") % 9 === 0)
    ManifestTable.purgeDeletes(spark, a)
    LakeOps.maintainJoinAggAndReregister(spark, a, b, jmart, amart,
      "o_custkey", "c_custkey", "c_mktsegment", "o_totalprice")
    try {
      def joined = ManifestTable.read(spark, a)
        .join(ManifestTable.read(spark, b), col("o_custkey") === col("c_custkey"))
      val truth = orders
        .filter(col("o_orderkey") % 3 =!= 2 && col("o_orderkey") % 9 =!= 0)
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), ExactSums.dsum(col("o_totalprice")).as("t"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val q = joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), ExactSums.dsum(col("o_totalprice")).as("t"))
      val leaves = scansUnder(q)
      assert(leaves.exists(_.contains(name(amart))),
        s"the join-agg must scan the AGG mart:\n${q.queryExecution.executedPlan}")
      assert(!leaves.exists(l => l.contains(name(a)) || l.contains(name(b)) ||
        l.contains(name(jmart))),
        "neither fact nor the join mart may be scanned for the composed aggregate")
      assert(q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2))).toSet === truth,
        "agg-mart-served values must equal the from-scratch join-agg")
      // the BARE join still routes one tier down, to the join mart
      val bj = scansUnder(joined)
      assert(bj.exists(_.contains(name(jmart))) && !bj.exists(_.contains(name(amart))))
      // a side-filtered join-agg refuses the composition (group
      // preservation across a join is unproven) — it rides the join
      // mart instead, never the agg mart
      val filtered = ManifestTable.read(spark, a).filter(col("o_totalprice") > 0)
        .join(ManifestTable.read(spark, b), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      val fl = scansUnder(filtered)
      assert(!fl.exists(_.contains(name(amart))),
        "a filtered join-agg must not serve from the agg mart")
      assert(fl.exists(_.contains(name(jmart))),
        "the filtered join itself still routes to the join mart")
      // a different grouping key refuses the agg mart but keeps the join rewrite
      val other = joined.groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      val ol = scansUnder(other)
      assert(!ol.exists(_.contains(name(amart))) && ol.exists(_.contains(name(jmart))))
    } finally {
      MartRewrite.deregister(a)
      MartRewrite.deregister(b)
      MartRewrite.deregister(jmart)
    }
  }
}
