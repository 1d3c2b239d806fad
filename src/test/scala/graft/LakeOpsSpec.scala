package graft

import org.apache.spark.sql.functions._

/** Semantic pins for sequence packing, SCD2 history, and merge/upsert
  * (value-level correctness is oracle-checked by the driver; these assert
  * the invariants a hash compare can't express — exact block fills,
  * non-overlapping validity intervals, MERGE branch semantics) plus the
  * one-exchange plan shapes the ops promise.
  */
class LakeOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("pack1 blocks fill exactly: interior blocks = 512 tokens, per-doc spans sum to its token count") {
    val out = q("pack1_sequence_packing").cache()
    try {
      // every block except each shard's last carries exactly 512 tokens
      val fills = out.groupBy("shard", "block_id")
        .agg(sum("tokens_in_block").as("fill"))
      val lastBlock = fills.groupBy("shard").agg(max("block_id").as("last_id"))
      val interiorBad = fills.join(lastBlock, "shard")
        .filter(col("block_id") < col("last_id") && col("fill") =!= 512)
        .count()
      assert(interiorBad === 0, "every interior block must be exactly full")
      // packing loses no tokens: per-document spans reassemble the document
      val perDoc = out.groupBy("doc_id").agg(sum("tokens_in_block").as("packed"))
      val truth = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      assert(perDoc.join(truth, "doc_id").filter(col("packed") =!= col("n")).count() === 0)
      // block ids are dense from 0 within each shard
      val gaps = fills.groupBy("shard")
        .agg(min("block_id").as("lo"), max("block_id").as("hi"), count(lit(1)).as("n"))
        .filter(col("lo") =!= 0 || col("n") =!= col("hi") + 1)
      assert(gaps.count() === 0, "block ids must be dense per shard")
    } finally out.unpersist()
  }

  test("pack2 next-fit bins respect document boundaries and the capacity") {
    val out = q("pack2_document_packing").cache()
    try {
      // every document appears exactly once, whole
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      assert(out.count() === docs.filter(col("n") > 0).count())
      assert(out.join(docs, "doc_id").filter(col("n_tokens") =!= col("n")).count() === 0)
      // no bin holding >1 document exceeds capacity (single oversized
      // documents legitimately may)
      val bins = out.groupBy("shard", "bin_id")
        .agg(sum("n_tokens").as("tot"), count(lit(1)).as("cnt"))
      assert(bins.filter(col("cnt") > 1 && col("tot") > 512).count() === 0)
      // deterministic: a second evaluation is identical
      assert(q("pack2_document_packing").exceptAll(out).count() === 0,
        "packing must be deterministic across evaluations")
      val gaps = bins.groupBy("shard")
        .agg(min("bin_id").as("lo"), max("bin_id").as("hi"), count(lit(1)).as("nb"))
        .filter(col("lo") =!= 0 || col("nb") =!= col("hi") + 1)
      assert(gaps.count() === 0, "bin ids must be dense per shard")
    } finally out.unpersist()
  }

  test("scd1 intervals partition each customer's timeline: contiguous, non-overlapping, one open row") {
    val out = q("scd1_scd2_history").cache()
    try {
      // exactly one current (open) interval per customer
      val multiOpen = out.filter(col("is_current"))
        .groupBy("o_custkey").count().filter(col("count") =!= 1).count()
      assert(multiOpen === 0)
      // intervals chain: valid_to equals the next interval's valid_from
      // (lead over the same ordering), so they neither overlap nor gap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("valid_from")
      val broken = out
        .withColumn("next_from", lead(col("valid_from"), 1).over(w))
        .filter(col("next_from").isNotNull && col("valid_to") =!= col("next_from"))
        .count()
      assert(broken === 0, "validity intervals must chain without gap or overlap")
      // consecutive intervals always change state (runs were collapsed)
      val sameRun = out
        .withColumn("next_status", lead(col("status"), 1).over(w))
        .filter(col("next_status").isNotNull && col("status") === col("next_status"))
        .count()
      assert(sameRun === 0, "adjacent intervals must differ in status")
      // history starts at the customer's first observation
      val firstObs = Tables.load(spark, dir, "orders")
        .groupBy("o_custkey").agg(min("o_orderdate").as("first_obs"))
      val startBad = out.groupBy("o_custkey").agg(min("valid_from").as("first_from"))
        .join(firstObs, "o_custkey")
        .filter(col("first_from") =!= col("first_obs")).count()
      assert(startBad === 0)
    } finally out.unpersist()
  }

  test("mrg1 merge branches: updates accumulate, inserts appear, carries pass through") {
    val orders = Tables.load(spark, dir, "orders")
    val cutLo = lit("1996-01-01").cast("timestamp")
    val cutHi = lit("1996-07-01").cast("timestamp")
    val tgt = ops.LakeOps.latestState(orders.filter(col("o_orderdate") < cutLo),
      "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey").cache()
    val src = ops.LakeOps.latestState(
      orders.filter(col("o_orderdate") >= cutLo && col("o_orderdate") < cutHi),
      "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey").cache()
    val out = q("mrg1_merge_upsert").cache()
    try {
      // fixture must exercise all three branches
      val updKeys = tgt.join(src, "o_custkey").select(tgt("o_custkey"))
      val insKeys = src.join(tgt, Seq("o_custkey"), "left_anti").select("o_custkey")
      val carryKeys = tgt.join(src, Seq("o_custkey"), "left_anti").select("o_custkey")
      assert(updKeys.count() > 0 && insKeys.count() > 0 && carryKeys.count() > 0,
        "fixture must hit update, insert, and carry branches")
      // key set is the exact union
      assert(out.count() === tgt.select("o_custkey").union(src.select("o_custkey")).distinct().count())
      // update branch: counts accumulate, source wins the state columns
      val upd = out.join(updKeys, "o_custkey")
        .join(tgt.select(col("o_custkey"), col("n_orders").as("t_n")), "o_custkey")
        .join(src.select(col("o_custkey"), col("n_orders").as("s_n"),
          col("status").as("s_status")), "o_custkey")
      assert(upd.filter(col("n_orders") =!= col("t_n") + col("s_n")).count() === 0)
      assert(upd.filter(col("status") =!= col("s_status")).count() === 0)
      // insert branch: source rows verbatim
      assert(out.join(insKeys, "o_custkey").exceptAll(src.join(insKeys, "o_custkey")).count() === 0)
      // carry branch: target rows verbatim
      assert(out.join(carryKeys, "o_custkey").exceptAll(tgt.join(carryKeys, "o_custkey")).count() === 0)
    } finally { out.unpersist(); tgt.unpersist(); src.unpersist() }
  }

  test("scd2Snapshot treats NULL as a state value: X->NULL opens an interval, NULL->NULL collapses") {
    import spark.implicits._
    val obs = Seq(
      (1L, Some("A"), 10L, 1L), (1L, None, 20L, 2L),      // A -> NULL: change
      (1L, None, 30L, 3L),                                 // NULL -> NULL: run
      (1L, Some("B"), 40L, 4L),                            // NULL -> B: change
      (2L, Option.empty[String], 10L, 5L),                 // history starts at NULL
      (2L, None, 20L, 6L)
    ).toDF("k", "state", "ts", "id")
    val hist = ops.LakeOps.scd2Snapshot(obs, "k", "state", "ts", "id")
      .orderBy("k", "valid_from")
      .select("k", "status", "valid_from", "is_current")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2), r.getBoolean(3)))
    assert(hist.toSeq === Seq(
      (1L, Some("A"), 10L, false),
      (1L, None, 20L, false),     // the NULL run is ONE interval, not zero
      (1L, Some("B"), 40L, true),
      (2L, None, 10L, true)))     // a key whose whole history is NULL still appears
  }

  test("mergeUpsert: a source row whose takeLatest value is NULL overwrites the target (MERGE semantics)") {
    import spark.implicits._
    val tgt = Seq((1L, Some("old"), 5L), (2L, Some("keep"), 7L)).toDF("k", "state", "n")
    val src = Seq((1L, Option.empty[String], 2L)).toDF("k", "state", "n")
    val out = ops.LakeOps.mergeUpsert(tgt, src, "k", Seq("state"), Seq("n"))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, None, 7L),          // source present: its NULL wins, counts accumulate
      (2L, Some("keep"), 7L))) // source absent: target carried through
  }

  test("compactTable rewrites many small files into few, content byte-identical, swap dirs cleaned") {
    val tmp = java.nio.file.Files.createTempDirectory("compact_test")
    try {
      val path = s"$tmp/t"
      val orders = Tables.load(spark, dir, "orders")
      orders.repartition(64).write.parquet(path) // the streaming-append pathology
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files() = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      val before = files()
      assert(before.length === 64)
      val total = before.map(_.getLen).sum
      val n = ops.LakeOps.compactTable(spark, path, targetFileBytes = total / 4)
      assert(n === files().length && n >= 3 && n <= 6,
        s"expected ~4 files after compaction, got $n")
      // relational content untouched, both directions
      val after = spark.read.parquet(path)
      assert(after.exceptAll(orders).count() === 0 && orders.exceptAll(after).count() === 0)
      // no swap residue
      assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__staging")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__retired")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("compactTable recovers a crash between retire and promote, from either side") {
    val tmp = java.nio.file.Files.createTempDirectory("compact_recover")
    try {
      val fs = new org.apache.hadoop.fs.Path(tmp.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val orders = Tables.load(spark, dir, "orders")
      def mkCrashState(path: String, stagingComplete: Boolean): Unit = {
        // simulate the window where `path` is gone: data written to
        // __staging, live table renamed aside to __retired, promote never ran
        orders.repartition(4).write.parquet(path + "__staging")
        orders.repartition(8).write.parquet(path + "__retired")
        if (!stagingComplete)
          fs.delete(new org.apache.hadoop.fs.Path(path + "__staging", "_SUCCESS"), false)
      }
      // complete staging → promoted (keeps the already-paid rewrite)
      val p1 = s"$tmp/t1"
      mkCrashState(p1, stagingComplete = true)
      val n1 = ops.LakeOps.compactTable(spark, p1, targetFileBytes = Long.MaxValue)
      assert(n1 === 1)
      val r1 = spark.read.parquet(p1)
      assert(r1.exceptAll(orders).count() === 0 && orders.exceptAll(r1).count() === 0)
      // partial staging (no _SUCCESS) → retired copy restored
      val p2 = s"$tmp/t2"
      mkCrashState(p2, stagingComplete = false)
      val n2 = ops.LakeOps.compactTable(spark, p2, targetFileBytes = Long.MaxValue)
      assert(n2 === 1)
      val r2 = spark.read.parquet(p2)
      assert(r2.exceptAll(orders).count() === 0 && orders.exceptAll(r2).count() === 0)
      // nothing recoverable → loud failure, not a silent empty table
      intercept[IllegalArgumentException] {
        ops.LakeOps.compactTable(spark, s"$tmp/missing", targetFileBytes = 1L)
      }
      Seq(p1, p2).foreach { p =>
        assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "__staging")))
        assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "__retired")))
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("plan shapes: scd1 clusters once; pack1 shuffles only on shard; mrg1 joins full-outer on the key") {
    val scdPlan = q("scd1_scd2_history").queryExecution.executedPlan.toString
    assert(scdPlan.split("Exchange hashpartitioning").length - 1 === 1,
      "scd2's two windows must share one key-clustered exchange")
    val packPlan = q("pack1_sequence_packing").queryExecution.executedPlan.toString
    assert(packPlan.split("Exchange hashpartitioning").length - 1 === 1,
      "packing must exchange once, on the shard id")
    assert(!packPlan.contains("Exchange SinglePartition"),
      "packing must never serialize into a global sort")
    val mrgPlan = q("mrg1_merge_upsert").queryExecution.executedPlan.toString
    assert(mrgPlan.contains("FullOuter"), "merge must plan a full-outer join")
    assert(!mrgPlan.toLowerCase.contains("cartesian"))
  }

  test("maintainAggMart: incremental result equals rebuild bit-exactly; cursor rides the merge; no-op when caught up") {
    import graft.sources.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    def root() = java.nio.file.Files.createTempDirectory("ivm").toString
    val src = root(); val mart = root()
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    ManifestTable.create(spark, src, orders.filter(col("o_orderstatus") === "F"))
    val (c0, n0) = graft.ops.LakeOps.maintainAggMartTotal(spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    assert(c0 === 1L && n0 === orders.filter(col("o_orderstatus") === "F").count())
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") =!= "F"))
    val (c1, n1) = graft.ops.LakeOps.maintainAggMartTotal(spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    assert(c1 === 2L && n1 === orders.filter(col("o_orderstatus") =!= "F").count())
    // the consumed cursor rides the mart commit's metadata atomically
    val tipMeta = ManifestTable.manifestMeta(spark, mart,
      ManifestTable.versions(spark, mart).max)
    assert(tipMeta("txn-aggmart-total") === "2")
    // caught up: returns without committing a new mart version
    val before = ManifestTable.versions(spark, mart).max
    val (c2, n2) = graft.ops.LakeOps.maintainAggMartTotal(spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    assert(c2 === 2L && n2 === 0L)
    assert(ManifestTable.versions(spark, mart).max === before)
    // maintained mart == from-scratch aggregate, including the DOUBLE
    // rendering of the decimal total (associativity of exact partials)
    val maintained = ManifestTable.read(spark, mart)
      .select(col("o_orderstatus"), col("n_rows"), col("total").cast("double").as("t"))
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    val scratch = orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), graft.ops.ExactSums.dsum(col("o_totalprice")).as("t"))
      .as[(String, Long, Double)].collect().map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(maintained === scratch)
    // a non-append source change surfaces the full-refresh contract
    ManifestTable.overwrite(spark, src, orders.limit(3))
    val e = intercept[graft.sources.NotDeltaExpressible] {
      graft.ops.LakeOps.maintainAggMartTotal(spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    }
    assert(e.getMessage.contains("non-append"))
  }

  test("maintainAggMartTotal: survives MOR deletes, MERGE, and COMPACT; equals rebuild; groups vanish at zero") {
    import graft.sources.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    def root() = java.nio.file.Files.createTempDirectory("ivmt").toString
    val src = root(); val mart = root()
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, src, f)
    ManifestTable.enableRowTracking(spark, src)
    graft.ops.LakeOps.maintainAggMartTotal(spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    // a window lake11's maintainer must full-refresh on: MOR delete,
    // MERGE upsert (reprice + O inserts), and a full COMPACT
    ManifestTable.deleteMor(spark, src, col("o_custkey") % 5 === 0)
    val updates = f.filter(col("o_custkey") % 5 =!= 0)
      .filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .unionByName(orders.filter(col("o_orderstatus") === "O"))
    ManifestTable.merge(spark, src, updates, "o_orderkey")
    ManifestTable.compact(spark, src, 64L * 1024 * 1024)
    val (tip, _) = graft.ops.LakeOps.maintainAggMartTotal(
      spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("o_orderstatus"), col("n_rows"), col("total").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    val maintained = snap(ManifestTable.read(spark, mart))
    val rebuild = snap(ManifestTable.read(spark, src).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        graft.ops.ExactSums.dsumPartial(col("o_totalprice"))
          .cast(org.apache.spark.sql.types.DecimalType(28, 4)).as("total")))
    assert(maintained === rebuild, "maintained mart must equal rebuild bit-exactly")
    // caught up: no commit; crash replay of the same window: no-op
    val before = ManifestTable.versions(spark, mart).max
    assert(graft.ops.LakeOps.maintainAggMartTotal(
      spark, src, mart, Seq("o_orderstatus"), "o_totalprice") === ((tip, 0L)))
    assert(ManifestTable.versions(spark, mart).max === before)
    // a group emptied entirely vanishes from the mart (rebuild parity)
    ManifestTable.deleteMor(spark, src, col("o_orderstatus") === "O")
    graft.ops.LakeOps.maintainAggMartTotal(spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    assert(ManifestTable.read(spark, mart)
      .filter(col("o_orderstatus") === "O").count() === 0,
      "a zero-count group must leave the mart")
    assert(snap(ManifestTable.read(spark, mart)) ===
      snap(ManifestTable.read(spark, src).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.ops.ExactSums.dsumPartial(col("o_totalprice"))
            .cast(org.apache.spark.sql.types.DecimalType(28, 4)).as("total"))))
  }

  test("maintainAggMartKeys: composite-key mart maintains through append + MOR delete; equals rebuild; replay no-op") {
    import graft.sources.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    def root() = java.nio.file.Files.createTempDirectory("ivmk").toString
    val src = root(); val mart = root()
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val keys = Seq("o_orderstatus", "o_orderpriority")
    def maintain() = graft.ops.LakeOps.maintainAggMartTotal(
      spark, src, mart, keys, "o_totalprice")
    ManifestTable.create(spark, src, orders.filter(col("o_orderstatus") === "F"))
    maintain()
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("n_rows"), col("total").cast("double"))
      .as[(String, String, Long, Double)].collect().toSet
    def rebuild() = snap(ManifestTable.read(spark, src)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        graft.ops.ExactSums.dsumPartial(col("o_totalprice"))
          .cast(org.apache.spark.sql.types.DecimalType(28, 4)).as("total")))
    assert(snap(ManifestTable.read(spark, mart)) === rebuild(), "bootstrap")
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") === "O"))
    ManifestTable.deleteMor(spark, src, col("o_custkey") % 4 === 0)
    val (tip, n) = maintain()
    assert(n > 0)
    assert(snap(ManifestTable.read(spark, mart)) === rebuild(),
      "composite-key maintained mart must equal rebuild bit-exactly")
    // caught up / replay: no commit
    val before = ManifestTable.versions(spark, mart).max
    assert(maintain() === ((tip, 0L)))
    assert(ManifestTable.versions(spark, mart).max === before)
    // a (status, priority) group emptied entirely leaves the mart
    ManifestTable.deleteMor(spark, src, col("o_orderstatus") === "O")
    maintain()
    assert(ManifestTable.read(spark, mart)
      .filter(col("o_orderstatus") === "O").count() === 0)
    assert(snap(ManifestTable.read(spark, mart)) === rebuild())
  }

  test("maintainMinMaxMart: interior deletes fold free; extremum deletes recompute ONLY affected groups; equals rebuild") {
    import graft.sources.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    def root() = java.nio.file.Files.createTempDirectory("ivmm").toString
    val src = root(); val mart = root()
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    ManifestTable.create(spark, src, orders)
    graft.ops.LakeOps.maintainMinMaxMart(spark, src, mart, "o_orderstatus", "o_totalprice")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("o_orderstatus"), col("n_rows"),
        col("vmin").cast("double"), col("vmax").cast("double"))
      .as[(String, Long, Double, Double)].collect().toSet
    def rebuild() = snap(ManifestTable.read(spark, src).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("vmin"), max(col("o_totalprice")).as("vmax")))
    assert(snap(ManifestTable.read(spark, mart)) === rebuild(), "bootstrap")
    // window 1: inserts only — pure fold, zero recomputes, new global min
    ManifestTable.append(spark, src,
      orders.filter(col("o_orderkey") % 7 === 3)
        .withColumn("o_totalprice", lit(1.0).cast(
          orders.schema("o_totalprice").dataType)))
    val (_, _, r1) = graft.ops.LakeOps.maintainMinMaxMart(
      spark, src, mart, "o_orderstatus", "o_totalprice")
    assert(r1 === 0L, "insert-only windows must not recompute any group")
    assert(snap(ManifestTable.read(spark, mart)) === rebuild())
    // window 2: strictly-INTERIOR deletes — bounds provably valid, no
    // recompute (1.0 floors every group's min; maxes all exceed 60000)
    ManifestTable.deleteMor(spark, src,
      col("o_totalprice") > 20000 && col("o_totalprice") < 30000)
    val (_, _, r2) = graft.ops.LakeOps.maintainMinMaxMart(
      spark, src, mart, "o_orderstatus", "o_totalprice")
    assert(r2 === 0L, "interior deletes must keep the stored bounds valid")
    assert(snap(ManifestTable.read(spark, mart)) === rebuild())
    // window 3: delete ONE group's maximum row — exactly that group
    // recomputes, every other group folds free
    val fMax = ManifestTable.read(spark, src).filter(col("o_orderstatus") === "F")
      .agg(max("o_totalprice")).head.getDouble(0)
    ManifestTable.deleteMor(spark, src,
      col("o_orderstatus") === "F" && col("o_totalprice") === fMax)
    val (_, _, r3) = graft.ops.LakeOps.maintainMinMaxMart(
      spark, src, mart, "o_orderstatus", "o_totalprice")
    assert(r3 === 1L, s"exactly the F group must recompute, got $r3")
    assert(snap(ManifestTable.read(spark, mart)) === rebuild())
    // window 4: empty a whole group — it recomputes to nothing and
    // LEAVES the mart; crash replay is a no-op
    ManifestTable.deleteMor(spark, src, col("o_orderstatus") === "P")
    val (tip, _, _) = graft.ops.LakeOps.maintainMinMaxMart(
      spark, src, mart, "o_orderstatus", "o_totalprice")
    assert(ManifestTable.read(spark, mart)
      .filter(col("o_orderstatus") === "P").count() === 0,
      "an emptied group must leave the mart")
    assert(snap(ManifestTable.read(spark, mart)) === rebuild())
    val before = ManifestTable.versions(spark, mart).max
    assert(graft.ops.LakeOps.maintainMinMaxMart(
      spark, src, mart, "o_orderstatus", "o_totalprice") === ((tip, 0L, 0L)))
    assert(ManifestTable.versions(spark, mart).max === before)
  }

  test("maintainMirror: incremental windows apply as deltas; a refusal (overwrite, vacuumed cursor) full-refreshes declaratively") {
    import graft.sources.ManifestTable
    def root() = java.nio.file.Files.createTempDirectory("mirr").toString
    val src = root(); val dst = root()
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    def mirrorEquals(): Boolean = {
      val s = ManifestTable.read(spark, src)
      val d = ManifestTable.read(spark, dst)
      d.exceptAll(s).isEmpty && s.exceptAll(d).isEmpty
    }
    def maintain() = graft.ops.LakeOps.maintainMirror(spark, src, dst, "o_orderkey")
    ManifestTable.create(spark, src, orders.filter(col("o_orderstatus") === "F"))
    assert(maintain()._2 === "bootstrap")
    assert(mirrorEquals())
    // append + MOR delete: incremental
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") === "O"))
    ManifestTable.deleteMor(spark, src, col("o_orderkey") % 5 === 0)
    val (tip1, mode1, n1) = maintain()
    assert(mode1 === "incremental" && n1 > 0)
    assert(mirrorEquals())
    // caught up: noop, no mirror commit
    val before = ManifestTable.versions(spark, dst).max
    assert(maintain() === ((tip1, "noop", 0L)))
    assert(ManifestTable.versions(spark, dst).max === before)
    // an OVERWRITE makes the window inexpressible: the maintainer
    // answers with the declared full refresh instead of throwing
    ManifestTable.overwrite(spark, src, orders.filter(col("o_orderstatus") === "P"))
    val (_, mode2, _) = maintain()
    assert(mode2 === "full_refresh")
    assert(mirrorEquals())
    // and the NEXT window is incremental again from the refresh point
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") === "F").limit(20))
    val (_, mode3, _) = maintain()
    assert(mode3 === "incremental")
    assert(mirrorEquals())
    // a cursor the source vacuumed past is a refusal too: full refresh
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") === "O").limit(10))
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") === "O").limit(5))
    ManifestTable.vacuum(spark, src, keepVersions = 1)
    val (_, mode4, _) = maintain()
    assert(mode4 === "full_refresh", s"vacuumed cursor must refresh, got $mode4")
    assert(mirrorEquals())
  }

  test("maintainer bootstraps scan their source once") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    def root() = java.nio.file.Files.createTempDirectory("boot").toString
    val s = spark.newSession()
    val orders = Tables.load(s, "/root/testdata/sf0.001", "orders")
    val cust = Tables.load(s, "/root/testdata/sf0.001", "customer")
    val src = root(); val dim = root()
    ManifestTable.create(s, src, orders)
    ManifestTable.create(s, dim, cust)
    val n = orders.count()
    val joinRows = orders.join(cust, col("o_custkey") === col("c_custkey")).count()
    // SQL executions whose plan reads a file under the source root
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    def readsSrc(qe: QueryExecution): Boolean = qe.analyzed.collectFirst {
      case lr: LogicalRelation if (lr.relation match {
        case fsr: HadoopFsRelation =>
          fsr.location.rootPaths.exists(_.toUri.getPath.startsWith(src + "/"))
        case _ => false
      }) => ()
    }.isDefined
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (readsSrc(qe)) scans.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (readsSrc(qe)) scans.incrementAndGet()
    }
    def sourceScans(body: => Unit): Int = {
      org.apache.spark.SpecListeners.drain(s.sparkContext)
      val before = scans.get
      body
      org.apache.spark.SpecListeners.drain(s.sparkContext)
      scans.get - before
    }
    s.listenerManager.register(listener)
    try {
      assert(sourceScans {
        assert(graft.ops.LakeOps.maintainMirror(s, src, root(), "o_orderkey") ===
          ((1L, "bootstrap", n)))
      } === 1, "mirror bootstrap")
      assert(sourceScans {
        assert(graft.ops.LakeOps.maintainAggMartTotal(s, src, root(),
          Seq("o_orderstatus", "o_orderpriority"), "o_totalprice") === ((1L, n)))
      } === 1, "composite-key agg mart bootstrap")
      assert(sourceScans {
        assert(graft.ops.LakeOps.maintainMinMaxMart(s, src, root(),
          "o_orderstatus", "o_totalprice") === ((1L, n, 0L)))
      } === 1, "min/max mart bootstrap")
      assert(sourceScans {
        assert(graft.ops.LakeOps.maintainJoinMart(s, src, dim, root(),
          "o_custkey", "c_custkey") === ((1L, 1L, joinRows)))
      } === 1, "join mart bootstrap")
    } finally s.listenerManager.unregister(listener)
  }

  test("maintainAggMartTotal untracked: append+MOR-delete windows maintain; a MERGE window demands tracking") {
    import graft.sources.ManifestTable
    def root() = java.nio.file.Files.createTempDirectory("ivmt2").toString
    val src = root(); val mart = root()
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val f = orders.filter(col("o_orderstatus") === "F")
    ManifestTable.create(spark, src, f) // NOT row-tracked
    graft.ops.LakeOps.maintainAggMartTotal(spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    ManifestTable.append(spark, src, orders.filter(col("o_orderstatus") === "O"))
    ManifestTable.deleteMor(spark, src, col("o_orderkey") % 3 === 0)
    graft.ops.LakeOps.maintainAggMartTotal(spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    val expect = orders.filter(col("o_orderstatus") isin ("F", "O"))
      .filter(col("o_orderkey") % 3 =!= 0).count()
    assert(ManifestTable.read(spark, mart)
      .agg(org.apache.spark.sql.functions.sum("n_rows")).first().getLong(0) === expect)
    // the positional feed cannot express a merge: full refresh demanded
    ManifestTable.merge(spark, src,
      f.filter(col("o_orderkey") % 3 =!= 0).limit(5)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0), "o_orderkey")
    val e = intercept[graft.sources.NotDeltaExpressible] {
      graft.ops.LakeOps.maintainAggMartTotal(spark, src, mart, Seq("o_orderstatus"), "o_totalprice")
    }
    assert(e.getMessage.contains("full refresh"), e.getMessage)
  }

  test("maintainJoinMart: delta-join maintenance equals the from-scratch join; both cursors atomic; zero-delta advances") {
    import graft.sources.ManifestTable
    def root() = java.nio.file.Files.createTempDirectory("ivmj").toString
    val a = root(); val b = root(); val mart = root()
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val cust = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    ManifestTable.create(spark, a, orders.filter(col("o_orderstatus") === "F"))
    ManifestTable.create(spark, b, cust.filter(col("c_custkey") % 2 === 0))
    def maintain() = graft.ops.LakeOps.maintainJoinMart(
      spark, a, b, mart, "o_custkey", "c_custkey")
    maintain()
    // both sides advance between passes — the dA⋈B_new leg must see the
    // NEW B (it contains dA⋈dB), the A_prev⋈dB leg the OLD A
    ManifestTable.append(spark, a, orders.filter(col("o_orderstatus") =!= "F"))
    ManifestTable.append(spark, b, cust.filter(col("c_custkey") % 2 === 1))
    val (ca, cb, _) = maintain()
    assert(ca === 2L && cb === 2L)
    val tipMeta = ManifestTable.manifestMeta(spark, mart,
      ManifestTable.versions(spark, mart).max)
    assert(tipMeta("join-cursor-a") === "2" && tipMeta("join-cursor-b") === "2",
      "both cursors must ride the same mart commit")
    // maintained == from-scratch, exact content not just counts
    val scratch = orders.join(cust, col("o_custkey") === col("c_custkey"))
    assert(ManifestTable.read(spark, mart).exceptAll(scratch).isEmpty &&
      scratch.exceptAll(ManifestTable.read(spark, mart)).isEmpty)
    // caught up: no commit
    val before = ManifestTable.versions(spark, mart).max
    val (_, _, n) = maintain()
    assert(n === 0L && ManifestTable.versions(spark, mart).max === before)
    // an advance with ZERO matching join rows still commits — the
    // cursors must move or these deltas would be rescanned forever
    ManifestTable.append(spark, b, cust.limit(0)) // empty append advances B's version
    val (_, cb2, n2) = maintain()
    assert(cb2 === 3L && n2 === 0L)
    assert(ManifestTable.versions(spark, mart).max === before + 1)
    assert(ManifestTable.manifestMeta(spark, mart,
      ManifestTable.versions(spark, mart).max)("join-cursor-b") === "3")
    // non-append lineage on either source refuses (full-refresh contract)
    ManifestTable.overwrite(spark, a, orders.limit(2))
    val e = intercept[graft.sources.NotDeltaExpressible] { maintain() }
    assert(e.getMessage.contains("non-append"))
  }

  test("maintainJoinMartTotal: MOR deletes and MERGE on the facts maintain the join mart; equals rebuild; cursors survive OPTIMIZE") {
    import graft.sources.ManifestTable
    def root() = java.nio.file.Files.createTempDirectory("ivmjt").toString
    val a = root(); val b = root(); val mart = root()
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val cust = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    ManifestTable.create(spark, a, orders.filter(col("o_orderstatus") === "F"))
    ManifestTable.enableRowTracking(spark, a) // MERGE in the window needs ids
    ManifestTable.create(spark, b, cust)
    def maintain() = graft.ops.LakeOps.maintainJoinMartTotal(
      spark, a, b, mart, "o_custkey", "c_custkey")
    def scratch = ManifestTable.read(spark, a)
      .join(ManifestTable.read(spark, b), col("o_custkey") === col("c_custkey"))
    def assertFresh(): Unit = {
      val m = ManifestTable.read(spark, mart)
      assert(m.exceptAll(scratch).isEmpty && scratch.exceptAll(m).isEmpty,
        "maintained join mart must equal the from-scratch join")
    }
    maintain()
    assertFresh()
    // the window readChangesSince must full-refresh on: an append PLUS a
    // MOR delete PLUS a MERGE upsert on A, and a MOR delete on B
    ManifestTable.append(spark, a, orders.filter(col("o_orderstatus") === "O"))
    ManifestTable.deleteMor(spark, a, col("o_custkey") % 7 === 0)
    val updates = orders.filter(col("o_orderstatus") === "F")
      .filter(col("o_custkey") % 7 =!= 0 && col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    ManifestTable.merge(spark, a, updates, "o_orderkey")
    ManifestTable.deleteMor(spark, b, col("c_mktsegment") === "BUILDING")
    val (ca, cb, _) = maintain()
    assertFresh()
    // caught up: no mart commit
    val before = ManifestTable.versions(spark, mart).max
    val (ca2, cb2, n2) = maintain()
    assert((ca2, cb2, n2) === ((ca, cb, 0L)))
    assert(ManifestTable.versions(spark, mart).max === before)
    // cursors are txn-carried: an OPTIMIZE on the MART cannot lose them
    ManifestTable.compactSmall(spark, mart, 64L * 1024 * 1024, 64L * 1024 * 1024)
    ManifestTable.deleteMor(spark, a, col("o_orderkey") % 13 === 0)
    maintain()
    assertFresh()
  }

  test("maintainNearDupPairs: the pairs mart equals the from-scratch uncapped jaccard after every window; replay no-op; OPTIMIZE keeps the cursor") {
    import graft.sources.ManifestTable
    import graft.ops.{DedupOps, LakeOps}
    val docsR = java.nio.file.Files.createTempDirectory("nd_docs").toString
    val idxR = java.nio.file.Files.createTempDirectory("nd_idx").toString
    val pairsR = java.nio.file.Files.createTempDirectory("nd_pairs").toString
    val docs = Tables.load(spark, dir, "documents")
    def slice(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
    def maintain() = LakeOps.maintainNearDupPairs(
      spark, docsR, idxR, pairsR, "doc_id", "text")
    def assertScratch(): Unit = {
      val scratch = DedupOps.ngramJaccardPairs(ManifestTable.read(spark, docsR),
        "doc_id", "text", n = 3, minShared = 2L, minJaccard = 0.1, maxShingleFreq = None)
      val m = ManifestTable.read(spark, pairsR)
      assert(m.exceptAll(scratch).isEmpty && scratch.exceptAll(m).isEmpty,
        "maintained pairs must equal the from-scratch uncapped jaccard pairs")
    }
    ManifestTable.create(spark, docsR, slice(0))
    maintain() // bootstrap
    assertScratch()
    ManifestTable.append(spark, docsR, slice(1))
    val (c1, d1, _) = maintain()
    assert(d1 === slice(1).count(), "window 1 must process exactly its batch")
    assertScratch()
    // an OPTIMIZE on BOTH marts between windows: txn-carried cursors
    // survive, the next window is still incremental
    ManifestTable.compactSmall(spark, idxR, 64L * 1024 * 1024, 64L * 1024 * 1024,
      statsColumns = Seq("shingle"))
    ManifestTable.compactSmall(spark, pairsR, 64L * 1024 * 1024, 64L * 1024 * 1024)
    ManifestTable.append(spark, docsR, slice(2))
    val (c2, d2, _) = maintain()
    assert(c2 > c1 && d2 === slice(2).count())
    assertScratch()
    // caught up: replay is a no-op on both marts
    val (idxBefore, pairsBefore) =
      (ManifestTable.versions(spark, idxR).max, ManifestTable.versions(spark, pairsR).max)
    assert(maintain() === ((c2, 0L, 0L)))
    assert(ManifestTable.versions(spark, idxR).max === idxBefore &&
      ManifestTable.versions(spark, pairsR).max === pairsBefore)
    // the index is probe-prunable: every file carries shingle stats, so
    // a provably-absent probe key drops ALL files (at this SF AQE
    // coalesces each window into one file, so a present-key probe can't
    // demonstrate partial pruning — the committed-stats mechanism is
    // what the assert pins)
    val (kept, dropped, _) = ManifestTable.pruneFiles(spark, idxR,
      col("shingle") === "￿￿")
    assert(kept.isEmpty && dropped.nonEmpty,
      "committed shingle stats must prune the whole index for an absent key")
  }

  test("maintainNearDupPairs crash recovery: a leading pairs watermark replays without duplicating; a crashed bootstrap self-heals") {
    import graft.sources.ManifestTable
    import graft.ops.{DedupOps, LakeOps}
    val docs = Tables.load(spark, dir, "documents")
    def slice(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
    def scratchAt(root: String): org.apache.spark.sql.DataFrame =
      DedupOps.ngramJaccardPairs(ManifestTable.read(spark, root),
        "doc_id", "text", n = 3, minShared = 2L, minJaccard = 0.1, maxShingleFreq = None)
    // ---- crashed BOOTSTRAP: pairs created, index missing ----
    locally {
      val docsR = java.nio.file.Files.createTempDirectory("ndc_docs").toString
      val idxR = java.nio.file.Files.createTempDirectory("ndc_idx").toString
      val pairsR = java.nio.file.Files.createTempDirectory("ndc_pairs").toString
      ManifestTable.create(spark, docsR, slice(0))
      // what the maintainer's bootstrap writes FIRST, then "crashes"
      ManifestTable.create(spark, pairsR, scratchAt(docsR),
        meta = Map("txn-neardup" -> "1"))
      // pre-fix this wedged permanently ("already has a manifest log");
      // now it rebuilds the index for the recorded snapshot and proceeds
      ManifestTable.append(spark, docsR, slice(1))
      LakeOps.maintainNearDupPairs(spark, docsR, idxR, pairsR, "doc_id", "text")
      val m = ManifestTable.read(spark, pairsR)
      val sc = scratchAt(docsR)
      assert(m.exceptAll(sc).isEmpty && sc.exceptAll(m).isEmpty,
        "recovered bootstrap must converge to the from-scratch pairs")
    }
    // ---- mid-window crash: pairs landed (watermark leads), index did
    // not, and MORE docs arrive before the replay ----
    locally {
      val docsR = java.nio.file.Files.createTempDirectory("ndw_docs").toString
      val idxR = java.nio.file.Files.createTempDirectory("ndw_idx").toString
      val pairsR = java.nio.file.Files.createTempDirectory("ndw_pairs").toString
      ManifestTable.create(spark, docsR, slice(0))
      LakeOps.maintainNearDupPairs(spark, docsR, idxR, pairsR, "doc_id", "text")
      val v2 = ManifestTable.append(spark, docsR, slice(1))
      // the window's TRUE pairs delta (append-only contract: set diff)
      val before = scratchAt(docsR).exceptAll(
        DedupOps.ngramJaccardPairs(ManifestTable.read(spark, docsR, Some(v2 - 1)),
          "doc_id", "text", n = 3, minShared = 2L, minJaccard = 0.1,
          maxShingleFreq = None))
      // simulate the crash: the pairs append landed, the index append
      // (the cursor) did not
      ManifestTable.appendIdempotent(spark, pairsR, before, "neardup", batchId = v2)
      // docs keep arriving before anyone replays
      ManifestTable.append(spark, docsR, slice(2))
      // pre-fix the replay window ran cursor→tip and RE-APPENDED the v2
      // pairs (batchId tip > pairs watermark); the fix replays exactly
      // cursor→v2 first (pairs no-op), then advances
      LakeOps.maintainNearDupPairs(spark, docsR, idxR, pairsR, "doc_id", "text")
      val m = ManifestTable.read(spark, pairsR)
      val sc = scratchAt(docsR)
      assert(m.exceptAll(sc).isEmpty && sc.exceptAll(m).isEmpty,
        "replay across a leading pairs watermark must not duplicate the in-flight window")
    }
  }

  test("maintainNearDupPairsCapped: cap-crossing shingles retract pairs and shrink sizes; mart equals from-scratch capped truth") {
    import graft.sources.ManifestTable
    import graft.ops.{DedupOps, LakeOps}
    import spark.implicits._
    // hand-built corpus with a DETERMINISTIC cap crossing (n=2, cap=2):
    //  w0: d1,d2 share bigram "x y" (df 2 ≤ cap) → pair (1,2)
    //  w1: d3 brings df("x y") to 3 > cap → the pair RETRACTS and d1/d2
    //      sizes shrink (the uncapped algebra cannot express this)
    //  w2: d4,d5 pair through fresh bigram "z w" (df 2 ≤ cap)
    val docsR = java.nio.file.Files.createTempDirectory("cap_docs").toString
    val idxR = java.nio.file.Files.createTempDirectory("cap_idx").toString
    val szR = java.nio.file.Files.createTempDirectory("cap_sz").toString
    val pairsR = java.nio.file.Files.createTempDirectory("cap_pairs").toString
    def maintain() = LakeOps.maintainNearDupPairsCapped(
      spark, docsR, idxR, szR, pairsR, "doc_id", "text",
      maxShingleFreq = 2L, n = 2, minShared = 1L, minJaccard = 0.01)
    def scratch() = DedupOps.ngramJaccardPairs(ManifestTable.read(spark, docsR),
      "doc_id", "text", n = 2, minShared = 1L, minJaccard = 0.01,
      maxShingleFreq = Some(2L))
    def assertScratch(ctx: String): Unit = {
      val m = ManifestTable.read(spark, pairsR).drop("pair_key")
      val sc = scratch()
      assert(m.exceptAll(sc).isEmpty && sc.exceptAll(m).isEmpty,
        s"$ctx: maintained pairs must equal the from-scratch capped pairs")
    }
    ManifestTable.create(spark, docsR,
      Seq((1L, "x y a"), (2L, "x y b")).toDF("doc_id", "text"))
    maintain()
    assertScratch("bootstrap")
    assert(ManifestTable.read(spark, pairsR).count() === 1L,
      "w0 must pair d1,d2 through the under-cap shingle")
    ManifestTable.append(spark, docsR, Seq((3L, "x y c")).toDF("doc_id", "text"))
    maintain()
    assertScratch("after crossing")
    assert(ManifestTable.read(spark, pairsR).count() === 0L,
      "the cap crossing must RETRACT the pair whose only shared shingle crossed")
    assert(ManifestTable.read(spark, szR).filter(col("doc_id") === 1L)
      .select("n_sh").as[Long].head() === 1L,
      "d1's capped size must shrink when its shingle crosses the cap")
    ManifestTable.append(spark, docsR,
      Seq((4L, "z w k"), (5L, "z w m")).toDF("doc_id", "text"))
    val (c2, d2, _) = maintain()
    assert(d2 === 2L)
    assertScratch("new under-cap pair after a crossing")
    assert(ManifestTable.read(spark, pairsR).count() === 1L)
    // caught up: replay no-op on every mart
    val tips = Seq(idxR, szR, pairsR).map(r => ManifestTable.versions(spark, r).max)
    assert(maintain() === ((c2, 0L, 0L)))
    assert(Seq(idxR, szR, pairsR).map(r =>
      ManifestTable.versions(spark, r).max) === tips)
  }

  test("maintainContaminationSketch: windows OR into the stored words bit-exactly; screen equals bloomScreen; params pinned") {
    import graft.sources.ManifestTable
    import graft.ops.{ContaminationOps, LakeOps}
    graft.functions.NativeExpressions.register(spark)
    val docs = Tables.load(spark, dir, "documents")
    val probes = docs.filter(col("doc_id") < 50 && length(col("text")) >= 20)
      .select(col("doc_id").as("probe_id"), substring(col("text"), 1, 20).as("probe"))
    val pRoot = java.nio.file.Files.createTempDirectory("ctm_probes").toString
    val sRoot = java.nio.file.Files.createTempDirectory("ctm_sketch").toString
    def slice(i: Int) = probes.filter(pmod(col("probe_id"), lit(2)) === i)
    def maintain() = LakeOps.maintainContaminationSketch(spark, pRoot, sRoot, "probe")
    ManifestTable.create(spark, pRoot, slice(0))
    maintain() // bootstrap
    ManifestTable.append(spark, pRoot, slice(1))
    val (c1, n1) = maintain()
    assert(n1 === slice(1).count())
    // bitwise equality with the from-scratch filter
    val scratch = probes.agg(expr("graft_bloom_build(probe, 65536, 5)").as("w"))
      .collect()(0).getSeq[Long](0)
    val stored = ManifestTable.read(spark, sRoot).collect()(0).getSeq[Long](0)
    assert(stored === scratch, "the OR-fold must be bitwise-identical to re-sketching")
    // replay no-op: no new version lands
    val before = ManifestTable.versions(spark, sRoot).max
    assert(maintain() === ((c1, 0L)))
    assert(ManifestTable.versions(spark, sRoot).max === before)
    // the screen equals the one-shot bloomScreen over the same probes
    val viaSketch = LakeOps.screenWithContaminationSketch(
      spark, sRoot, pRoot, docs, "doc_id", "text", "probe_id", "probe", probeLen = 20)
    val oneShot = ContaminationOps.bloomScreen(docs, "doc_id", "text",
      probes, "probe_id", "probe", probeLen = 20)
    assert(viaSketch.exceptAll(oneShot).isEmpty && oneShot.exceptAll(viaSketch).isEmpty,
      "the maintained screen must equal the from-scratch bloomScreen")
    // parameter mismatch refuses instead of ORing incompatible words
    ManifestTable.append(spark, pRoot, slice(0).limit(1))
    val e = intercept[IllegalArgumentException] {
      LakeOps.maintainContaminationSketch(spark, pRoot, sRoot, "probe", numBits = 1 << 10)
    }
    assert(e.getMessage.contains("OR soundly"), e.getMessage)
  }

  test("maintainNearDupPairsCapped on the documents corpus: three windows equal the from-scratch capped truth") {
    import graft.sources.ManifestTable
    import graft.ops.{DedupOps, LakeOps}
    val docsR = java.nio.file.Files.createTempDirectory("capd_docs").toString
    val idxR = java.nio.file.Files.createTempDirectory("capd_idx").toString
    val szR = java.nio.file.Files.createTempDirectory("capd_sz").toString
    val pairsR = java.nio.file.Files.createTempDirectory("capd_pairs").toString
    val docs = Tables.load(spark, dir, "documents")
    def slice(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
    def maintain() = LakeOps.maintainNearDupPairsCapped(
      spark, docsR, idxR, szR, pairsR, "doc_id", "text",
      maxShingleFreq = 5L, n = 3, minShared = 2L, minJaccard = 0.1)
    def assertScratch(): Unit = {
      val sc = DedupOps.ngramJaccardPairs(ManifestTable.read(spark, docsR),
        "doc_id", "text", n = 3, minShared = 2L, minJaccard = 0.1,
        maxShingleFreq = Some(5L))
      val m = ManifestTable.read(spark, pairsR).drop("pair_key")
      assert(m.exceptAll(sc).isEmpty && sc.exceptAll(m).isEmpty,
        "maintained capped pairs must equal the from-scratch capped truth")
    }
    ManifestTable.create(spark, docsR, slice(0))
    maintain()
    assertScratch()
    ManifestTable.append(spark, docsR, slice(1))
    maintain()
    assertScratch()
    ManifestTable.append(spark, docsR, slice(2))
    maintain()
    assertScratch()
  }

  test("dd11 recluster cadence: mart files stay bounded across windows, probes prune, content equals capped truth") {
    import graft.sources.ManifestTable
    import graft.ops.{DedupOps, LakeOps}
    val saved = LakeOps.ReclusterFileThreshold
    LakeOps.ReclusterFileThreshold = 6
    try {
      val docsR = java.nio.file.Files.createTempDirectory("rc_docs").toString
      val idxR = java.nio.file.Files.createTempDirectory("rc_idx").toString
      val szR = java.nio.file.Files.createTempDirectory("rc_sz").toString
      val pairsR = java.nio.file.Files.createTempDirectory("rc_pairs").toString
      val docs = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") < 160).select("doc_id", "text").localCheckpoint()
      def slice(i: Int) = docs.filter(pmod(col("doc_id"), lit(8)) === i)
      def maintain() = LakeOps.maintainNearDupPairsCapped(
        spark, docsR, idxR, szR, pairsR, "doc_id", "text",
        maxShingleFreq = 5L, n = 3, minShared = 1L, minJaccard = 0.01)
      ManifestTable.create(spark, docsR, slice(0))
      maintain()
      (1 to 7).foreach { i =>
        ManifestTable.append(spark, docsR, slice(i)); maintain(); ()
      }
      // 8 windows at up to 4 insert files each would leave ~30+
      // overlapping files without the cadence; the recluster bounds the
      // live count near the threshold (threshold + one window's adds)
      val tip = ManifestTable.versions(spark, pairsR).max
      val live = ManifestTable.manifestFiles(spark, pairsR, tip).size
      assert(live <= LakeOps.ReclusterFileThreshold + 8,
        s"pairs-mart files grew unbounded under append-only windows: $live")
      // the probe's pruning survives: a point probe on doc_a reads a
      // bounded subset of even that bounded file set
      val anyPair = ManifestTable.read(spark, pairsR).select("doc_a").limit(1)
        .collect()
      if (anyPair.nonEmpty) {
        val (kept, dropped, _) = ManifestTable.pruneFiles(spark, pairsR,
          col("doc_a") === lit(anyPair(0).get(0)))
        assert(kept.size <= LakeOps.ReclusterFileThreshold,
          s"point probe kept ${kept.size} files (dropped ${dropped.size}) — clustering decayed")
      }
      // and the contract held through every recluster
      val sc = DedupOps.ngramJaccardPairs(ManifestTable.read(spark, docsR),
        "doc_id", "text", n = 3, minShared = 1L, minJaccard = 0.01,
        maxShingleFreq = Some(5L))
      val m = ManifestTable.read(spark, pairsR).drop("pair_key")
      assert(m.exceptAll(sc).isEmpty && sc.exceptAll(m).isEmpty,
        "maintained capped pairs must equal the from-scratch capped truth across reclusters")
    } finally LakeOps.ReclusterFileThreshold = saved
  }

  test("recluster decay bar follows CURRENT bytes: a shrunken mart reclusters again instead of stalling below its historical width") {
    import graft.sources.ManifestTable
    import graft.ops.LakeOps
    val savedT = LakeOps.ReclusterFileThreshold
    val savedB = LakeOps.ReclusterTargetFileBytes
    LakeOps.ReclusterFileThreshold = 4
    LakeOps.ReclusterTargetFileBytes = 32L * 1024
    try {
      val root = java.nio.file.Files.createTempDirectory("rc_shrink").toString
      val li = Tables.load(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity").localCheckpoint()
      def slice(i: Int) = li.filter(pmod(col("l_orderkey"), lit(24)) === i)
      def liveFiles() = {
        val tip = ManifestTable.versions(spark, root).max
        ManifestTable.manifestFiles(spark, root, tip).size
      }
      // FAT phase: 24 append windows; the geometric trigger fires when
      // files exceed 2× the ideal width of the FAT mart — under the
      // retired carried-width semantics this is the phase that would
      // have stored the large width as a permanent trigger floor
      ManifestTable.create(spark, root, slice(0), statsColumns = Seq("l_orderkey"))
      (1 until 24).foreach { i =>
        ManifestTable.append(spark, root, slice(i))
        LakeOps.reclusterIfNeeded(spark, root, "l_orderkey", Seq("l_orderkey"))
      }
      assert(liveFiles() < 24, "the fat phase must have reclustered at least once")
      // SHRINK: heavy-delete compaction leaves a near-empty mart
      ManifestTable.overwrite(spark, root, li.limit(1),
        statsColumns = Seq("l_orderkey"))
      (0 until 6).foreach { _ =>
        ManifestTable.append(spark, root, li.limit(1)); ()
      }
      assert(liveFiles() === 7)
      // the decay bar must follow the mart's CURRENT ideal width (1 file
      // at 32 KB target), not the fat phase's historical width: 7 live
      // files on a 1-row-slice mart IS decayed clustering
      LakeOps.reclusterIfNeeded(spark, root, "l_orderkey", Seq("l_orderkey"))
      assert(liveFiles() <= LakeOps.ReclusterFileThreshold,
        s"post-shrink recluster must fire at 2× the current ideal width, live=${liveFiles()}")
      // and the trigger is STATELESS — no carried width key in meta
      val tip = ManifestTable.versions(spark, root).max
      assert(!ManifestTable.manifestMeta(spark, root, tip).keys
          .exists(_.startsWith("txn-recluster-width")),
        "the recluster trigger must not persist a max-wins width key")
    } finally {
      LakeOps.ReclusterFileThreshold = savedT
      LakeOps.ReclusterTargetFileBytes = savedB
    }
  }

  test("maintainer watermark discovery is O(1) meta reads per window, independent of mart history depth") {
    import graft.sources.ManifestTable
    import graft.ops.LakeOps
    graft.functions.NativeExpressions.register(spark)
    val docs = Tables.load(spark, dir, "documents")
    val probes = docs.filter(col("doc_id") < 200 && length(col("text")) >= 20)
      .select(col("doc_id").as("probe_id"), substring(col("text"), 1, 20).as("probe"))
      .localCheckpoint()
    val pRoot = java.nio.file.Files.createTempDirectory("wm_probes").toString
    val sRoot = java.nio.file.Files.createTempDirectory("wm_sketch").toString
    def slice(i: Int) = probes.filter(pmod(col("probe_id"), lit(24)) === i)
    ManifestTable.create(spark, pRoot, slice(0))
    LakeOps.maintainContaminationSketch(spark, pRoot, sRoot, "probe") // bootstrap
    val meter = ManifestTable.ComposeMeters.metaReads
    def windowCost(i: Int): Long = {
      ManifestTable.append(spark, pRoot, slice(i))
      val before = meter.get()
      LakeOps.maintainContaminationSketch(spark, pRoot, sRoot, "probe")
      meter.get() - before
    }
    // shallow history: sketch mart at ~2 versions, probes at ~2
    val shallow = windowCost(1)
    // deepen both histories by ~15 windows, then measure ONE window again
    (2 to 16).foreach(windowCost)
    val deep = windowCost(17)
    // the tip carries every txn-* watermark (metaWithTxnCarry max-wins),
    // so cursor discovery is ONE meta read at any depth — a history scan
    // would make `deep` exceed `shallow` by ~15 reads per mart
    assert(deep <= shallow,
      s"watermark discovery grew with history: $shallow meta reads at " +
        s"depth~2, $deep at depth~17 — an O(versions) scan crept back in")
    assert(shallow <= 12L,
      s"a single maintenance window took $shallow meta reads — expected a " +
        "small constant (tip watermark + window-bounded change feed)")
  }

  test("maintainJoinMartTotal refuses a mart whose stored watermark predates the tip-sum batchId encoding") {
    import graft.sources.ManifestTable
    import graft.ops.LakeOps
    def root() = java.nio.file.Files.createTempDirectory("oldenc").toString
    val a = root(); val b = root(); val mart = root()
    val orders = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    ManifestTable.create(spark, a, orders.filter(col("o_orderstatus") === "F"))
    ManifestTable.create(spark, b, cust)
    LakeOps.maintainJoinMartTotal(spark, a, b, mart, "o_custkey", "c_custkey")
    // forge the pre-1.0 state: a watermark written under the retired
    // (aTip << 21) | bTip packing — enormous next to any tip sum. An
    // empty exactly-once batch plants it through the public API (the
    // max-wins carry then pins it on the tip forever).
    val ct = "_change_type"
    val emptyFeed = ManifestTable.read(spark, mart).limit(0)
      .withColumn(ct, lit("insert"))
    ManifestTable.applyChangesMor(spark, mart, emptyFeed, "o_custkey",
      "joinmart-total", batchId = (1L << 21) | 1L)
    ManifestTable.append(spark, a, orders.filter(col("o_orderstatus") === "O"))
    // maintenance must refuse LOUDLY with the re-create remedy — the old
    // behavior was a permanent silent no-op (every tip-sum batchId
    // "replays" against the huge stored watermark)
    val e = intercept[IllegalStateException](
      LakeOps.maintainJoinMartTotal(spark, a, b, mart, "o_custkey", "c_custkey"))
    assert(e.getMessage.contains("Re-create the mart"),
      s"refusal must carry the remedy, got: ${e.getMessage}")
  }
}
