package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.ops.ExactSums.dsum
import graft.ops.LakeOps
import graft.sources.ManifestTable

/** A change stream into a manifest table, with readers beside it.
  *
  * One writer applies seeded batches of deletes, updates and inserts
  * through `ManifestTable.applyChangesMor` to an orders-shaped table. A
  * round is [[Cdc.Batches]] batches and then a maintenance window:
  *  - read, before each batch: a point lookup of a key set
  *    (`readPrunedByKeys`, collected) on the table, and the dashboard
  *    aggregate (count and exact sum per status) on the mirror, which
  *    `MartRewrite` serves from the mirror's status mart;
  *  - write: the batch, as one commit;
  *  - maint: drain the change feed into the mirror table with a
  *    streaming query, compact the mirror, bring its status mart up to
  *    date and re-register it for `MartRewrite`
  *    (`LakeOps.maintainAndReregister`), and vacuum the table and the
  *    mirror.
  * The mirror tracks row ids, so its compaction keeps the change feed its
  * mart reads, and after the compaction it has no deletion vector: until
  * the next drain its scans are exactly the registered snapshot, the shape
  * the rewrite serves. The table itself is compacted only at the end: a
  * compaction would end the positional change feed the mirror reads.
  *
  * Every result is checked against the generator's model of the table.
  */
object Cdc extends Workload {
  val Rows = 20000
  val Batches = 8
  val roundSeconds = 25.0
  val Deletes = 100
  val Updates = 100
  val Inserts = 100
  val LookupKeys = 20
  val TargetFileBytes: Long = 256L * 1024
  /** Versions the table keeps: a restarted change-feed query re-plans its
    * last committed window, so the version that window began at must stay. */
  val KeepVersions: Int = Batches + 2

  def setup(h: Harness, dir: String, seed: Long): Instance = new CdcInstance(h, dir, seed)
}

/** One row of the orders-shaped table, as the generator models it. */
final case class OrderRec(customer: Int, day: Int, status: String, cents: Long)

final class CdcInstance(h: Harness, dir: String, seed: Long) extends Instance {
  import Cdc._
  private val spark = h.spark
  private val fact = s"$dir/orders"
  private val mart = s"$dir/mirror_by_status"
  private val mirror = s"$dir/orders_mirror"
  private val checkpoint = s"$dir/mirror_checkpoint"
  private val martName = new java.io.File(mart).getName

  private val Statuses = Array("placed", "shipped", "completed", "return_pending", "returned")
  private val schema = StructType(Seq(
    StructField("order_id", LongType, nullable = false),
    StructField("customer_id", IntegerType),
    StructField("order_date", DateType),
    StructField("status", StringType),
    StructField("amount", DoubleType)))
  private val feedSchema = schema.add(StructField("_change_type", StringType, nullable = false))

  // the generator and its model of the table
  private val rnd = new java.util.SplittableRandom(seed)
  private val model = mutable.LongMap[OrderRec]()
  private val live = new LiveKeys
  private var nextKey = 1L
  private var batchId = 0L
  private var lastTouched: Seq[Long] = Nil
  // the mirror's rows as of the last drain
  private var mirrorSnapshot: Map[Long, (String, Long)] = Map.empty

  private def newRec(): OrderRec = OrderRec(1 + rnd.nextInt(10000), 17532 + rnd.nextInt(365),
    Statuses(rnd.nextInt(Statuses.length)), 100L + rnd.nextInt(50000))

  private def row(k: Long, r: OrderRec, tag: String): Row =
    Row(k, r.customer, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.day.toLong)),
      r.status, r.cents / 100.0, tag)

  private def cents(amount: Double): Long = Math.round(amount * 100)

  private def modelRows: Map[Long, (String, Long)] =
    model.iterator.map { case (k, r) => k -> (r.status, r.cents) }.toMap

  /** (count, cents) per status of (status, cents) rows. */
  private def statusAgg(rows: Iterable[(String, Long)]): Map[String, (Long, Long)] =
    rows.groupBy(_._1).map { case (s, rs) => s -> (rs.size.toLong, rs.map(_._2).sum) }

  locally {
    val init = (1 to Rows).map { _ =>
      val k = nextKey; nextKey += 1
      val r = newRec(); model(k) = r; live.add(k)
      row(k, r, "insert")
    }
    val df = spark.createDataFrame(init.asJava, feedSchema).drop("_change_type")
    ManifestTable.create(spark, fact, df.repartitionByRange(8, col("order_id")),
      statsColumns = Seq("order_id"))
    ManifestTable.create(spark, mirror, df.limit(0))
    ManifestTable.enableRowTracking(spark, mirror)
  }

  def tableDirs: Seq[String] = Seq(fact, mart, mirror)

  def round(): Seq[() => Unit] = window(Batches)

  override def warmUp(): Seq[() => Unit] = window(2)

  private def window(batches: Int): Seq[() => Unit] =
    (1 to batches).flatMap(_ => Seq(() => read(), () => commit())) :+ (() => maintain())

  private def maintain(): Unit = h.op("maint", "cdc.maintain") {
    val batches = h.span("streaming.drain")(drain())
    val before = ManifestTable.manifestFiles(spark, mirror, ManifestTable.versions(spark, mirror).max).size
    h.span("sources.compact")(ManifestTable.compact(spark, mirror, TargetFileBytes))
    val (_, changeRows) = h.span("ops.mart")(
      LakeOps.maintainAndReregister(spark, mirror, mart, Seq("status"), "amount"))
    val deleted = h.span("sources.vacuum")(
      ManifestTable.vacuum(spark, fact, KeepVersions) + ManifestTable.vacuum(spark, mirror))
    (before, changeRows, batches, deleted)
  } { case (before, changeRows, batches, deleted) =>
    h.count("sources.compact.files_rewritten", before.toLong)
    h.count("ops.mart.change_rows", changeRows)
    h.count("streaming.drain.batches", batches.toLong)
    h.count("sources.vacuum.files_deleted", deleted.toLong)
    mirrorSnapshot = modelRows
    val want = statusAgg(mirrorSnapshot.values)
    val martRows = ManifestTable.read(spark, mart).select("status", "n_rows", "total").collect()
      .map(r => r.getString(0) -> (r.getLong(1), cents(r.getDecimal(2).doubleValue))).toMap
    if (martRows != want) Some(s"mart $martRows, model $want")
    else if (content(mirror) != mirrorSnapshot) Some("mirror differs from the generator's model")
    else None
  }

  private def content(root: String): Map[Long, (String, Long)] = ManifestTable.read(spark, root)
    .select("order_id", "status", "amount").collect()
    .map(r => r.getLong(0) -> (r.getString(1), cents(r.getDouble(2)))).toMap

  /** Drain the change feed into the mirror: one AvailableNow run of the
    * streaming query from its checkpoint. */
  private def drain(): Int = {
    var batches = 0
    val q = spark.readStream
      .format("graft.sources.ManifestStreamSourceProvider")
      .option("changeFeed", "true").load(fact)
      .writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        ManifestTable.applyChangesMor(spark, mirror, b, "order_id", "mirror", id)
        batches += 1; ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    batches
  }

  /** The dashboard aggregate: (count, cents) per status, and whether the
    * executed plan read the mart. */
  private def aggOf(df: org.apache.spark.sql.DataFrame): (Map[String, (Long, Long)], Boolean) = {
    val q = df.groupBy("status").agg(count(lit(1)).as("n"), dsum(col("amount")).as("total"))
    val rows = q.collect().map(r => r.getString(0) -> (r.getLong(1), cents(r.getDouble(2)))).toMap
    val scanned = PlanFiles.collect(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    }.flatten
    (rows, scanned.exists(_.contains(s"/$martName/")))
  }

  private def read(): Unit = {
    // half the keys the last batch touched (deleted ones included), half
    // keys drawn from the live set
    val touched = new scala.util.Random(rnd.nextLong()).shuffle(lastTouched).take(LookupKeys / 2)
    val keys = (touched ++ Seq.fill(LookupKeys / 2)(live.sample(rnd))).distinct
    h.op("read", "cdc.read") {
      val keyDf = spark.createDataFrame(keys.map(k => Row(k)).asJava,
        StructType(Seq(StructField("order_id", LongType))))
      val found = h.span("sources.lookup")(
        ManifestTable.readPrunedByKeys(spark, fact, "order_id", keyDf, keysDistinct = true)
          .filter(col("order_id").isin(keys: _*)).collect())
      val agg = h.span("plans.agg_query")(aggOf(ManifestTable.read(spark, mirror)))
      (found, agg)
    } { case (found, (agg, onMart)) =>
      h.count("plans.rewrite.hits", if (onMart) 1 else 0)
      val got = found.map(r => r.getLong(0) -> (r.getString(3), cents(r.getDouble(4)))).toMap
      val want = keys.flatMap(k => model.get(k).map(r => k -> (r.status, r.cents))).toMap
      val wantAgg = statusAgg(mirrorSnapshot.values)
      if (found.length != got.size || got != want) Some(s"lookup of $keys returned $got, model has $want")
      else if (agg != wantAgg) Some(s"dashboard aggregate (mart=$onMart) $agg, model $wantAgg")
      else None
    }
  }

  private def commit(): Unit = {
    batchId += 1
    val rows = mutable.ArrayBuffer[Row]()
    val touched = mutable.ArrayBuffer[Long]()
    (1 to Deletes).foreach { _ =>
      val k = live.sample(rnd); live.remove(k)
      rows += row(k, model.remove(k).get, "delete"); touched += k
    }
    val updated = mutable.LinkedHashSet[Long]()
    while (updated.size < Updates) updated += live.sample(rnd)
    updated.foreach { k =>
      rows += row(k, model(k), "delete")
      val r = newRec(); model(k) = r
      rows += row(k, r, "insert"); touched += k
    }
    (1 to Inserts).foreach { _ =>
      val k = nextKey; nextKey += 1
      val r = newRec(); model(k) = r; live.add(k)
      rows += row(k, r, "insert"); touched += k
    }
    lastTouched = touched.toSeq
    val feed = spark.createDataFrame(rows.asJava, feedSchema)
    val id = batchId
    h.op("write", "cdc.commit") {
      h.span("sources.commit")(ManifestTable.applyChangesMor(spark, fact, feed, "order_id", "writer", id,
        statsColumns = Seq("order_id"), feedTags = Some(Set("insert", "delete"))))
    } { v =>
      val meta = ManifestTable.manifestMeta(spark, fact, v)
      if (meta.get("txn-writer").map(_.toLong).contains(id)) None
      else Some(s"version $v does not carry batch $id: ${meta.get("txn-writer")}")
    }
  }

  def finish(): Unit = {
    if (content(fact) != modelRows) h.fail("final table differs from the generator's model")
    if (content(mirror) != mirrorSnapshot)
      h.fail("final mirror differs from the generator's model at the last drain")
    ManifestTable.compact(spark, fact, TargetFileBytes)
    Seq(fact, mart, mirror).foreach(ManifestTable.vacuum(spark, _))
  }
}

/** Walks an executed plan into its adaptive query stages. */
object PlanFiles extends AdaptiveSparkPlanHelper

/** The live key set with O(1) add, remove and uniform sampling. */
final class LiveKeys {
  private val keys = mutable.ArrayBuffer[Long]()
  private val index = mutable.LongMap[Int]()
  def add(k: Long): Unit = { index(k) = keys.size; keys += k }
  def remove(k: Long): Unit = {
    val i = index.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (i < keys.size) { keys(i) = last; index(last) = i }
  }
  def sample(r: java.util.SplittableRandom): Long = keys(r.nextInt(keys.size))
}
