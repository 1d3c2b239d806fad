package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured Streaming SOURCE over a [[ManifestTable]] — the "stream a
  * transactional table as a change feed" surface (Delta's streaming
  * source, Iceberg's incremental read):
  *
  * {{{
  *   spark.readStream
  *     .format("graft.sources.ManifestStreamSourceProvider")
  *     .load(tableRoot)
  * }}}
  *
  * The manifest log IS the offset axis: a streaming offset is a manifest
  * VERSION, `getOffset` reports the current tip, and batch (start, end]
  * contains exactly the rows of the files manifest `end` names that
  * manifest `start` does not — the same delta contract as
  * [[ManifestTable.readChangesSince]], driven by the engine's own
  * micro-batch loop instead of a caller-managed cursor. Offsets ride the
  * query's checkpoint, so a restarted query resumes from the last
  * committed version and re-reads nothing (files are immutable and
  * manifests never change after publish — replaying offset N+1 always
  * yields the identical batch, which is the prefix-determinism Structured
  * Streaming's exactly-once contract needs from a source).
  *
  * Append-only soundness, enforced STRUCTURALLY like the batch CDF: every
  * file the start version names must survive into the end version's
  * manifest — an overwrite/compact/merge/delete in between means "what
  * was added" is no longer the delta, and the batch fails loudly telling
  * the operator to restart the stream (the same contract Delta exposes:
  * appends stream, arbitrary changes require a new query). [[ManifestTable.vacuum]]
  * must retain the versions an active stream may still read (the no-clock
  * retention contract documented there).
  *
  * At 100 TB: `getOffset` is one driver-side log listing, batch planning
  * one manifest text read; the data volume per micro-batch is the
  * appended files only, so steady-state cost tracks the WRITE rate, never
  * table size.
  */
class ManifestStreamSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-manifest stream needs the table root: .load(<root>)"))

  private def changeFeedOf(parameters: Map[String, String]): Boolean =
    parameters.get("changeFeed").exists(_.toBoolean)

  private def includeRowIdsOf(parameters: Map[String, String]): Boolean =
    parameters.get("includeRowIds").exists(_.toBoolean)

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val root = rootOf(parameters)
    val spark = sqlContext.sparkSession
    // the stream serves the VISIBLE schema — drop tombstones never leak
    // into sourceSchema, and a renamed column streams under its logical
    // name (getBatch reads through the physical mapping)
    val resolved = schema.orElse {
      val vs = ManifestTable.versions(spark, root)
      require(vs.nonEmpty, s"$root is not a manifest table (create it before streaming)")
      ManifestTable.schemaOf(spark, root, vs.max).map(ManifestTable.visibleSchema)
    }.getOrElse(throw new IllegalArgumentException(
      s"$root has a pre-schema manifest log and no user schema was given"))
    // the change feed serves table rows TAGGED with _change_type;
    // includeRowIds=true additionally exposes the immutable row id —
    // the identity a downstream mirror can key on when business keys
    // are non-unique (requires row tracking on the source)
    val served =
      if (changeFeedOf(parameters)) {
        val withId =
          if (includeRowIdsOf(parameters))
            resolved.add(org.apache.spark.sql.types.StructField(
              "_row_id", org.apache.spark.sql.types.LongType, nullable = true))
          else resolved
        withId.add(org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType, nullable = false))
      } else resolved
    (shortName(), served)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val root = rootOf(parameters)
    val (_, resolved) = sourceSchema(sqlContext, schema, providerName, parameters)
    if (changeFeedOf(parameters))
      new ManifestChangeFeedSource(sqlContext.sparkSession, root, resolved,
        refreshOnRefusal = parameters.get("onRefusal") match {
          case Some("refresh") => true
          case Some("fail") | None => false
          case Some(other) => throw new IllegalArgumentException(
            s"onRefusal must be 'fail' or 'refresh', got '$other'")
        },
        includeRowIds = includeRowIdsOf(parameters))
    else new ManifestStreamSource(sqlContext.sparkSession, root, resolved)
  }
}

/** Structured Streaming SINK into a [[ManifestTable]] — the write half:
  *
  * {{{
  *   df.writeStream
  *     .format("graft.sources.ManifestStreamSinkProvider")
  *     .option("writerId", "my-pipeline")   // optional; one ACTIVE writer per id
  *     .option("checkpointLocation", ckpt)
  *     .start(tableRoot)
  * }}}
  *
  * Each micro-batch lands through [[ManifestTable.appendIdempotent]]: the
  * (writerId, batchId) watermark rides the same atomic manifest publish
  * as the data, so a batch re-delivered after a crash (the engine's
  * at-least-once) is acknowledged without writing — end-to-end
  * exactly-once into the table, and composed with [[ManifestStreamSource]]
  * this gives exactly-once table-to-table streaming replication. Append
  * output mode only (the table's own merge/delete are batch mutations);
  * the first batch creates the table. One ACTIVE query per writerId is
  * the caller's contract — Structured Streaming guarantees it per query,
  * and the default writerId is scoped to the query's checkpoint so two
  * different pipelines never share a watermark by accident.
  */
class ManifestStreamSinkProvider extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-manifest sink supports Append output mode only, got $outputMode")
    require(partitionColumns.isEmpty,
      "graft-manifest sink does not take partitionBy (declare clustering via TableLayout)")
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-manifest sink needs the table root: .start(<root>)"))
    // default writer identity: the checkpoint location — unique per
    // logical pipeline, stable across restarts (which is exactly the
    // idempotency scope the batchId watermark needs)
    val writerId = parameters.getOrElse("writerId",
      "ckpt:" + parameters.getOrElse("checkpointLocation", root))
    new ManifestStreamSink(sqlContext.sparkSession, root, writerId)
  }
}

class ManifestStreamSink(spark: SparkSession, root: String, writerId: String)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    ManifestTable.appendIdempotent(
      spark, root, GraftSqlBridge.asBatch(data), writerId, batchId)
    ()
  }

  override def toString: String = s"ManifestStreamSink[$root, writer=$writerId]"
}

class ManifestStreamSource(
    spark: SparkSession,
    root: String,
    override val schema: StructType) extends Source {

  /** Both LongOffset and a checkpoint-recovered SerializedOffset render
    * the version as their json. */
  private def versionOf(o: OffsetV1): Long = o.json.toLong

  override def getOffset: Option[OffsetV1] =
    ManifestTable.versions(spark, root).lastOption.map(LongOffset(_))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = versionOf(end)
    val startV = start.map(versionOf).getOrElse(0L)
    val old: Set[String] =
      if (startV == 0L) Set.empty
      else ManifestTable.manifestFiles(spark, root, startV).toSet
    val cur = ManifestTable.manifestFiles(spark, root, endV)
    require(old.subsetOf(cur.toSet),
      s"non-append change between v$startV and v$endV of $root (files were removed/rewritten) — " +
        "the stream cannot express it as a delta; restart the query against the new table state")
    // merge-on-read deletes change no files but remove rows — just as
    // inexpressible as a rewrite (same rule as readChangesSince); a new
    // file can't be in an older vector, so equal vectors + append-only
    // files mean the added files really are the whole delta
    val startDv =
      if (startV == 0L) None else ManifestTable.deletionVector(spark, root, startV)
    require(startDv == ManifestTable.deletionVector(spark, root, endV),
      s"deletion vector changed between v$startV and v$endV of $root (rows removed merge-on-read) — " +
        "the stream cannot express it as a delta; restart the query against the new table state")
    val added = cur.filterNot(old)
    // read the added files through the committed schema at endV — the
    // physical-schema scan + logical alias path — so a metadata-only
    // renameColumn streams real bytes under the logical name instead of
    // all-NULL, and drop tombstones never surface. The select pins the
    // batch to the schema fixed at query start (a column renamed or
    // dropped AFTER the stream started fails loudly here, the same
    // restart contract as a non-append change).
    val committed =
      if (added.isEmpty) None else ManifestTable.schemaOf(spark, root, endV)
    committed match {
      case Some(s) =>
        GraftSqlBridge.asStreaming(
          ManifestTable.readFiles(spark, root, Some(s), added)
            .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*))
      case None =>
        GraftSqlBridge.streamingParquetBatch(spark, schema, added.map(p => s"$root/$p"))
    }
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()

  override def toString: String = s"ManifestStreamSource[$root]"
}

/** The delete-aware CHANGE FEED source (`option("changeFeed", "true")`)
  * — Delta's `readChangeFeed` as a stream: each micro-batch is
  * [[ManifestTable.readChanges]] over the offset window, i.e.
  * table rows tagged `_change_type` ('insert' | 'delete'), where the
  * plain source REFUSES past a merge-on-read delete. Deletion-vector
  * diffs stream as retractions; RESTOREs past a vector stream as
  * resurrection inserts; on an untracked table genuine file REWRITES
  * (compact/merge/COW delete) still refuse — that delta is not
  * row-expressible — while a row-tracked one streams through them
  * (empty across OPTIMIZE, id-diffs across MERGE). Offsets are
  * manifest versions exactly like [[ManifestStreamSource]]; manifests,
  * data files, and vector sidecars are all immutable after publish, so a
  * replayed window re-derives the identical batch (vacuum retention
  * permitting — the same contract as time travel). Pair with
  * [[ManifestTable.applyChangesMor]] in foreachBatch for an exactly-once
  * downstream MIRROR that tracks deletes.
  *
  * At 100 TB: batch planning reads two manifest texts and diffs two
  * sidecar-sized vectors; data volume per micro-batch is the appended
  * files plus ONLY the files the vector diff references — steady-state
  * cost tracks the CHANGE rate, never table size. */
class ManifestChangeFeedSource(
    spark: SparkSession,
    root: String,
    override val schema: StructType,
    refreshOnRefusal: Boolean = false,
    includeRowIds: Boolean = false) extends Source {

  private def versionOf(o: OffsetV1): Long = o.json.toLong

  override def getOffset: Option[OffsetV1] =
    ManifestTable.versions(spark, root).lastOption.map(LongOffset(_))

  /** Whole-table read at `v`, with `_row_id` when the source serves ids
    * (requires row tracking — fails loudly otherwise, there is no id to
    * serve). */
  private def fullAt(v: Long, tag: String): DataFrame = {
    val base =
      if (!includeRowIds) ManifestTable.read(spark, root, Some(v))
      else {
        require(ManifestTable.rowTrackingEnabled(spark, root, v),
          s"includeRowIds=true needs row tracking enabled on $root (enableRowTracking)")
        ManifestTable.readWithRowIds(spark, root, Some(v))
      }
    base.withColumn("_change_type", org.apache.spark.sql.functions.lit(tag))
  }

  /** The declarative-recovery batch: the whole table at `v` tagged
    * 'refresh' PLUS one all-NULL 'truncate' sentinel row. The sentinel
    * makes the refresh signal IN-BAND and unconditional — a refusal
    * window whose end state is EMPTY still reaches the sink as a
    * recognizable refresh (applyChangesMor truncates the mirror)
    * instead of masquerading as an empty incremental window and
    * silently leaving stale rows behind. */
  private def refreshBatch(v: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val rows = fullAt(v, "refresh")
    val sentinel = spark.range(1).select(rows.schema.fields.map { f =>
      (if (f.name == "_change_type") lit("truncate")
       else lit(null).cast(f.dataType)).as(f.name)
    }.toIndexedSeq: _*)
    rows.unionByName(sentinel)
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = versionOf(end)
    // no start offset = first batch of a fresh query: the whole table at
    // endV is the initial "insert" load, expressed as changes since the
    // log's first version PLUS that first version's own content — simplest
    // correct form: read(endV) tagged insert (Delta's startingVersion=0).
    start.map(versionOf) match {
      case Some(startV) =>
        val attempt =
          try {
            Some(ManifestTable.readChanges(spark, root, startV, Some(endV),
              includeRowId = includeRowIds)._1)
          } catch {
            // a window that is not delta-expressible (overwrite, COW
            // rewrite, vacuumed cursor): under onRefusal=refresh the
            // batch DECLARES the recovery instead of killing the query —
            // the whole table at endV tagged 'refresh', which
            // applyChangesMor lands as one atomic watermarked overwrite
            // and from which the next window resumes incrementally.
            // Replays are sound: the same offset range re-derives the
            // same refusal and the same endV state. ONLY the designed
            // NotDeltaExpressible refusal converts — transient IO
            // errors, corrupted logs, and misconfiguration propagate
            // and kill the query loudly instead of silently triggering
            // a spurious full rewrite of the mirror.
            case _: NotDeltaExpressible if refreshOnRefusal => None
          }
        val feed = attempt.getOrElse(refreshBatch(endV))
        GraftSqlBridge.asStreaming(
          feed.select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*))
      case None =>
        GraftSqlBridge.asStreaming(
          fullAt(endV, "insert").select(
            schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*))
    }
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()

  override def toString: String = s"ManifestChangeFeedSource[$root]"
}
