package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min, sum, when}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column statistics for [[ManifestTable]] — the data-skipping
  * half of the lakehouse design (Delta paper §4.2 "Data Layout
  * Optimization"; Iceberg's per-file value ranges): each data file
  * commits with min/max/nullCount per tracked column and its row count,
  * and a predicate read consults the stats to drop whole files before
  * Spark ever opens a footer.
  *
  * Why this matters at 100 TB: partition pruning only helps along the
  * partition key. With range-clustered files (writers use
  * `repartitionByRange` on the cluster column), a selective predicate on
  * that column skips all but a handful of files — the scan cost becomes
  * O(selectivity), not O(table). The stats live in the manifest header,
  * so planning stays a driver-side text read: no footer sampling, no
  * file listing, no extra job.
  *
  * Soundness contract: pruning is KEEP-BIASED. A file is dropped only
  * when the stats PROVE no row can satisfy the predicate; any
  * unrecognized expression shape, missing stats entry, or non-finite
  * float bound keeps the file. The full filter is re-applied to the
  * surviving files, so pruning can never change query results — only
  * how many files the scan touches.
  *
  * Canonical stat encoding (line-safe, order-preserving per type):
  *  - integral/decimal/float/double → plain BigDecimal string
  *    (non-finite floats drop the bound — NaN/Inf carry no range info);
  *  - string → the raw value, URL-encoded for line safety;
  *  - date → days since epoch; timestamp → micros since epoch (matching
  *    Catalyst's own internal Literal representation, so predicate
  *    literals compare without timezone re-derivation).
  */
object ManifestStats {

  /** A per-file Bloom filter over the column's canonical-string values —
    * the point-lookup complement to min/max: on a hash-clustered layout
    * every file spans the full key range and range stats prune nothing,
    * but an equality probe against the blooms drops every file that
    * provably lacks the key (false positives only cost an extra file
    * read; false negatives cannot happen). Hash family is XXH64 seed 42
    * over UTF-8 bytes — identical to `graft_bloom_build` / `xxhash64`,
    * so build and probe share one executable definition
    * ([[graft.functions.HashKernels.bloomSet]]). */
  final case class BloomStats(numHashes: Int, words: Array[Long]) {
    def mightContain(value: String): Boolean = {
      val bytes = value.getBytes(StandardCharsets.UTF_8)
      val h = XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
      val numBits = words.length.toLong * 64L
      val h2 = ((h >>> 32) << 1) | 1L
      var i = 0
      while (i < numHashes) {
        val idx = java.lang.Long.remainderUnsigned(h + i.toLong * h2, numBits)
        if ((words((idx >>> 6).toInt) & (1L << (idx & 63L).toInt)) == 0L) return false
        i += 1
      }
      true
    }
  }

  /** min/max in canonical encoding; None = unknown (all-null file or a
    * non-finite float bound). nullCount completes the picture: an
    * all-null file has (None, None, nullCount == rowCount) and IS
    * prunable for any null-rejecting predicate. */
  final case class ColumnStats(min: Option[String], max: Option[String], nullCount: Long,
      bloom: Option[BloomStats] = None)

  final case class FileStats(rowCount: Long, cols: Map[String, ColumnStats])

  /** Default bloom sizing: 2^17 bits (16 KiB/file/column in the manifest
    * after base64) ≈ 1% false-positive rate at ~13k distinct values per
    * file. Oversized files only degrade the FPP — skipping stays sound,
    * just less effective; production sizing would scale bits with the
    * writer's target file row count. */
  val DefaultBloomBits: Int = 1 << 17
  val DefaultBloomHashes: Int = 6

  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType | _: DecimalType => true
    case StringType | DateType | TimestampType => true
    case _ => false
  }

  /** Collect per-file stats for `statsColumns` over freshly staged files
    * — ONE aggregation job grouped by `input_file_name()` (map-side
    * combine, one row per file at the driver; bounded by file count,
    * never row count). `relPaths` maps the scan's file URIs back to the
    * manifest's root-relative names.
    */
  /** Exact-type bloomability: the bloom hashes the value's STRING
    * rendering, and pruning only tests literals whose type equals the
    * column's — so the rendering must be canonical per type. Integral
    * `toString` and raw strings are; floats/decimals/temporals are not
    * worth the canonicalization trap and are refused. */
  private def bloomable(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  def collect(
      spark: SparkSession,
      root: String,
      relPaths: Seq[String],
      statsColumns: Seq[String],
      bloomColumns: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits,
      bloomHashes: Int = DefaultBloomHashes,
      schema: Option[StructType] = None,
      virtualCols: Seq[(String, Column)] = Nil): Map[String, FileStats] = {
    val rangeCols = (statsColumns ++ bloomColumns ++ virtualCols.map(_._1)).distinct // blooms imply min/max too
    if (rangeCols.isEmpty || relPaths.isEmpty) return Map.empty
    // Footer fast path: parquet footers already hold min/max/null-count
    // per column chunk and the row count per row group, so for freshly
    // staged files the per-commit stats job is a re-scan of data the
    // writer just serialized. One driver-side footer read per file
    // replaces that whole Spark job. Taken ONLY when it provably
    // reproduces the scan's stats BYTE-identically (same canonical
    // strings — pruning keys on them and declared queries pin pruning
    // outcomes): blooms need row values, virtual transform columns are
    // computed per row, and a committed-schema backfill must see columns
    // absent from older files — all of those still scan, as do columns
    // whose footer bounds can diverge from scan bounds (floats: NaN
    // poisons footer min/max while the scan's canonical() drops
    // non-finite bounds; decimals/INT96: representation).
    if (bloomColumns.isEmpty && virtualCols.isEmpty && schema.isEmpty) {
      collectFromFooters(spark, root, relPaths, rangeCols) match {
        case Some(m) => return m
        case None => () // any non-fast-pathable shape: fall through to the scan
      }
    }
    // freshly staged files are schema-homogeneous and infer fine; a
    // backfill over a widening-append lineage must read with the
    // COMMITTED schema (footer inference picks one file's shape and can
    // miss columns newer files carry — or vice versa)
    val reader = schema.map(spark.read.schema).getOrElse(spark.read)
    // virtual columns (partition-transform values) are computed per row
    // during the same stats pass and committed under their virtual name
    // — they exist in the manifest only, never in the data files
    val df = virtualCols.foldLeft(
      reader.parquet(relPaths.map(p => s"$root/$p"): _*)) {
      case (d, (n, e)) => d.withColumn(n, e)
    }
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    rangeCols.foreach { c =>
      val dt = types.getOrElse(c,
        throw new IllegalArgumentException(s"stats column '$c' not in schema ${df.columns.mkString(",")}"))
      require(supported(dt), s"stats column '$c' has unsupported type $dt")
    }
    bloomColumns.foreach { c =>
      require(bloomable(types(c)),
        s"bloom column '$c' must be string or integral, got ${types(c)}")
    }
    if (bloomColumns.nonEmpty) graft.functions.NativeExpressions.register(spark)
    val aggs = rangeCols.flatMap { c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"))
    } ++ bloomColumns.map { c =>
      org.apache.spark.sql.functions.expr(
        s"graft_bloom_build(CAST(`$c` AS STRING), $bloomBits, $bloomHashes)").as(s"__bloom_$c")
    } :+ count(lit(1)).as("__n")
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      val uri = r.getString(0)
      val rel = relPaths.find(p => uri.endsWith("/" + p) || uri == p).getOrElse(
        throw new IllegalStateException(s"stats scan saw unexpected file $uri"))
      val cols = rangeCols.map { c =>
        val dt = types(c)
        val nulls = r.getLong(r.fieldIndex(s"__nulls_$c"))
        val mn = canonical(r.get(r.fieldIndex(s"__min_$c")), dt)
        val mx = canonical(r.get(r.fieldIndex(s"__max_$c")), dt)
        val bloom =
          if (bloomColumns.contains(c))
            Some(BloomStats(bloomHashes, r.getSeq[Long](r.fieldIndex(s"__bloom_$c")).toArray))
          else None
        c -> ColumnStats(mn, mx, nulls, bloom)
      }.toMap
      rel -> FileStats(r.getLong(r.fieldIndex("__n")), cols)
    }.toMap match {
      case m =>
        // a ROWLESS staged file produces no aggregate group — record it
        // explicitly as zero rows with vacuous bounds, or downstream
        // consumers (the table rollup above all) would read "no stats"
        // as "unbounded" for a file that provably holds nothing
        val empties = relPaths.filterNot(m.contains).map(p =>
          p -> FileStats(0L, rangeCols.map(c => c -> ColumnStats(None, None, 0L)).toMap))
        m ++ empties
    }
  }

  /** The footer fast path behind [[collect]] (guide §6: parquet footers
    * already hold these): per-file stats derived from the staged files'
    * own footers, zero Spark jobs. Returns None — "use the scan" —
    * whenever ANY file/column is not provably byte-identical to what the
    * scan would produce:
    *  - a parquet type whose footer bounds can diverge from Spark
    *    aggregates: FLOAT/DOUBLE (a NaN poisons footer min/max via
    *    Math.min/max while Spark's min/max + canonical() turn it into an
    *    unbounded side — and a NaN row MATCHES `x > c` under Spark
    *    semantics, so trusting a NaN-blind footer max would prune
    *    unsoundly), INT96 timestamps (no valid stats order), decimals and
    *    unsigned ints (representation);
    *  - stats missing, size-dropped (parquet omits bounds > 4 KB), or
    *    untrusted by parquet-mr's own corrupt-statistics check;
    *  - a configured truncation length (bounds become prefixes — sound
    *    for pruning but not identical to scan stats, which callers pin).
    * Canonical encodings per surviving type match [[canonical]] exactly:
    * integral → BigDecimal plain string, string → raw UTF-8 value, date
    * → epoch days, timestamp(UTC, MICROS) → epoch micros.
    *
    * Scale note: this is a driver-side footer read per staged file —
    * O(files in the commit), the same order as the commit's own manifest
    * write, and strictly cheaper than launching a cluster-wide job to
    * re-read data the writer just serialized. */
  private[graft] def collectFromFooters(
      spark: SparkSession,
      root: String,
      relPaths: Seq[String],
      cols: Seq[String]): Option[Map[String, FileStats]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    if (conf.get("parquet.statistics.truncate.length") != null) return None
    // canonicalizer per parquet type — EXACTLY the encoding canonical()
    // produces for the Spark type this parquet type reads back as
    def canonFn(pt: org.apache.parquet.schema.PrimitiveType): Option[Any => String] = {
      val ann = pt.getLogicalTypeAnnotation
      pt.getPrimitiveTypeName match {
        case INT32 => ann match {
          case null => Some(v => new java.math.BigDecimal(v.toString).toPlainString)
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned =>
            Some(v => new java.math.BigDecimal(v.toString).toPlainString)
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some(v => v.toString)
          case _ => None
        }
        case INT64 => ann match {
          case null => Some(v => new java.math.BigDecimal(v.toString).toPlainString)
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if i.isSigned && i.getBitWidth == 64 =>
            Some(v => new java.math.BigDecimal(v.toString).toPlainString)
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.isAdjustedToUTC && t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
            Some(v => v.toString)
          case _ => None
        }
        case BINARY => ann match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
            Some(v => v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
          case _ => None
        }
        case _ => None
      }
    }
    try {
      val result = Map.newBuilder[String, FileStats]
      relPaths.foreach { rel =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$root/$rel"), conf)
        val footer = {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter finally r.close()
        }
        val msg = footer.getFileMetaData.getSchema
        import scala.jdk.CollectionConverters._
        val blocks = footer.getBlocks.asScala.toSeq
        val rowCount = blocks.map(_.getRowCount).sum
        val colStats = cols.map { c =>
          // absent column: the scan would fail loudly ("not in schema") —
          // fall back so the error surfaces identically from one place
          if (!msg.containsField(c)) return None
          val t = msg.getType(Seq(c): _*)
          if (!t.isPrimitive ||
              t.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED)) return None
          val canon = canonFn(t.asPrimitiveType()).getOrElse(return None)
          var nulls = 0L
          var minV: Any = null
          var maxV: Any = null
          var cmp: java.util.Comparator[Any] = null
          blocks.foreach { b =>
            val ccmd = b.getColumns.asScala.find(_.getPath.toDotString == c).getOrElse(return None)
            val st = ccmd.getStatistics
            if (st == null || !st.isNumNullsSet) return None
            nulls += st.getNumNulls
            if (st.hasNonNullValue) {
              if (cmp == null) cmp = st.comparator().asInstanceOf[java.util.Comparator[Any]]
              val mn = st.genericGetMin; val mx = st.genericGetMax
              if (minV == null || cmp.compare(mn, minV) < 0) minV = mn
              if (maxV == null || cmp.compare(mx, maxV) > 0) maxV = mx
            } else if (st.getNumNulls != ccmd.getValueCount) {
              return None // bounds size-dropped by the writer, not an all-null chunk
            }
          }
          c -> ColumnStats(Option(minV).map(canon), Option(maxV).map(canon), nulls)
        }.toMap
        result += rel -> FileStats(rowCount, colStats)
      }
      Some(result.result())
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Total row count over `paths` (absolute or root-relative) from their
    * parquet footers — driver-side, zero Spark jobs, exact (the footer's
    * per-row-group counts are authoritative for stored rows). Callers
    * must ensure stored rows == visible rows (no deletion vector). None
    * on any unreadable footer. */
  private[graft] def rowCountFromFooters(
      spark: SparkSession, root: String, paths: Seq[String]): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    try {
      var total = 0L
      paths.foreach { p =>
        val abs = if (p.startsWith("/")) p else s"$root/$p"
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(abs), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          total += r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        } finally r.close()
      }
      Some(total)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Driver-collected value → canonical string (None for null or a
    * non-finite float bound). */
  private def canonical(v: Any, dt: DataType): Option[String] =
    if (v == null) None
    else dt match {
      case DateType => v match {
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toString)
        case d: java.time.LocalDate => Some(d.toEpochDay.toString)
      }
      case TimestampType =>
        val i = v match {
          case t: java.sql.Timestamp => t.toInstant
          case t: java.time.Instant => t
        }
        Some((i.getEpochSecond * 1000000L + i.getNano / 1000L).toString)
      case StringType => Some(v.toString)
      case FloatType =>
        val f = v.asInstanceOf[Float]
        // EXACT binary value, not toString: "0.1f" renders "0.1" but IS
        // 0.100000001490116…, and a strict `> 0.1d` bound compared in
        // rendered space would unsoundly prune the file holding it
        if (java.lang.Float.isFinite(f)) Some(new java.math.BigDecimal(f.toDouble).toPlainString) else None
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (java.lang.Double.isFinite(d)) Some(new java.math.BigDecimal(d).toPlainString) else None
      case _: DecimalType => Some(v.asInstanceOf[java.math.BigDecimal].toPlainString)
      case ByteType | ShortType | IntegerType | LongType => Some(new java.math.BigDecimal(v.toString).toPlainString)
      case other => throw new IllegalArgumentException(s"unsupported stats type $other")
    }

  // ---- manifest line (de)serialization -----------------------------------

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** `<path>|n=<rows>|<col>=<min>,<max>,<nulls>[,h<k>:<b64words>]|...` —
    * every variable part URL-encoded (or URL-safe base64 for bloom
    * words), so `|,=` never collide with values. The bloom field is
    * optional per column; absence means "no bloom, range-only". */
  private[sources] def serialize(rel: String, fs: FileStats): String = {
    val sb = new StringBuilder(enc(rel)).append("|n=").append(fs.rowCount)
    fs.cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
      sb.append('|').append(enc(c)).append('=')
        .append(cs.min.map(enc).getOrElse("")).append(',')
        .append(cs.max.map(enc).getOrElse("")).append(',')
        .append(cs.nullCount)
      cs.bloom.foreach { b =>
        val bytes = java.nio.ByteBuffer.allocate(b.words.length * 8)
        b.words.foreach(bytes.putLong)
        sb.append(",h").append(b.numHashes).append(':')
          .append(java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bytes.array()))
      }
    }
    sb.toString
  }

  private[sources] def deserialize(line: String): (String, FileStats) = {
    val parts = line.split('|')
    val rel = dec(parts(0))
    require(parts.length >= 2 && parts(1).startsWith("n="), s"malformed stats line: $line")
    val n = parts(1).stripPrefix("n=").toLong
    val cols = parts.drop(2).map { p =>
      val Array(c, v) = p.split("=", 2)
      val fields = v.split(",", 4)
      val bloom = fields.lift(3).map { b =>
        val Array(h, words) = b.split(":", 2)
        val raw = java.util.Base64.getUrlDecoder.decode(words)
        val buf = java.nio.ByteBuffer.wrap(raw)
        val arr = new Array[Long](raw.length / 8)
        var i = 0
        while (i < arr.length) { arr(i) = buf.getLong; i += 1 }
        BloomStats(h.stripPrefix("h").toInt, arr)
      }
      dec(c) -> ColumnStats(
        if (fields(0).isEmpty) None else Some(dec(fields(0))),
        if (fields(1).isEmpty) None else Some(dec(fields(1))),
        fields(2).toLong,
        bloom)
    }.toMap
    rel -> FileStats(n, cols)
  }

  /** Reserved pseudo-path the TABLE-LEVEL stats rollup commits under —
    * never a real file, so per-file consumers (which look paths up from
    * the manifest's file list) ignore it structurally. */
  val RollupKey = "__rollup__"

  /** Table-level rollup of per-file stats — the Iceberg manifest-list /
    * partition-summary idea: min-of-mins, max-of-maxes, summed null
    * counts, total rows, computed at COMMIT time from the stats of
    * exactly the files the manifest names (the single choke point, so a
    * stale rollup can never ride a carried stats map into a new
    * version). One mayMatch against it answers "can ANY row of this
    * table match?" in O(columns) — a catalog of per-day/per-tenant
    * tables routes a query without touching per-file stats, let alone
    * data.
    *
    * Keep-biased construction: no rollup at all unless EVERY file has
    * stats (an untracked file is unbounded); a column enters only when
    * every file tracks it and its type is in the schema (virtual
    * transform columns are skipped — their bounds still prune at the
    * per-file tier); a None bound in any file leaves that side
    * unbounded; blooms don't union soundly across different bit arrays
    * and are dropped. */
  def rollup(files: Seq[String], stats: Map[String, FileStats],
      schema: Option[StructType]): Option[FileStats] = {
    if (files.isEmpty) return None
    val fss = files.map(stats.get)
    if (fss.exists(_.isEmpty)) return None
    // empty files contribute no bounds (zero rows can't match anything)
    // — without this, a delete that empties a file would unbound the
    // whole rollup through the empty file's (None, None) stats
    val all = fss.flatten.filter(_.rowCount > 0)
    if (all.isEmpty) return None // all-empty table: keep-biased, no rollup
    val byType = schema.getOrElse(return None).fields.map(f => f.name -> f.dataType).toMap
    val colNames = all.head.cols.keySet
      .filter(byType.contains)
      .filter(c => all.forall(_.cols.contains(c)))
    val cols = colNames.iterator.flatMap { c =>
      domainOf(byType(c)).map { dom =>
        val css = all.map(_.cols(c))
        val mn = if (css.exists(_.min.isEmpty)) None
          else Some(css.flatMap(_.min).min(Ordering.fromLessThan[String](dom.lt)))
        val mx = if (css.exists(_.max.isEmpty)) None
          else Some(css.flatMap(_.max).max(Ordering.fromLessThan[String](dom.lt)))
        c -> ColumnStats(mn, mx, css.map(_.nullCount).sum, None)
      }
    }.toMap
    if (cols.isEmpty) None else Some(FileStats(all.map(_.rowCount).sum, cols))
  }

  /** Incremental rollup for APPEND-shaped commits — provably equal to
    * recomputing [[rollup]] over base∪adds when the base rollup exists,
    * at O(adds) instead of O(files): min-of-mins / max-of-maxes merge
    * associatively, null/row counts add, and the tracked-column
    * intersection composes ((∩base) ∩ (∩adds) = ∩all). None whenever
    * any add lacks stats or the merged column set empties — the same
    * keep-biased "no rollup" the full recompute would reach. The caller
    * handles the base-rollup-absent case: absent stays absent under
    * appends (a carried file without stats is still without stats, and
    * adds can only SHRINK the column intersection). `schema` is the NEW
    * version's physical schema; appends only widen it, and a column new
    * to the schema cannot enter the rollup anyway (carried files don't
    * track it). */
  def mergeRollup(base: FileStats, adds: Seq[String],
      stats: Map[String, FileStats], schema: Option[StructType]): Option[FileStats] = {
    if (adds.isEmpty) return Some(base)
    val fss = adds.map(stats.get)
    if (fss.exists(_.isEmpty)) return None
    // empty files contribute no bounds and no rows — rollup()'s rule
    val nonEmpty = fss.flatten.filter(_.rowCount > 0)
    if (nonEmpty.isEmpty) return Some(base)
    val byType = schema.getOrElse(return None).fields.map(f => f.name -> f.dataType).toMap
    val cols = base.cols.iterator.flatMap { case (c, bc) =>
      if (!byType.contains(c) || !nonEmpty.forall(_.cols.contains(c))) None
      else domainOf(byType(c)).map { dom =>
        val acs = nonEmpty.map(_.cols(c))
        val mins = bc.min.toSeq ++ acs.flatMap(_.min)
        val maxs = bc.max.toSeq ++ acs.flatMap(_.max)
        val mn = if (bc.min.isEmpty || acs.exists(_.min.isEmpty)) None
          else Some(mins.min(Ordering.fromLessThan[String](dom.lt)))
        val mx = if (bc.max.isEmpty || acs.exists(_.max.isEmpty)) None
          else Some(maxs.max(Ordering.fromLessThan[String](dom.lt)))
        c -> ColumnStats(mn, mx, bc.nullCount + acs.map(_.nullCount).sum, None)
      }
    }.toMap
    if (cols.isEmpty) None
    else Some(FileStats(base.rowCount + nonEmpty.map(_.rowCount).sum, cols))
  }

  /** May any row of a (pseudo-)file with stats `fs` match `filter`?
    * The public face of [[mayMatch]] for table-level rollup tests —
    * same keep-bias, same transform translation, same column-mapping
    * attribute rewrite as per-file pruning. */
  def statsMayMatch(spark: SparkSession, schema: StructType, filter: Column,
      fs: FileStats,
      transforms: Seq[PartitionTransform] = Nil,
      renames: Map[String, String] = Map.empty): Boolean = {
    val cond = analyzedCondition(spark, schema, filter, renames).getOrElse(return true)
    val conds = cond +: transforms.flatMap(t => PartitionTransform.translate(t, cond))
    conds.forall(mayMatch(_, fs))
  }

  // ---- predicate evaluation against stats --------------------------------

  /** The comparison domain a canonical string decodes into, per type. */
  private sealed trait Domain {
    def cmp(a: String, b: String): Int
    final def leq(a: String, b: String): Boolean = cmp(a, b) <= 0
    final def lt(a: String, b: String): Boolean = cmp(a, b) < 0
  }
  private object NumDomain extends Domain {
    def cmp(a: String, b: String) = new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
  }
  private object LongDomain extends Domain {
    def cmp(a: String, b: String) = java.lang.Long.compare(a.toLong, b.toLong)
  }
  private object StrDomain extends Domain {
    // Spark compares strings by UNSIGNED UTF-8 BYTES (UTF8String binary
    // collation); Java's compareTo is UTF-16 code-unit order and the two
    // DISAGREE for non-BMP code points (an emoji sorts after U+E000..FFFF
    // in byte order but before it in UTF-16) — comparing in String space
    // here would unsoundly prune files holding astral-plane text
    def cmp(a: String, b: String) = byteCmp(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
  }

  private def domainOf(dt: DataType): Option[Domain] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType | _: DecimalType => Some(NumDomain)
    case DateType | TimestampType => Some(LongDomain)
    case StringType => Some(StrDomain)
    case _ => None
  }

  /** Foldable literal-side expression → canonical string in the SAME
    * encoding [[canonical]] writes, or None when the value carries no
    * usable bound (null, NaN/Inf, unsupported type). Catalyst's internal
    * representations line up with the canonical choices: DateType
    * literals ARE epoch days, TimestampType literals ARE epoch micros.
    */
  private def literalCanonical(e: Expression): Option[String] = {
    val v = e.eval(EmptyRow)
    if (v == null) None
    else e.dataType match {
      case DateType => Some(v.asInstanceOf[Int].toLong.toString)
      case TimestampType => Some(v.asInstanceOf[Long].toString)
      case StringType => Some(v.asInstanceOf[UTF8String].toString)
      case FloatType =>
        val f = v.asInstanceOf[Float]
        // exact binary value — must match canonical()'s encoding choice
        if (java.lang.Float.isFinite(f)) Some(new java.math.BigDecimal(f.toDouble).toPlainString) else None
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (java.lang.Double.isFinite(d)) Some(new java.math.BigDecimal(d).toPlainString) else None
      case _: DecimalType => Some(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString)
      case ByteType | ShortType | IntegerType | LongType => Some(new java.math.BigDecimal(v.toString).toPlainString)
      case _ => None
    }
  }

  /** The attribute a comparison side names, looking through numeric
    * widening casts (analysis wraps the narrower side; numeric widening
    * is order-embedding so comparing in the wider domain against the
    * stored narrower-type stats stays sound — both decode to BigDecimal).
    */
  private def attrOf(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case Cast(a: AttributeReference, to, _, _)
        if domainOf(a.dataType).contains(NumDomain) && domainOf(to).contains(NumDomain) => Some(a)
    case _ => None
  }

  /** A large `IN` compiled for O(log k) per-file evaluation: the
    * member literals canonicalized ONCE and sorted in the attribute's
    * domain order, so each file tests "any member inside [min, max]?"
    * with two binary searches instead of k literal evals — the naive
    * `vs.exists(rangeMay)` is O(k) literal canonicalizations per file
    * and dominates planning when a maintainer probes a mart with a
    * 50k-key shingle universe ([[graft.ops.LakeOps]], measured: the
    * hottest driver frame of the dd11 window). Bit-identical keep/drop
    * decisions: the value list, null handling, bloom gating, and
    * dtype-mismatch semantics all mirror [[rangeMay]]'s, only the
    * evaluation ORDER changes. Built by [[compileConds]]; never reaches
    * execution (the carrier is Unevaluable). */
  private final case class PreparedIn(
      attr: AttributeReference,
      domain: Domain,
      sortedVals: Array[String],       // canonical, domain-ascending
      bloomGate: Array[Boolean],       // aligned: literal dtype == attr dtype
      alwaysTrue: Boolean              // a non-null member defied canonicalization
  ) extends LeafExpression with Unevaluable {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    // first index with vals(i) >= bound, vals.length when none
    def lowerBound(bound: String): Int = {
      var lo = 0; var hi = sortedVals.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (domain.cmp(sortedVals(mid), bound) < 0) lo = mid + 1 else hi = mid
      }
      lo
    }
    // last index with vals(i) <= bound, -1 when none
    def upperBound(bound: String): Int = {
      var lo = -1; var hi = sortedVals.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (domain.cmp(sortedVals(mid), bound) <= 0) lo = mid else hi = mid - 1
      }
      lo
    }
  }

  /** Members below this stay on the plain O(k) path — sorting overhead
    * only pays off once the per-file scan is the bigger term. */
  private val PreparedInThreshold = 8

  /** Rewrite qualifying big-IN nodes of an analyzed condition into
    * [[PreparedIn]] carriers (see there). Anything not provably
    * equivalent — non-foldable members, attribute-less probes, domains
    * without an order — stays a plain `In`. */
  private def prepareIns(cond: Expression): Expression = cond.transform {
    case in @ In(ae, vs) if vs.length >= PreparedInThreshold && vs.forall(_.foldable) =>
      (attrOf(ae), attrOf(ae).flatMap(a => domainOf(a.dataType))) match {
        case (Some(a), Some(d)) =>
          val entries = Array.newBuilder[(String, Boolean)]
          var alwaysTrue = false
          vs.foreach { v =>
            literalCanonical(v) match {
              case Some(c) => entries += ((c, v.dataType == a.dataType))
              // null member: `x = NULL` never matches — contributes false.
              // non-null but uncanonicalizable: rangeMay keeps the file
              // unconditionally — the whole IN degrades to keep-biased true
              case None => if (v.eval(EmptyRow) != null) alwaysTrue = true
            }
          }
          val sorted = entries.result().sortWith((x, y) => d.cmp(x._1, y._1) < 0)
          PreparedIn(a, d, sorted.map(_._1), sorted.map(_._2), alwaysTrue)
        case _ => in
      }
  }

  /** May any row of a file with `fs` satisfy `cond`? Keep-biased:
    * `true` whenever the stats cannot prove otherwise. */
  private def mayMatch(cond: Expression, fs: FileStats): Boolean = cond match {
    case And(l, r) => mayMatch(l, fs) && mayMatch(r, fs)
    case Or(l, r) => mayMatch(l, fs) || mayMatch(r, fs)
    case p: PreparedIn =>
      fs.cols.get(p.attr.name) match {
        case None => true
        case Some(cs) =>
          if (cs.nullCount == fs.rowCount) false
          else if (p.alwaysTrue) true
          else {
            val lo = cs.min.map(p.lowerBound).getOrElse(0)
            val hi = cs.max.map(p.upperBound).getOrElse(p.sortedVals.length - 1)
            lo <= hi && (cs.bloom match {
              case None => true
              case Some(b) =>
                var i = lo; var hit = false
                while (!hit && i <= hi) {
                  hit = !p.bloomGate(i) || b.mightContain(p.sortedVals(i)); i += 1
                }
                hit
            })
          }
      }
    case IsNull(a: AttributeReference) =>
      fs.cols.get(a.name).forall(_.nullCount > 0)
    case IsNotNull(a: AttributeReference) =>
      fs.cols.get(a.name).forall(_.nullCount < fs.rowCount)
    case b: BinaryComparison =>
      (attrOf(b.left), attrOf(b.right)) match {
        case (Some(a), None) if b.right.foldable => compare(a, b, fs, flipped = false)
        case (None, Some(a)) if b.left.foldable => compare(a, b, fs, flipped = true)
        case _ => true
      }
    case In(ae, vs) if vs.forall(_.foldable) =>
      attrOf(ae) match {
        case Some(a) => vs.exists(v => rangeMay(a, fs, v))
        case None => true
      }
    case StartsWith(a: AttributeReference, p) if p.foldable =>
      (fs.cols.get(a.name), literalCanonical(p)) match {
        case (Some(cs), Some(prefix)) =>
          if (cs.nullCount == fs.rowCount) false
          else (cs.min, cs.max) match {
            case (Some(mn), Some(mx)) =>
              // in UTF-8 byte order, strings with this prefix occupy
              // [prefix, prefixByteUpper); an un-incrementable prefix
              // (all 0xFF) keeps the file
              StrDomain.cmp(mx, prefix) >= 0 &&
                prefixByteUpper(prefix).forall(up =>
                  byteCmp(mn.getBytes(StandardCharsets.UTF_8), up) < 0)
            case _ => true
          }
        case _ => true
      }
    case _ => true
  }

  private def byteCmp(x: Array[Byte], y: Array[Byte]): Int = {
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** The exclusive byte-space upper bound of the prefix range: trim
    * trailing 0xFF bytes, increment the last remaining one. None when
    * no bound exists (empty / all-0xFF prefix). */
  private def prefixByteUpper(p: String): Option[Array[Byte]] = {
    val b = p.getBytes(StandardCharsets.UTF_8)
    var i = b.length - 1
    while (i >= 0 && (b(i) & 0xff) == 0xff) i -= 1
    if (i < 0) None
    else {
      val up = java.util.Arrays.copyOf(b, i + 1)
      up(i) = (up(i) + 1).toByte
      Some(up)
    }
  }

  /** Must EVERY row of a file with `fs` satisfy `cond`? The dual of
    * [[mayMatch]], conservative the other way: `false` whenever the
    * stats cannot PROVE universal satisfaction. Null semantics make
    * nullCount == 0 a precondition for every value predicate — a null
    * row evaluates the predicate to null, which does not satisfy it. */
  private def mustMatch(cond: Expression, fs: FileStats): Boolean = cond match {
    case And(l, r) => mustMatch(l, fs) && mustMatch(r, fs)
    case Or(l, r) => mustMatch(l, fs) || mustMatch(r, fs)
    case p: PreparedIn =>
      // the In arm below, over the prepared members: provable only when
      // the file is single-valued and some SAME-TYPED member equals it
      // (string equality of canonical forms, exactly as the In arm's
      // literalCanonical(v).contains(cs.min.get))
      fs.cols.get(p.attr.name).exists { cs =>
        cs.nullCount == 0 && cs.min.isDefined && cs.min == cs.max && {
          val v = cs.min.get
          val lo = p.lowerBound(v); val hi = p.upperBound(v)
          var i = lo; var hit = false
          while (!hit && i <= hi) {
            hit = p.bloomGate(i) && p.sortedVals(i) == v; i += 1
          }
          hit
        }
      }
    case IsNull(a: AttributeReference) =>
      fs.cols.get(a.name).exists(_.nullCount == fs.rowCount)
    case IsNotNull(a: AttributeReference) =>
      fs.cols.get(a.name).exists(_.nullCount == 0)
    case b: BinaryComparison =>
      (attrOf(b.left), attrOf(b.right)) match {
        case (Some(a), None) if b.right.foldable => allIn(a, b, fs, flipped = false)
        case (None, Some(a)) if b.left.foldable => allIn(a, b, fs, flipped = true)
        case _ => false
      }
    case In(ae, vs) if vs.forall(_.foldable) =>
      // provable only when the file is single-valued on the column
      attrOf(ae) match {
        case Some(a) => fs.cols.get(a.name).exists { cs =>
          cs.nullCount == 0 && cs.min.isDefined && cs.min == cs.max &&
            vs.exists(v => literalCanonical(v).contains(cs.min.get) && v.dataType == a.dataType)
        }
        case None => false
      }
    case StartsWith(a: AttributeReference, p) if p.foldable =>
      // min and max sharing the prefix pins every value in between to it
      (fs.cols.get(a.name), literalCanonical(p)) match {
        case (Some(cs), Some(prefix)) =>
          cs.nullCount == 0 &&
            cs.min.exists(_.startsWith(prefix)) && cs.max.exists(_.startsWith(prefix))
        case _ => false
      }
    case _ => false
  }

  /** Does EVERY non-null value of `a` sit on the required side of the
    * literal — i.e. does the whole [min,max] envelope satisfy it? */
  private def allIn(a: AttributeReference, b: BinaryComparison, fs: FileStats, flipped: Boolean): Boolean =
    fs.cols.get(a.name) match {
      case None => false
      case Some(cs) =>
        val litSide = if (flipped) b.left else b.right
        if (cs.nullCount != 0) false
        else (domainOf(a.dataType), literalCanonical(litSide), cs.min, cs.max) match {
          case (Some(d), Some(v), Some(mn), Some(mx)) =>
            b match {
              case _: EqualTo | _: EqualNullSafe => mn == mx && d.cmp(mn, v) == 0
              case _ =>
                val ltLike = b.isInstanceOf[LessThan] || b.isInstanceOf[LessThanOrEqual]
                val inclusive = b.isInstanceOf[LessThanOrEqual] || b.isInstanceOf[GreaterThanOrEqual]
                val attrBelow = ltLike != flipped
                if (attrBelow) { if (inclusive) d.leq(mx, v) else d.lt(mx, v) }
                else { if (inclusive) d.leq(v, mn) else d.lt(v, mn) }
            }
          case _ => false
        }
    }

  /** Classify `files` for an exact filtered COUNT: (fullMatch, noMatch,
    * residual) — full files contribute their manifest row count with no
    * scan, no-match files contribute zero, only residual (boundary)
    * files need reading. Files without stats are residual. */
  def splitForCount(
      spark: SparkSession,
      schema: StructType,
      filter: Column,
      stats: Map[String, FileStats],
      files: Seq[String],
      renames: Map[String, String] = Map.empty): (Seq[String], Seq[String], Seq[String]) = {
    val cond = analyzedCondition(spark, schema, filter, renames).getOrElse(
      return (files, Seq.empty, Seq.empty)) // no filter rows survived analysis: all match
    val full = scala.collection.mutable.Buffer.empty[String]
    val none = scala.collection.mutable.Buffer.empty[String]
    val residual = scala.collection.mutable.Buffer.empty[String]
    files.foreach { f =>
      stats.get(f) match {
        case Some(fs) if mustMatch(cond, fs) => full += f
        case Some(fs) if !mayMatch(cond, fs) => none += f
        case _ => residual += f
      }
    }
    (full.toSeq, none.toSeq, residual.toSeq)
  }


  /** Range check for `attr <op> literal`. `flipped` means the literal is
    * on the LEFT (`lit < attr` ≡ `attr > lit`). */
  private def compare(a: AttributeReference, b: BinaryComparison, fs: FileStats, flipped: Boolean): Boolean = {
    val litSide = if (flipped) b.left else b.right
    b match {
      case _: EqualTo => rangeMay(a, fs, litSide)
      case _: EqualNullSafe =>
        // `x <=> NULL` matches exactly the null rows — the one
        // comparison that is NOT null-rejecting
        if (litSide.eval(EmptyRow) == null) fs.cols.get(a.name).forall(_.nullCount > 0)
        else rangeMay(a, fs, litSide)
      case _ =>
        val ltLike = b.isInstanceOf[LessThan] || b.isInstanceOf[LessThanOrEqual]
        val inclusive = b.isInstanceOf[LessThanOrEqual] || b.isInstanceOf[GreaterThanOrEqual]
        val attrBelow = ltLike != flipped // attr must be below the literal
        bound(a, fs, litSide, attrBelow, inclusive)
    }
  }

  /** May a non-null value of `a` equal the literal? Equality is
    * null-rejecting, so an all-null file is provably excluded. Checks
    * the range first, then the bloom — but the bloom ONLY when the
    * literal's type is exactly the column's (a coercion cast changes the
    * string rendering the bloom was built over, so a widened comparison
    * must not consult it). */
  private def rangeMay(a: AttributeReference, fs: FileStats, litE: Expression): Boolean =
    fs.cols.get(a.name) match {
      case None => true
      case Some(cs) =>
        if (cs.nullCount == fs.rowCount) false
        else (domainOf(a.dataType), literalCanonical(litE)) match {
          case (Some(d), Some(v)) =>
            cs.min.forall(mn => d.leq(mn, v)) && cs.max.forall(mx => d.leq(v, mx)) &&
              cs.bloom.forall(b =>
                litE.dataType != a.dataType || b.mightContain(v))
          case (_, None) if litE.eval(EmptyRow) == null => false // `x = NULL` never matches
          case _ => true
        }
    }

  private def bound(a: AttributeReference, fs: FileStats, litE: Expression,
      attrBelow: Boolean, inclusive: Boolean): Boolean =
    fs.cols.get(a.name) match {
      case None => true
      case Some(cs) =>
        if (cs.nullCount == fs.rowCount) false
        else (domainOf(a.dataType), literalCanonical(litE)) match {
          case (Some(d), Some(v)) =>
            if (attrBelow) cs.min.forall(mn => if (inclusive) d.leq(mn, v) else d.lt(mn, v))
            else cs.max.forall(mx => if (inclusive) d.leq(v, mx) else d.lt(v, mx))
          case (_, None) if litE.eval(EmptyRow) == null => false
          case _ => true
        }
    }

  /** Resolve `filter` against `schema` through the real analyzer (so
    * casts fold, timezones resolve, and names bind exactly as the read
    * itself would). Driver-only; no job runs. */
  /** Resolve `filter` against `schema` (LOGICAL names) and, when the
    * table carries a column mapping, rewrite the resolved attributes to
    * their PHYSICAL names (`renames`: logical → physical) — stats,
    * blooms, and partition transforms all live in physical space, so
    * one rewrite here keeps every skipping tier working across
    * metadata-only renames. */
  private def analyzedCondition(
      spark: SparkSession, schema: StructType, filter: Column,
      renames: Map[String, String] = Map.empty): Option[Expression] = {
    def renamed(cond: Expression): Expression =
      if (renames.isEmpty) cond
      else cond.transform {
        case a: AttributeReference if renames.contains(a.name) =>
          a.withName(renames(a.name))
      }
    // key-probe shortcut: `col(k).isin(vs)` with every literal already
    // the column's exact type needs NOTHING from the analyzer (it would
    // only resolve the attribute and coerce nothing) — but the full
    // analysis pass walks the k-literal In through every rule, O(k)
    // tree work with Catalyst constants, and pruneFiles compiles the
    // SAME filter at up to three tiers (table rollup, segment, file).
    // readPrunedByKeys probes with 50k-key IN sets per maintainer
    // window; resolving directly makes each compile O(k) flat. Any
    // mismatch (qualified name, differing literal type, case-variant
    // column) falls through to the analyzer — semantics identical.
    org.apache.spark.sql.GraftSqlBridge.expressionOf(filter) match {
      case In(ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute, vs)
          if ua.nameParts.length == 1 && vs.nonEmpty &&
            vs.forall(_.isInstanceOf[Literal]) =>
        schema.fields.find(f =>
            f.name == ua.nameParts.head && vs.forall(_.dataType == f.dataType)) match {
          case Some(f) =>
            return Some(renamed(In(
              AttributeReference(f.name, f.dataType, f.nullable)(), vs)))
          case None => // analyzer path below
        }
      case _ =>
    }
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .filter(filter).queryExecution.analyzed
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
      .map(renamed)
  }

  /** Split the file set for a predicate read: (kept, dropped)
    * root-relative paths. When the table committed partition
    * `transforms`, the analyzed condition is additionally translated
    * through each one (see [[PartitionTransform.translate]]) and the
    * translated condition is tested against the virtual-column stats —
    * a file survives only if BOTH the raw condition and every
    * translation admit it. */
  def prune(
      spark: SparkSession,
      schema: StructType,
      filter: Column,
      stats: Map[String, FileStats],
      files: Seq[String],
      transforms: Seq[PartitionTransform] = Nil,
      renames: Map[String, String] = Map.empty): (Seq[String], Seq[String]) = {
    val conds = compileConds(spark, schema, filter, transforms, renames).getOrElse(
      return (files, Seq.empty))
    files.partition(f => stats.get(f) match {
      case Some(fs) =>
        PruneMeters.filesEvaluated.incrementAndGet()
        mayMatchConds(conds, fs)
      case None => true // untracked file: always keep
    })
  }

  /** Analyze `filter` ONCE into the condition set every skipping tier
    * evaluates (the raw condition plus its partition-transform
    * translations) — None when no sound analysis base exists (keep
    * everything). Callers evaluating many rollups/files share one
    * compile instead of re-analyzing per evaluation. */
  private[sources] def compileConds(spark: SparkSession, schema: StructType,
      filter: Column, transforms: Seq[PartitionTransform],
      renames: Map[String, String]): Option[Seq[Expression]] =
    analyzedCondition(spark, schema, filter, renames).map(cond =>
      // translate FIRST (the translator sees plain Catalyst shapes),
      // then compile each condition's big INs for O(log k) evaluation
      (cond +: transforms.flatMap(t => PartitionTransform.translate(t, cond)))
        .map(prepareIns))

  /** May any row with stats `fs` match the compiled conditions? */
  private[sources] def mayMatchConds(conds: Seq[Expression], fs: FileStats): Boolean =
    conds.forall(mayMatch(_, fs))

  /** Plan-tier instrumentation (spec-read): per-file stats EVALUATIONS
    * performed by pruning, and whole segments excluded by their rollup
    * with zero per-file work. The two-tier scale contract: a selective
    * probe on a segmented table evaluates per-file stats only inside
    * segments whose rollup admits the predicate — at 10M files the
    * planning cost is O(segments + surviving members), never 10M
    * predicate evaluations per planned query. */
  private[graft] object PruneMeters {
    val filesEvaluated = new java.util.concurrent.atomic.AtomicLong()
    val segmentsExcluded = new java.util.concurrent.atomic.AtomicLong()
    def snapshot: (Long, Long) = (filesEvaluated.get, segmentsExcluded.get)
  }

  /** [[prune]] over PRE-GROUPED files — the two-tier segment layout's
    * plan tier (Iceberg's manifest-level pruning): each group carries an
    * optional ROLLUP of its members' stats ([[rollup]]); when the rollup
    * proves no member can match, the whole group drops in O(columns)
    * predicate work with its per-file stats untouched. Groups whose
    * rollup admits the predicate (or that carry none — keep-biased)
    * fall through to exactly [[prune]]'s per-file test, so the split
    * equals the flat prune over the concatenated members: a rollup
    * excludes only when every member's (tighter) stats would. */
  def pruneGrouped(
      spark: SparkSession,
      schema: StructType,
      filter: Column,
      stats: Map[String, FileStats],
      groups: Seq[(Option[FileStats], Seq[String])],
      transforms: Seq[PartitionTransform] = Nil,
      renames: Map[String, String] = Map.empty): (Seq[String], Seq[String]) = {
    val conds = compileConds(spark, schema, filter, transforms, renames).getOrElse(
      return (groups.flatMap(_._2), Seq.empty))
    val kept = Seq.newBuilder[String]
    val dropped = Seq.newBuilder[String]
    groups.foreach { case (ru, members) =>
      if (ru.exists(r => !mayMatchConds(conds, r))) {
        PruneMeters.segmentsExcluded.incrementAndGet()
        dropped ++= members
      } else members.foreach { f =>
        stats.get(f) match {
          case Some(fs) =>
            PruneMeters.filesEvaluated.incrementAndGet()
            if (mayMatchConds(conds, fs)) kept += f else dropped += f
          case None => kept += f
        }
      }
    }
    (kept.result(), dropped.result())
  }
}
