package graft.seed

import java.io.{DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.{DigestOutputStream, MessageDigest}
import java.util.HexFormat

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

import graft.schema.Schemas

/** Seed loading — the engine's equivalent of `dbt seed`
  * (reference: README.md:46-49).
  *
  * A seed CSV becomes a typed DataFrame under a pinned schema. dbt infers
  * types once at seed time; we replicate that inference statically
  * (SURVEY.md §1.3) so runtime behavior never depends on data sniffing —
  * at 100 TB a schema drift silently changing a column type is not
  * acceptable.
  *
  * Scale note: `csv()` scans parallelize per-file/per-split; materializing
  * to parquet (`materialize`) is what a production run would do so every
  * downstream read is columnar with pushdown.
  *
  * Materializing is state-aware by content, the way dbt compares seed
  * files by checksum for `state:modified`: each seed's parquet directory
  * carries a `_`-prefixed stamp (parquet readers skip such files) holding
  * the [[digest]] of the frame it was written from, and an unchanged seed
  * is not rewritten. The digest hashes every input byte, which the CSV
  * scan that a rewrite runs reads anyway, so it costs no more than the
  * seed's size; seeds are small reference tables, not facts.
  */
object SeedLoader {

  /** The content stamp inside a materialized seed's directory. */
  private[graft] val StampFile = "_SEED_DIGEST"

  /** Load one CSV under an explicit schema (header row skipped).
    * FAILFAST: a row that doesn't fit the pinned schema aborts the seed
    * load — silent NULL-coercion of malformed data (PERMISSIVE default)
    * is how schema drift sneaks into a 100 TB lake.
    */
  def loadCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("dateFormat", "yyyy-MM-dd")
      .option("mode", "FAILFAST")
      .csv(path)

  /** Load the three jaffle-shop seeds from a directory containing
    * raw_customers.csv / raw_orders.csv / raw_payments.csv.
    */
  def loadJaffleSeeds(spark: SparkSession, dir: String): Map[String, DataFrame] = Map(
    "raw_customers" -> loadCsv(spark, s"$dir/raw_customers.csv", Schemas.rawCustomers),
    "raw_orders"    -> loadCsv(spark, s"$dir/raw_orders.csv", Schemas.rawOrders),
    "raw_payments"  -> loadCsv(spark, s"$dir/raw_payments.csv", Schemas.rawPayments)
  )

  /** Materialize seeds as parquet (columnar, splittable) under
    * `outDir/<name>` and re-read, so downstream models scan parquet not
    * CSV.
    *
    * A seed whose directory holds a stamp equal to its [[digest]] is not
    * rewritten. Otherwise the stamp is deleted, the parquet overwritten,
    * and the stamp written only after the write returns: a write that
    * dies midway leaves no stamp, so the next call rewrites. A frame with
    * no digest (anything but a plain file scan) is written every time.
    * Either way the parquet is re-read under the frame's own schema,
    * which is what footer inference would return, so no inference job
    * runs.
    */
  def materialize(spark: SparkSession, seeds: Map[String, DataFrame], outDir: String): Map[String, DataFrame] =
    seeds.map { case (name, df) =>
      val path = new Path(s"$outDir/$name")
      val stamp = new Path(path, StampFile)
      val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
      val current = digest(df)
      if (current.isEmpty || current != readStamp(fs, stamp)) {
        fs.delete(stamp, false)
        df.write.mode("overwrite").parquet(path.toString)
        current.foreach { d =>
          val out = fs.create(stamp, true)
          try out.write(d.getBytes(UTF_8)) finally out.close()
        }
      }
      name -> spark.read.schema(df.schema).parquet(path.toString)
    }

  private def readStamp(fs: FileSystem, stamp: Path): Option[String] =
    if (!fs.exists(stamp)) None
    else {
      val in = fs.open(stamp)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }

  /** A SHA-256 content digest of a seed frame, or None when its analyzed
    * plan is not a plain batch scan of files (`LogicalRelation` over a
    * `HadoopFsRelation`, no catalog table): only then is the frame's
    * result a function of what the digest covers, which is
    *  - the file format, the reader options other than the path, the
    *    data, partition and bucket specs, and the output columns (names,
    *    types, nullability, metadata; not expression ids, which differ
    *    per load);
    *  - the session's `spark.sql.*` settings and the Spark version, which
    *    decide how the bytes parse;
    *  - every input file in sorted path order: its partition values, its
    *    length and a SHA-256 of its bytes.
    * Paths and modification times are not covered, so the digest names
    * content wherever it lives. Reading every input byte bounds its cost
    * by the seed's size, the same bytes the scan itself reads; the files
    * must not change during the call that uses the digest.
    */
  def digest(df: DataFrame): Option[String] = GraftSqlBridge.analyzed(df) match {
    case LogicalRelation(fsr: HadoopFsRelation, output, None, false, None) =>
      val md = MessageDigest.getInstance("SHA-256")
      val out = new DataOutputStream(new DigestOutputStream(OutputStream.nullOutputStream(), md))
      def str(s: String): Unit = { val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
      str(fsr.fileFormat.getClass.getName)
      // a single-path load carries its path as the "path" option; the
      // files it names are covered below, by content
      val options = (fsr.options - "path").toSeq.sorted
      out.writeInt(options.size)
      options.foreach { case (k, v) => str(k); str(v) }
      str(fsr.dataSchema.json)
      str(fsr.partitionSchema.json)
      str(fsr.bucketSpec.toString)
      out.writeInt(output.size)
      output.foreach { a =>
        str(a.name); str(a.dataType.json); out.writeBoolean(a.nullable); str(a.metadata.json)
      }
      val spark = fsr.sparkSession
      val confs = spark.sessionState.conf.getAllConfs.toSeq.filter(_._1.startsWith("spark.sql.")).sorted
      out.writeInt(confs.size)
      confs.foreach { case (k, v) => str(k); str(v) }
      str(spark.version)
      val files = fsr.location.listFiles(Nil, Nil).flatMap { pd =>
        val values = pd.values.toSeq(fsr.partitionSchema)
        pd.files.map(f => (f.getPath, values))
      }.sortBy(_._1.toString)
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(fsr.options)
      out.writeInt(files.size)
      files.foreach { case (p, values) =>
        values.foreach { v => out.writeBoolean(v == null); if (v != null) str(v.toString) }
        val fileMd = MessageDigest.getInstance("SHA-256")
        val in = p.getFileSystem(hadoopConf).open(p)
        val length = try in.transferTo(new DigestOutputStream(OutputStream.nullOutputStream(), fileMd))
          finally in.close()
        out.writeLong(length)
        out.write(fileMd.digest())
      }
      Some(HexFormat.of.formatHex(md.digest()))
    case _ => None
  }
}
