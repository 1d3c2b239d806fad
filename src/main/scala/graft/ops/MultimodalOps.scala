package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: image/audio/video as opaque `binary`
  * columns with typed metadata.
  *
  * What is REAL here (and tested): the Spark-side plumbing — binary
  * schema, magic-byte format sniffing on actual bytes, metadata
  * extraction, partition-iterator decode shape, deterministic
  * chunk/frame sampling, byte-histogram featurization — and, for
  * PNG/JPEG, true image dimensions via the JDK's `javax.imageio`
  * (header-only parse, zero new dependencies). What is STUBBED (clearly
  * marked): decode for every other media format (audio/video codecs are
  * not in this container) — [[decodeImage]] falls back to a
  * deterministic fake-dimension formula there. Swapping in a real codec
  * changes ONE function arm, none of the distributed shape.
  *
  * Scale notes: all metadata/sniff/featurize ops are narrow per-row
  * projections (no shuffle). Decode runs via `mapPartitions` so a real
  * codec would amortize per-partition init (model load, JNI handles) —
  * the same batch shape Pandas-UDF decoding uses in PySpark.
  */
object MultimodalOps {

  /** A decoded-media feature row (what a real decoder would emit). */
  final case class MediaFeatures(
      item_id: Long,
      format: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      embedding: Array[Float]
  )

  /** Magic-byte container sniffing on real bytes — not a stub. */
  def sniffFormat(bin: Column): Column = {
    val h = hex(substring(bin, 1, 4)) // first 4 bytes as uppercase hex
    when(h.startsWith("FFD8"), "jpeg")
      .when(h.startsWith("89504E47"), "png")
      .when(h.startsWith("47494638"), "gif")
      .when(h.startsWith("52494646"), "riff") // WAV/AVI container
      .when(h.startsWith("25504446"), "pdf")
      // ISO-BMFF (MP4/MOV): the brand box tag sits at byte offset 4,
      // after the 32-bit box size
      .when(hex(substring(bin, 5, 4)) === "66747970", "mp4") // 'ftyp'
      .otherwise("unknown")
  }

  /** Binary metadata projection: size, format, content hash. */
  def withBinaryMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("n_bytes", length(col(binCol)).cast("long"))
      .withColumn("format", sniffFormat(col(binCol)))
      .withColumn("content_md5", md5(col(binCol)))

  /** Deterministic frame/chunk sampling: split a binary payload into up to
    * `maxFrames` fixed-size chunks, one output row per chunk (a video
    * decoder would emit frames; the chunking + explode shape is
    * identical). `substring` slices binary natively — no string round-trip.
    */
  def sampleChunks(df: DataFrame, binCol: String, chunkBytes: Int, maxFrames: Int): DataFrame = {
    val nChunks = least(
      ceil(length(col(binCol)).cast("double") / chunkBytes).cast("int"),
      lit(maxFrames))
    // guard empty payloads: sequence(1, 0) counts DOWN ([1,0]) instead of
    // yielding an empty array (same trap as DedupOps.shingles)
    val chunkIdx = when(nChunks >= 1, sequence(lit(1), nChunks))
      .otherwise(array().cast("array<int>"))
    df.withColumn("__n_chunks", nChunks)
      .select(col("*"),
        posexplode(transform(chunkIdx,
          i => col(binCol).substr((i - 1) * chunkBytes + 1, lit(chunkBytes)))))
      .withColumnsRenamed(Map("pos" -> "chunk_idx", "col" -> "chunk"))
      .drop("__n_chunks")
  }

  /** STUB resize (clearly marked): a real implementation hands the decoded
    * image to a scaler; this deterministic fake nearest-neighbor-samples
    * the raw payload bytes down to `targetW × targetH` "pixels" so the
    * distributed shape (narrow per-row transform, bounded output size,
    * binary in → binary out) is real and testable without a codec.
    */
  def resizeStub(df: DataFrame, binCol: String, targetW: Int, targetH: Int): DataFrame = {
    val outLen = targetW * targetH
    val n = length(col(binCol))
    // sample positions 1..outLen mapped proportionally across the payload
    val sampled = transform(sequence(lit(1), lit(outLen)),
      i => col(binCol).substr((((i - 1) * n) / outLen).cast("int") + 1, lit(1)))
    // fold the sampled bytes back into one binary value (concat of an
    // array<binary> column would stay an array)
    val folded = aggregate(sampled, lit(Array.emptyByteArray), (acc, x) => concat(acc, x))
    df.withColumn("resized",
        when(n >= 1, folded).otherwise(lit(Array.emptyByteArray)))
      .withColumn("resized_w", lit(targetW))
      .withColumn("resized_h", lit(targetH))
  }

  /** Real header-only dimension decode for PNG/JPEG via the JDK's
    * `javax.imageio` (zero new dependencies). `ImageReader.getWidth/
    * getHeight` parse only the header — the pixel payload is never
    * decoded, which is the right 100 TB shape for a metadata pass.
    * Returns None for anything the registry can't read (corrupt or
    * unsupported bytes) so callers can fall back deterministically.
    */
  private[ops] def imageDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.isEmpty) return None
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        // NonFatal, not just IOException: ImageIO plugins throw runtime
        // exceptions on some malformed headers, and one corrupt document
        // must not fail a corpus-scale task
        try { r.setInput(iis, true); Some((r.getWidth(0), r.getHeight(0))) }
        catch { case scala.util.control.NonFatal(_) => None }
        finally r.dispose()
      }
    } finally iis.close()
  }

  /** Image decode inside `mapPartitions` — per-partition iterator so codec
    * init amortizes, rows stream through without materializing the whole
    * partition.
    *
    * PNG/JPEG payloads get REAL dimensions (header-only parse via the
    * JDK's ImageIO, [[imageDims]]); every other format falls back to the
    * clearly-marked deterministic stub formula (byte length + first/last
    * byte), which is reproducible in ANSI SQL so the decode plumbing
    * stays answerable to the DuckDB oracle on text-byte inputs (those
    * can never sniff as png/jpeg — FFD8/89504E47 can't begin valid
    * UTF-8 text). The feature vector is a real byte histogram either way.
    */
  def decodeImage(df: DataFrame, idCol: String, binCol: String)(
      implicit enc: org.apache.spark.sql.Encoder[MediaFeatures]): Dataset[MediaFeatures] = {
    val prepared = withBinaryMeta(df.select(col(idCol).as("item_id"), col(binCol).as("content")), "content")
      .select(col("item_id"), col("content"), col("n_bytes"), col("format"))
    prepared.mapPartitions { rows =>
      // per-partition init point: ImageIO's plugin registry is touched
      // lazily on first use inside this task, then reused for every row
      rows.map { r =>
        val id = r.getAs[Long]("item_id")
        val bytes = r.getAs[Array[Byte]]("content")
        val fmt = r.getAs[String]("format")
        val n = r.getAs[Long]("n_bytes")
        val dims = if (fmt == "png" || fmt == "jpeg") imageDims(bytes) else None
        val (width, height) = dims.getOrElse {
          // STUB fallback (NOT a codec): deterministic fake dimensions
          val fb = if (bytes.nonEmpty) bytes(0) & 0xff else 0
          val lb = if (bytes.nonEmpty) bytes(bytes.length - 1) & 0xff else 0
          ((16 + (n * 31 + fb) % 1024).toInt, (16 + (n * 17 + lb) % 1024).toInt)
        }
        // real byte histogram as the feature vector
        val hist = new Array[Float](16)
        var i = 0
        while (i < bytes.length) { hist((bytes(i) & 0xf0) >> 4) += 1f; i += 1 }
        val total = math.max(1f, bytes.length.toFloat)
        var j = 0
        while (j < 16) { hist(j) /= total; j += 1 }
        MediaFeatures(id, fmt, n, width, height, hist)
      }
    }
  }

  /** Decoded audio metadata (what [[decodeAudioMeta]] emits). */
  final case class AudioMeta(
      item_id: Long,
      format: String,
      n_bytes: Long,
      channels: Int,
      sample_rate: Int,
      bits_per_sample: Int)

  /** Real RIFF/WAVE header parse — a chunk walk to the `fmt ` chunk,
    * reading channels / sample rate / bits per sample from its PCM
    * fields (little-endian, word-aligned chunks). Header-only: the
    * sample payload is never touched, so this is a metadata pass like
    * [[imageDims]]. Returns None for anything that isn't a well-formed
    * RIFF/WAVE container.
    */
  private[graft] def wavMeta(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    def le16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def le32(o: Int): Int =
      (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
        ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 36 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    // Long offset: an adversarial chunk size near 2^31 would wrap an Int
    // offset negative and index out of bounds — corrupt bytes must yield
    // None, never a task failure, in a corpus-scale metadata pass
    var off = 12L
    while (off + 8 <= bytes.length) {
      val o = off.toInt
      val sz = le32(o + 4).toLong & 0xffffffffL
      if (tag(o) == "fmt ") {
        if (sz < 16 || off + 8 + 16 > bytes.length) return None
        return Some((le16(o + 10), le32(o + 12), le16(o + 22)))
      }
      off += 8L + sz + (sz & 1L) // chunks are 2-byte aligned
    }
    None
  }

  /** Decoded video-container metadata (what [[decodeVideoMeta]] emits). */
  final case class VideoMeta(
      item_id: Long,
      format: String,
      n_bytes: Long,
      major_brand: String,
      timescale: Int,
      duration_ms: Long,
      n_tracks: Int)

  /** Real ISO-BMFF (MP4/MOV) box walk — header-only, like [[wavMeta]]:
    * reads the `ftyp` major brand, then walks the top-level boxes to
    * `moov` and its children for the `mvhd` timescale/duration (version
    * 0 and 1 layouts) and the `trak` count. Big-endian sizes; a size of
    * 1 means a 64-bit extended size follows the tag, and adversarial or
    * truncated sizes yield None, never a task failure — one corrupt file
    * must not kill a corpus-scale metadata pass.
    */
  private[graft] def mp4Meta(bytes: Array[Byte]): Option[(String, Int, Long, Int)] = {
    def be32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    val len = bytes.length.toLong
    if (len < 16 || tag(4) != "ftyp") return None
    val majorBrand = tag(8)
    // walk [start, end) top-level boxes; returns (payloadStart, payloadEnd)
    // of the first box with the wanted tag, header-size aware
    def findBox(start: Long, end: Long, wanted: String): Option[(Long, Long)] = {
      var off = start
      while (off + 8 <= end) {
        val o = off.toInt
        val sz32 = be32(o)
        val (boxSize, headerLen) =
          if (sz32 == 1L) {
            if (off + 16 > end) return None
            (be64(o + 8), 16L)
          } else if (sz32 == 0L) (end - off, 8L) // box extends to end
          else (sz32, 8L)
        if (boxSize < headerLen || off + boxSize > end) return None // corrupt size
        if (tag(o + 4) == wanted) return Some((off + headerLen, off + boxSize))
        off += boxSize
      }
      None
    }
    def countBoxes(start: Long, end: Long, wanted: String): Int = {
      var off = start
      var n = 0
      while (off + 8 <= end) {
        val o = off.toInt
        val sz32 = be32(o)
        val (boxSize, headerLen) =
          if (sz32 == 1L) { if (off + 16 > end) return n; (be64(o + 8), 16L) }
          else if (sz32 == 0L) (end - off, 8L)
          else (sz32, 8L)
        if (boxSize < headerLen || off + boxSize > end) return n
        if (tag(o + 4) == wanted) n += 1
        off += boxSize
      }
      n
    }
    findBox(0L, len, "moov").flatMap { case (moovStart, moovEnd) =>
      val nTracks = countBoxes(moovStart, moovEnd, "trak")
      findBox(moovStart, moovEnd, "mvhd").flatMap { case (s, e) =>
        val o = s.toInt
        if (s + 4 > e) None
        else bytes(o) & 0xff match {
          case 0 if s + 4 + 16 <= e => // v0: 32-bit times
            val timescale = be32(o + 12).toInt
            val duration = be32(o + 16)
            if (timescale <= 0) None
            else Some((majorBrand, timescale, duration * 1000L / timescale, nTracks))
          case 1 if s + 4 + 28 <= e => // v1: 64-bit create/modify/duration
            val timescale = be32(o + 20).toInt
            val duration = be64(o + 24)
            if (timescale <= 0) None
            else Some((majorBrand, timescale, duration * 1000L / timescale, nTracks))
          case _ => None
        }
      }
    }
  }

  /** Video metadata decode in the same mapPartitions shape as
    * [[decodeImage]]/[[decodeAudioMeta]]: MP4/MOV payloads get REAL
    * brand/timescale/duration/track-count from the box walk; other
    * formats report empty/zero (video codecs beyond the container level
    * are not in this environment — that arm is the stub).
    */
  def decodeVideoMeta(df: DataFrame, idCol: String, binCol: String)(
      implicit enc: org.apache.spark.sql.Encoder[VideoMeta]): Dataset[VideoMeta] = {
    val prepared = withBinaryMeta(df.select(col(idCol).as("item_id"), col(binCol).as("content")), "content")
      .select(col("item_id"), col("content"), col("n_bytes"), col("format"))
    prepared.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("content")
        val fmt = r.getAs[String]("format")
        val meta = if (fmt == "mp4") mp4Meta(bytes) else None
        val (brand, timescale, durMs, nTracks) = meta.getOrElse(("", 0, 0L, 0))
        VideoMeta(r.getAs[Long]("item_id"), fmt, r.getAs[Long]("n_bytes"),
          brand, timescale, durMs, nTracks)
      }
    }
  }

  /** Audio metadata decode in the same mapPartitions shape as
    * [[decodeImage]]: WAV payloads (RIFF container) get REAL channel
    * count / sample rate / bit depth from the header chunk walk; other
    * formats report zeros (audio codecs beyond the WAV container are
    * not in this container — that arm is the stub).
    */
  def decodeAudioMeta(df: DataFrame, idCol: String, binCol: String)(
      implicit enc: org.apache.spark.sql.Encoder[AudioMeta]): Dataset[AudioMeta] = {
    val prepared = withBinaryMeta(df.select(col(idCol).as("item_id"), col(binCol).as("content")), "content")
      .select(col("item_id"), col("content"), col("n_bytes"), col("format"))
    prepared.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("content")
        val fmt = r.getAs[String]("format")
        val meta = if (fmt == "riff") wavMeta(bytes) else None
        val (ch, rate, bps) = meta.getOrElse((0, 0, 0))
        AudioMeta(r.getAs[Long]("item_id"), fmt, r.getAs[Long]("n_bytes"), ch, rate, bps)
      }
    }
  }

  // ---- image-content dedup: perceptual hash + Hamming banding -----------

  /** 64-bit dHash (difference hash — the standard perceptual image
    * fingerprint: row-wise adjacent-brightness comparisons over a 9×8
    * grayscale thumbnail; near-duplicate images differ in a few bits,
    * unrelated ones in ~32). REAL full-pixel decode via the JDK's
    * `javax.imageio` (zero new dependencies), then a DETERMINISTIC
    * integer box-filter downsample — Graphics2D interpolation is
    * platform/VM-dependent and would make the hash a moving target; raw
    * `getRGB` averages with BT.601 integer luma weights reproduce
    * bit-for-bit anywhere. None for undecodable bytes so callers fall
    * back deterministically. */
  private[graft] def dHash64(bytes: Array[Byte]): Option[Long] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }
    img.flatMap(dHashOf)
  }

  /** The dHash grid over an already-decoded image (shared by the
    * single-image and per-video-frame paths). */
  private def dHashOf(im: java.awt.image.BufferedImage): Option[Long] = {
    {
      val w = im.getWidth
      val h = im.getHeight
      if (w <= 0 || h <= 0) None
      else {
        val gw = 9; val gh = 8
        val g = Array.ofDim[Long](gh, gw)
        var gy = 0
        while (gy < gh) {
          var gx = 0
          while (gx < gw) {
            val x0 = gx * w / gw; val x1 = math.max(x0 + 1, (gx + 1) * w / gw)
            val y0 = gy * h / gh; val y1 = math.max(y0 + 1, (gy + 1) * h / gh)
            var sum = 0L; var cnt = 0L
            var y = y0
            while (y < math.min(y1, h)) {
              var x = x0
              while (x < math.min(x1, w)) {
                val rgb = im.getRGB(x, y)
                sum += ((rgb >> 16) & 0xff) * 299L +
                  ((rgb >> 8) & 0xff) * 587L + (rgb & 0xff) * 114L
                cnt += 1; x += 1
              }
              y += 1
            }
            g(gy)(gx) = if (cnt == 0) 0L else sum / cnt
            gx += 1
          }
          gy += 1
        }
        var hash = 0L; var bit = 0
        var yy = 0
        while (yy < gh) {
          var xx = 0
          while (xx < gw - 1) {
            if (g(yy)(xx) < g(yy)(xx + 1)) hash |= (1L << bit)
            bit += 1; xx += 1
          }
          yy += 1
        }
        Some(hash)
      }
    }
  }

  /** Perceptual hash column per item: PNG/JPEG payloads get the REAL
    * [[dHash64]] (full decode inside `mapPartitions` — the codec
    * boundary, like [[decodeImage]]); everything else (and undecodable
    * image bytes) falls back to a STUB fingerprint that is pure SQL —
    * the first 15 md5 nibbles as a 60-bit integer — so the plumbing
    * stays answerable to the DuckDB oracle on text-byte corpora.
    * Returns (item_id, format, phash, is_decoded). */
  def perceptualHash(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val prepared = withBinaryMeta(
      df.select(col(idCol).as("item_id"), col(binCol).as("content")), "content")
      .select(col("item_id"), col("content"), col("format"))
    val real = prepared
      .mapPartitions { rows =>
        rows.map { r =>
          val fmt = r.getAs[String]("format")
          val dh =
            if (fmt == "png" || fmt == "jpeg") dHash64(r.getAs[Array[Byte]]("content"))
            else None
          (r.getAs[Long]("item_id"), fmt, dh)
        }
      }.toDF("item_id", "format", "dhash")
    // the stub arm is a COLUMN expression on the original bytes, joined
    // back by id — never computed in the JVM loop, so the oracle formula
    // and the engine formula are the same text
    val stub = df.select(col(idCol).as("item_id"),
      expr(s"CAST(conv(substring(md5(`$binCol`), 1, 15), 16, 10) AS BIGINT)").as("stub"))
    real.join(stub, Seq("item_id"))
      .select(col("item_id"), col("format"),
        coalesce(col("dhash"), col("stub")).as("phash"),
        col("dhash").isNotNull.as("is_decoded"))
  }

  /** Near-duplicate pairs at Hamming ≤ `maxHamming` over a 64-bit
    * fingerprint frame (item_id, phash): candidates via the pigeonhole
    * 4×16-bit chunk banding (complete up to Hamming 3 —
    * [[graft.ops.DedupOps.simHashNearDupPairs]]'s machinery applied to
    * media fingerprints), exact `bit_count` filter on the XOR. The
    * 100 TB shape is the SimHash one: one narrow signature pass,
    * candidates only from equal band buckets, the Hamming filter before
    * the dedup exchange. */
  private def hammingBandPairs(sig: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, s"4-chunk banding supports maxHamming <= 3, got $maxHamming")
    val chunks: Seq[Column] =
      (0 until 4).map(c => shiftright(col("phash"), c * 16).bitwiseAND(0xffffL))
    val chunked = sig.select(col("item_id"), col("phash"),
        posexplode(array(chunks: _*)))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
    val left = chunked.select(col("chunk"), col("chunk_val"),
      col("item_id").as("id_a"), col("phash").as("phash_a"))
    val right = chunked.select(col("chunk"), col("chunk_val"),
      col("item_id").as("id_b"), col("phash").as("phash_b"))
    left.join(right, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("phash_a").bitwiseXOR(col("phash_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
  }

  /** Near-duplicate IMAGE pairs over [[perceptualHash]]. */
  def imageNearDupPairs(
      df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingBandPairs(
      perceptualHash(df, idCol, binCol).select(col("item_id"), col("phash")),
      maxHamming)

  // ---- audio-content dedup: energy-envelope fingerprint -----------------

  /** 64-bit audio fingerprint: the dHash idea on the ENERGY ENVELOPE —
    * decode 16-bit PCM from a real RIFF/WAVE payload (header chunk walk
    * via [[wavMeta]]'s machinery, pure integer math, no codec), split
    * the samples into 65 equal frames, frame energy = Σ|sample|
    * (channel-summed), bit j = 1 iff energy(j) < energy(j+1). Adjacent
    * comparisons make it VOLUME-invariant (uniform gain preserves every
    * comparison) the way dHash is brightness-invariant; a local edit
    * flips only the bits whose frames it touches. None for non-WAV /
    * non-16-bit / too-short payloads so callers fall back
    * deterministically. */
  private[graft] def audioHash64(bytes: Array[Byte]): Option[Long] = {
    val meta = wavMeta(bytes)
    if (meta.isEmpty || meta.get._3 != 16) return None
    def le16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def le32(o: Int): Int =
      le16(o) | (le16(o + 2) << 16)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    // chunk walk to 'data' (the same walk wavMeta does to 'fmt ')
    var off = 12
    var dataOff = -1; var dataLen = 0
    while (dataOff < 0 && off + 8 <= bytes.length) {
      val sz = le32(off + 4)
      if (sz < 0) return None
      if (tag(off) == "data") { dataOff = off + 8; dataLen = math.min(sz, bytes.length - dataOff) }
      else off += 8 + sz + (sz & 1)
    }
    val nSamples = dataLen / 2
    val frames = 65
    if (dataOff < 0 || nSamples < frames) return None
    val energy = new Array[Long](frames)
    var i = 0
    while (i < nSamples) {
      val f = (i.toLong * frames / nSamples).toInt
      val s = (le16(dataOff + i * 2) << 16) >> 16 // sign-extend
      energy(f) += math.abs(s).toLong
      i += 1
    }
    var hash = 0L
    var j = 0
    while (j < frames - 1) {
      if (energy(j) < energy(j + 1)) hash |= (1L << j)
      j += 1
    }
    Some(hash)
  }

  /** [[perceptualHash]] for audio: RIFF payloads get the REAL
    * [[audioHash64]]; everything else falls back to the same pure-SQL
    * md5-prefix stub. Returns (item_id, format, phash, is_decoded). */
  def audioFingerprint(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val prepared = withBinaryMeta(
      df.select(col(idCol).as("item_id"), col(binCol).as("content")), "content")
      .select(col("item_id"), col("content"), col("format"))
    val real = prepared
      .mapPartitions { rows =>
        rows.map { r =>
          val fmt = r.getAs[String]("format")
          val ah =
            if (fmt == "riff") audioHash64(r.getAs[Array[Byte]]("content"))
            else None
          (r.getAs[Long]("item_id"), fmt, ah)
        }
      }.toDF("item_id", "format", "ahash")
    val stub = df.select(col(idCol).as("item_id"),
      expr(s"CAST(conv(substring(md5(`$binCol`), 1, 15), 16, 10) AS BIGINT)").as("stub"))
    real.join(stub, Seq("item_id"))
      .select(col("item_id"), col("format"),
        coalesce(col("ahash"), col("stub")).as("phash"),
        col("ahash").isNotNull.as("is_decoded"))
  }

  /** Near-duplicate AUDIO pairs over [[audioFingerprint]]. */
  def audioNearDupPairs(
      df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingBandPairs(
      audioFingerprint(df, idCol, binCol).select(col("item_id"), col("phash")),
      maxHamming)

  // ---- video-content dedup: per-frame dHash + aligned-frame voting -------

  /** Per-frame dHashes of a MULTI-FRAME image container (animated GIF —
    * the one video-like format the JDK decodes with zero new
    * dependencies; a real codec swaps in at this exact seam): up to
    * `maxFrames` frames via the ImageIO sequence reader, each hashed by
    * the [[dHash64]] grid. Frames are the reader's RAW frame images
    * (disposal compositing is the codec's concern — full-frame encodes,
    * like [[VideoFixtures]]', are exact). None for undecodable bytes. */
  private[graft] def videoFrameHashes(
      bytes: Array[Byte], maxFrames: Int = 8): Option[Seq[Long]] = {
    if (bytes.isEmpty) return None
    val iis =
      try javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => return None }
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return None
      val r = readers.next()
      try {
        r.setInput(iis, false)
        val n = math.min(r.getNumImages(true), maxFrames)
        if (n <= 0) return None
        val hs = (0 until n).flatMap(i => dHashOf(r.read(i)))
        if (hs.size == n) Some(hs) else None
      } catch { case scala.util.control.NonFatal(_) => None }
      finally r.dispose()
    } finally iis.close()
  }

  /** Per-frame fingerprint rows (item_id, frame_idx, fhash) — the
    * exploded form the banded pair search joins on. Undecodable clips
    * contribute no frames (and so never pair). */
  def videoFingerprint(df: DataFrame, idCol: String, binCol: String,
      maxFrames: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).as("item_id"), col(binCol).as("content"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getAs[Long]("item_id")
          videoFrameHashes(r.getAs[Array[Byte]]("content"), maxFrames)
            .toSeq.flatMap(_.zipWithIndex.map { case (h, i) => (id, i, h) })
        }
      }.toDF("item_id", "frame_idx", "fhash")
  }

  /** Near-duplicate VIDEO pairs: two clips match when at least
    * `minMatchingFrames` ALIGNED frames (same index) land within
    * `maxHamming` of each other. Candidates come from the 4×16-bit
    * banding per (frame_idx, chunk) — pigeonhole-complete per frame, so
    * the matched-frame count is exact — then one aggregate per pair.
    * The 100 TB shape: signatures are maxFrames rows/clip, candidates
    * only from equal (frame, band) buckets, never all-pairs. */
  def videoNearDupPairs(
      df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, minMatchingFrames: Int = 5,
      maxFrames: Int = 8): DataFrame = {
    require(maxHamming <= 3, s"4-chunk banding supports maxHamming <= 3, got $maxHamming")
    require(minMatchingFrames >= 1 && minMatchingFrames <= maxFrames,
      "minMatchingFrames must be within [1, maxFrames]")
    val fh = videoFingerprint(df, idCol, binCol, maxFrames)
    val chunks: Seq[Column] =
      (0 until 4).map(c => shiftright(col("fhash"), c * 16).bitwiseAND(0xffffL))
    val chunked = fh.select(col("item_id"), col("frame_idx"), col("fhash"),
        posexplode(array(chunks: _*)))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
    val left = chunked.select(col("frame_idx"), col("chunk"), col("chunk_val"),
      col("item_id").as("id_a"), col("fhash").as("fhash_a"))
    val right = chunked.select(col("frame_idx"), col("chunk"), col("chunk_val"),
      col("item_id").as("id_b"), col("fhash").as("fhash_b"))
    left.join(right, Seq("frame_idx", "chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("fhash_a").bitwiseXOR(col("fhash_b"))) <= maxHamming)
      .select("id_a", "id_b", "frame_idx")
      .dropDuplicates("id_a", "id_b", "frame_idx")
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("long").as("matched_frames"))
      .filter(col("matched_frames") >= minMatchingFrames)
  }

  /** [[videoNearDupPairs]] with TEMPORAL-SHIFT tolerance: a clip whose
    * copy was trimmed or padded by up to `maxOffset` frames defeats
    * strict same-index voting (every aligned pair compares different
    * content), so the vote here runs per CANDIDATE OFFSET d ∈
    * [-maxOffset, +maxOffset] — frame i of `a` against frame i+d of
    * `b` — and a pair matches when its BEST single offset aligns at
    * least `minMatchingFrames` frames within `maxHamming`. One offset
    * must explain the match (a real trim shifts every frame by the same
    * d); matches scattered across offsets still refuse.
    *
    * The 100 TB shape is unchanged: candidates come only from equal
    * (aligned frame, band) buckets — the left side fans out by the
    * (2·maxOffset+1) candidate alignments, a constant factor, never
    * all-pairs. Returns (id_a, id_b, matched_frames, offset) with
    * offset = the winning alignment (b runs `offset` frames behind a's
    * indices; ties prefer the smallest |offset|). */
  def videoNearDupPairsShifted(
      df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, minMatchingFrames: Int = 5,
      maxFrames: Int = 8, maxOffset: Int = 2): DataFrame = {
    require(maxHamming <= 3, s"4-chunk banding supports maxHamming <= 3, got $maxHamming")
    require(maxOffset >= 0 && maxOffset < maxFrames,
      "maxOffset must be within [0, maxFrames)")
    require(minMatchingFrames >= 1 && minMatchingFrames <= maxFrames,
      "minMatchingFrames must be within [1, maxFrames]")
    val fh = videoFingerprint(df, idCol, binCol, maxFrames)
    val chunks: Seq[Column] =
      (0 until 4).map(c => shiftright(col("fhash"), c * 16).bitwiseAND(0xffffL))
    val chunked = fh.select(col("item_id"), col("frame_idx"), col("fhash"),
        posexplode(array(chunks: _*)))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
    val offsets = array((-maxOffset to maxOffset).map(lit): _*)
    val left = chunked
      .withColumn("off", explode(offsets))
      .select((col("frame_idx") + col("off")).as("aligned_idx"),
        col("off"), col("chunk"), col("chunk_val"),
        col("item_id").as("id_a"), col("fhash").as("fhash_a"),
        col("frame_idx").as("frame_a"))
    val right = chunked.select(col("frame_idx").as("aligned_idx"),
      col("chunk"), col("chunk_val"),
      col("item_id").as("id_b"), col("fhash").as("fhash_b"))
    left.join(right, Seq("aligned_idx", "chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("fhash_a").bitwiseXOR(col("fhash_b"))) <= maxHamming)
      .select("id_a", "id_b", "off", "frame_a")
      .dropDuplicates("id_a", "id_b", "off", "frame_a")
      .groupBy("id_a", "id_b", "off")
      .agg(count(lit(1)).cast("long").as("m"))
      // best single offset wins; ties prefer the smallest shift
      .groupBy("id_a", "id_b")
      .agg(max(struct(col("m"), (-abs(col("off"))).as("negshift"), col("off"))).as("best"))
      .select(col("id_a"), col("id_b"),
        col("best.m").as("matched_frames"), col("best.off").as("offset"))
      .filter(col("matched_frames") >= minMatchingFrames)
  }
}

/** Deterministic synthetic PNG fixtures for the image-dedup gate
  * (mm5) and its specs: integer pixel math only (a hash-mixed 8×8 block
  * pattern per seed), encoded with the JDK's lossless PNG writer — the
  * decoded pixels, and therefore every [[MultimodalOps.dHash64]] bit,
  * reproduce on any JVM/platform. `perturbed` brightens a small region
  * strictly inside ONE dHash grid cell, so the variant's hash differs
  * from the base's in at most the two comparisons that touch that cell
  * (Hamming ≤ 2 by construction) while different seeds give effectively
  * random, far-apart hashes. */
/** Deterministic synthetic WAV fixtures for the audio-dedup gate (mm6)
  * and its specs: 16-bit PCM mono square waves whose per-frame
  * amplitude is a hash-mix of (frame, seed) — pure integer math, a
  * hand-built RIFF header, no codec anywhere, so every
  * [[MultimodalOps.audioHash64]] bit reproduces on any JVM. `perturbed`
  * boosts ONE frame's amplitude, flipping at most the two envelope
  * comparisons that touch it (Hamming ≤ 2 by construction); different
  * seeds give effectively random, far-apart envelopes. `gain` scales
  * every sample uniformly (amplitudes stay ≤ 0x2fff so gain 2 cannot
  * clip) — the volume-invariance probe. */
object AudioFixtures {
  def syntheticWav(seed: Int, perturbed: Boolean, gain: Int = 1): Array[Byte] = {
    val frames = 65
    val perFrame = 10
    val n = frames * perFrame
    val dataLen = n * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      val f = i / perFrame
      var v = f * 73856093 ^ seed * 83492791
      v = (v ^ (v >>> 13)) * 1274126177
      var amp = (v >>> 8) & 0x2fff
      if (perturbed && f == 30) amp = math.min(0x2fff, amp + 0x2000)
      val s = (if (i % 2 == 0) amp else -amp) * gain
      out.putShort(s.toShort)
      i += 1
    }
    out.array()
  }
}

/** Deterministic synthetic animated-GIF fixtures for the video-dedup
  * gate (mm7): 8 grayscale full frames per clip, each frame's 8×8 block
  * pattern a hash-mix of (block, frame, seed) — the [[ImageFixtures]]
  * construction extended with a frame axis. GIF's 256-color palette is
  * lossless for grayscale, so decoded pixels (and every per-frame dHash
  * bit) reproduce on any JVM. `perturbed` brightens a small region
  * strictly inside ONE dHash grid cell IN EVERY FRAME (per-frame
  * Hamming ≤ 2 by construction ⇒ all 8 aligned frames match); different
  * seeds give far-apart frames everywhere. */
object VideoFixtures {
  /** `startFrame` renders content frames [startFrame, startFrame+frames)
    * — startFrame=1 is the SAME clip trimmed by one leading frame, the
    * temporal-shift probe for [[MultimodalOps.videoNearDupPairsShifted]]
    * (aligned voting sees different content at every index; offset −1
    * re-aligns all shared frames). */
  def syntheticGif(seed: Int, perturbed: Boolean, frames: Int = 8,
      startFrame: Int = 0): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val w = 64; val h = 64
        val im = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var v = (x / 8) * 73856093 ^ (y / 8) * 19349663 ^
              (f + startFrame) * 40503 ^ seed * 83492791
            v = (v ^ (v >>> 13)) * 1274126177
            val g0 = (v >>> 8) & 0xff
            val g =
              if (perturbed && x >= 22 && x < 27 && y >= 17 && y < 23)
                math.min(255, g0 + 96)
              else g0
            im.getRaster.setSample(x, y, 0, g)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(im, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    baos.toByteArray
  }
}

object ImageFixtures {
  def syntheticPng(seed: Int, perturbed: Boolean): Array[Byte] = {
    val w = 64; val h = 64
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var v = (x / 8) * 73856093 ^ (y / 8) * 19349663 ^ seed * 83492791
        v = (v ^ (v >>> 13)) * 1274126177
        val g0 = (v >>> 8) & 0xff
        val g =
          if (perturbed && x >= 22 && x < 27 && y >= 17 && y < 23)
            math.min(255, g0 + 96)
          else g0
        im.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", baos)
    baos.toByteArray
  }
}
