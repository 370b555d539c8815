package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import scala.reflect.runtime.universe.TypeTag

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded with a REAL image codec (`javax.imageio` — PNG and
  * JPEG, both in the standard JDK). The assets are synthesized
  * deterministically (a checkerboard whose dimensions, gray level, and
  * format derive from doc_id by integer arithmetic), so the DuckDB oracle
  * — which cannot decode images — gates the round trip: Spark encodes
  * real bytes, decodes them back with the codec, and the recovered
  * metadata must equal the generator arithmetic replayed relationally.
  *
  * Scale notes: encode/decode run in mapPartitions so codec state is
  * initialized once per partition, not per row; binaries never shuffle —
  * metadata/features are extracted before any wide operation. On a real
  * corpus the synth stage is replaced by the parquet/object-store binary
  * read; everything downstream is unchanged.
  */
object MultimodalOps {

  /** An ingested media asset: opaque encoded bytes + its key. */
  case class MediaAsset(docId: Long, media: Array[Byte])

  /** A decoded media asset's typed metadata. `pxGray` is the decoded
    * gray value of pixel (3,3) — interior of the first checkerboard
    * cell — used for the pixel-fidelity gate. */
  case class MediaMeta(docId: Long, width: Int, height: Int, format: String, pxGray: Int)

  /** Real PNG/JPEG codec over deterministic checkerboard assets.
    *
    * The checkerboard cell is 8×8 — exactly one JPEG DCT block — and the
    * gray is achromatic, so every interior block is a solid gray that
    * JPEG carries in its DC coefficient alone: the decoded interior pixel
    * is within a couple of counts of the source even through the lossy
    * path (PNG round-trips exactly). */
  object MediaCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    // no display in any executor; never spill tiny codec buffers to disk
    System.setProperty("java.awt.headless", "true")
    ImageIO.setUseCache(false)

    def widthOf(id: Long): Int = 16 + (id % 48).toInt  // 16..63
    def heightOf(id: Long): Int = 16 + (id % 32).toInt // 16..47
    def grayOf(id: Long): Int = 28 + ((id * 37) % 200).toInt // 28..227
    def formatOf(id: Long): String = if (id % 2 == 0) "png" else "jpeg"

    /** Synthesize + ENCODE one asset with the real codec. */
    def encode(id: Long): Array[Byte] = {
      val w = widthOf(id); val h = heightOf(id); val gA = grayOf(id)
      val gB = 255 - gA
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = if (((x / 8) + (y / 8)) % 2 == 0) gA else gB
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val out = new ByteArrayOutputStream()
      formatOf(id) match {
        case "jpeg" =>
          // pin the encode quality explicitly: the px_ok ±8 JPEG gate must
          // not depend on a JDK default that an ImageIO upgrade could move
          val writers = ImageIO.getImageWritersByFormatName("jpeg")
          require(writers.hasNext, "no jpeg writer")
          val writer = writers.next()
          try {
            val param = writer.getDefaultWriteParam
            param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
            param.setCompressionQuality(0.9f)
            val ios = ImageIO.createImageOutputStream(out)
            try {
              writer.setOutput(ios)
              writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
            } finally ios.close()
          } finally writer.dispose()
        case f =>
          require(ImageIO.write(img, f, out), s"no $f writer")
      }
      out.toByteArray
    }

    /** DECODE bytes with the real codec: recover format (from the codec's
      * reader registry, i.e. the magic bytes — not from any carried
      * metadata), dimensions, and the probe pixel. */
    def decode(id: Long, bytes: Array[Byte]): MediaMeta = {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        require(readers.hasNext, s"no codec recognizes asset $id")
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val img = reader.read(0)
          MediaMeta(id, img.getWidth, img.getHeight,
            reader.getFormatName.toLowerCase, img.getRGB(3, 3) & 0xff)
        } finally reader.dispose()
      } finally iis.close()
    }

    /** Aspect-preserving target dimensions in 1/1024 fixed point —
      * integer arithmetic the oracle replays exactly. */
    def fitBox(w: Int, h: Int, targetW: Int, targetH: Int): (Int, Int) = {
      val s = math.min(targetW * 1024L / w, targetH * 1024L / h)
      (math.max(1, (w * s / 1024).toInt), math.max(1, (h * s / 1024).toInt))
    }

    /** Real resize to PNG bytes: decode → Graphics2D bilinear scale to
      * the fitBox dims → re-encode PNG. The bilinear hint matters for the
      * perceptual-hash path: sampled-nearest downscales alias the
      * checkerboard and destabilize box averages. */
    def resizeBytes(id: Long, bytes: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
      require(targetW > 0 && targetH > 0, "resize target must be positive")
      // the InputStream overload manages (and closes) its own image stream;
      // ImageIO.read(ImageInputStream) closes the caller's stream per its
      // contract, so a manual finally-close would double-close and throw
      val src = ImageIO.read(new ByteArrayInputStream(bytes))
      require(src != null, s"no codec recognizes asset $id")
      val (nw, nh) = fitBox(src.getWidth, src.getHeight, targetW, targetH)
      val dst = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(src, 0, 0, nw, nh, null)
      } finally g.dispose()
      val out = new ByteArrayOutputStream()
      require(ImageIO.write(dst, "png", out), "no png writer")
      out.toByteArray
    }

    /** Real resize: [[resizeBytes]] → decode AGAIN and report what the
      * codec recovered (so the emitted dims went through the full lossy
      * pipeline, not just the arithmetic). */
    def resize(id: Long, bytes: Array[Byte], targetW: Int, targetH: Int): MediaMeta =
      decode(id, resizeBytes(id, bytes, targetW, targetH))

    /** Re-encode arbitrary decoded bytes as JPEG at the pinned quality —
      * the lossy transcode a perceptual dedup must see through (byte-exact
      * dedup misses a re-encoded duplicate entirely). */
    def transcodeJpeg(id: Long, bytes: Array[Byte]): Array[Byte] = {
      val src = ImageIO.read(new ByteArrayInputStream(bytes))
      require(src != null, s"no codec recognizes asset $id")
      // JPEG writers reject images with alpha; normalize to RGB
      val rgb =
        if (src.getType == BufferedImage.TYPE_INT_RGB) src
        else {
          val d = new BufferedImage(src.getWidth, src.getHeight, BufferedImage.TYPE_INT_RGB)
          val g = d.createGraphics()
          try g.drawImage(src, 0, 0, null) finally g.dispose()
          d
        }
      val out = new ByteArrayOutputStream()
      val writers = ImageIO.getImageWritersByFormatName("jpeg")
      require(writers.hasNext, "no jpeg writer")
      val writer = writers.next()
      try {
        val param = writer.getDefaultWriteParam
        param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionQuality(0.9f)
        val ios = ImageIO.createImageOutputStream(out)
        try {
          writer.setOutput(ios)
          writer.write(null, new javax.imageio.IIOImage(rgb, null, null), param)
        } finally ios.close()
      } finally writer.dispose()
      out.toByteArray
    }

    /** 64-bit DIFFERENCE HASH (dHash) of decoded bytes: box-average the
      * luminance onto a 9×8 grid (integer arithmetic — pixel sums and
      * truncating division, so the PNG path is replayable exactly by the
      * oracle's generator-arithmetic twin), then each bit records whether
      * the right neighbor cell is brighter. Robust to re-encoding and
      * resizing because the grid is relative to the image, and the bits
      * capture gradient SIGNS, not absolute levels. */
    def dhashOf(id: Long, bytes: Array[Byte]): Long = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      require(img != null, s"no codec recognizes asset $id")
      val w = img.getWidth; val h = img.getHeight
      require(w >= 9 && h >= 8, s"asset $id too small for a 9x8 dhash grid ($w x $h)")
      val cell = Array.ofDim[Int](8, 9)
      var j = 0
      while (j < 8) {
        val y0 = j * h / 8; val y1 = (j + 1) * h / 8
        var i = 0
        while (i < 9) {
          val x0 = i * w / 9; val x1 = (i + 1) * w / 9
          var sum = 0L; var n = 0
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { sum += (img.getRGB(x, y) & 0xff); n += 1; x += 1 }
            y += 1
          }
          cell(j)(i) = (sum / n).toInt
          i += 1
        }
        j += 1
      }
      var hsh = 0L
      j = 0
      while (j < 8) {
        var i = 0
        while (i < 8) {
          if (cell(j)(i + 1) > cell(j)(i)) hsh |= 1L << (j * 8 + i)
          i += 1
        }
        j += 1
      }
      hsh
    }
  }

  /** Binary ingestion: one real encoded PNG/JPEG per document, built in
    * mapPartitions (the Scala analog of mapInPandas batches; on a real
    * corpus this stage is the binary-column read). */
  def mediaAssets(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    val spark0 = spark
    import spark0.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      // spread per-asset codec work across cores (a small doc list
      // otherwise collapses to one partition); only ids shuffle here —
      // the encoded binaries are born inside their final partition
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(it => it.map(id => MediaAsset(id, MediaCodec.encode(id))))
  }

  /** Partition-local REAL decode of the binary column via mapPartitions:
    * format, dimensions, and the probe pixel all come from the codec
    * reading the bytes. */
  def decodedMeta(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    val spark0 = spark
    import spark0.implicits._
    mediaAssets(spark, dir).mapPartitions { it =>
      // codec registry lookup is per-partition state from here on
      it.map(a => MediaCodec.decode(a.docId, a.media))
    }
  }

  /** Decode → real resize → re-encode → re-decode as one partition-local
    * batch stage (codec init once per partition, binaries never
    * shuffle). */
  def resizedMeta(spark: SparkSession, dir: String, targetW: Int, targetH: Int): Dataset[MediaMeta] = {
    val spark0 = spark
    import spark0.implicits._
    mediaAssets(spark, dir).mapPartitions { it =>
      it.map(a => MediaCodec.resize(a.docId, a.media, targetW, targetH))
    }
  }

  /** Frame sampling: k evenly-spaced fixed-width slices per asset — the
    * video frame-sample batch shape (one output row per frame, offset
    * carried as typed metadata). The slice positions are computed from the
    * byte length, the fan-out is a posexplode of a transform(sequence),
    * and nothing shuffles — at scale this is the narrow stage right after
    * decode, before any wide op sees the (much smaller) per-frame rows. */
  def frameSample(spark: SparkSession, dir: String, k: Int = 4, width: Int = 8): DataFrame = {
    require(k >= 2, s"frameSample needs k >= 2 frames (got $k): offsets span (n-width)/(k-1)")
    require(width >= 1, s"frameSample needs a positive slice width (got $width)")
    Tables(spark, dir, "documents")
      .withColumn("media", col("text").cast("binary"))
      .withColumn("n", length(col("media")).cast("long"))
      .filter(col("n") >= width)
      .select(col("doc_id"), col("media"), col("n"),
        posexplode(expr(s"transform(sequence(0, ${k - 1}), i -> CAST(i AS BIGINT) * (n - $width) DIV ${k - 1})")))
      .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
        col("col").as("offset"),
        expr(s"substring(hex(media), CAST(col * 2 + 1 AS INT), ${width * 2})")
          .as("frame_hex"))
      .orderBy("doc_id", "frame_idx")
  }

  /** [[decodedMetaDF]] without the presentational sort — the join input
    * for [[mediaCuration]] (a pre-join orderBy is wasted work: the hash
    * join re-shuffles anyway; sort once after). */
  private def decodedVerdicts(spark: SparkSession, dir: String): DataFrame =
    decodedMeta(spark, dir).toDF()
      .withColumn("expected_gray",
        (lit(28) + (col("docId") * 37) % 200).cast("int"))
      .select(col("docId").as("doc_id"), col("width"), col("height"),
        col("format"),
        when(col("format") === "png", col("pxGray") === col("expected_gray"))
          .otherwise(abs(col("pxGray") - col("expected_gray")) <= 8)
          .as("px_ok"))

  /** [[decodedMeta]] as an oracle-checkable frame: the codec-recovered
    * format and dimensions hash-compare against the generator arithmetic
    * replayed relationally, and `px_ok` gates pixel fidelity — the
    * decoded probe pixel must equal the generator gray exactly for PNG
    * (lossless) and within ±8 for JPEG (a solid achromatic DCT block
    * survives the lossy path to within a couple of counts). The oracle
    * expects `px_ok = true` on every row. */
  def decodedMetaDF(spark: SparkSession, dir: String): DataFrame =
    decodedVerdicts(spark, dir).orderBy("doc_id")

  /** [[resizedMeta]] as an oracle-checkable frame — the decode → resize
    * → re-encode → re-decode chain (all partition-local, nothing
    * shuffles); the re-decoded dimensions must equal the
    * aspect-preserving fixed-point arithmetic replayed by the oracle on
    * the generator dimensions, and the re-encoded format is always PNG. */
  def resizedMetaDF(spark: SparkSession, dir: String, targetW: Int = 32, targetH: Int = 32): DataFrame =
    resizedMeta(spark, dir, targetW, targetH).toDF()
      .select(col("docId").as("doc_id"),
        col("width"), col("height"), col("format"))
      .orderBy("doc_id")

  /** Audio-style CHUNKING: fixed-width windows every `hop` bytes (width >
    * hop = overlapping windows, the spectrogram-frame shape) — one output
    * row per chunk with its byte offset as typed metadata. Like
    * [[frameSample]] the fan-out is a posexplode over a computed offset
    * sequence and nothing shuffles: at scale this is the narrow stage
    * right after ingest, emitting slim (doc, offset, chunk) rows before
    * any wide op. */
  def mediaChunks(spark: SparkSession, dir: String, width: Int = 16, hop: Int = 12): DataFrame = {
    require(width >= 1 && hop >= 1, s"mediaChunks needs positive width/hop (got $width/$hop)")
    Tables(spark, dir, "documents")
      .withColumn("media", col("text").cast("binary"))
      .withColumn("n", length(col("media")).cast("long"))
      .filter(col("n") >= width)
      .select(col("doc_id"), col("media"),
        posexplode(expr(
          s"transform(sequence(0, CAST((n - $width) DIV $hop AS INT)), i -> CAST(i AS BIGINT) * $hop)")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("offset"),
        expr(s"substring(hex(media), CAST(col * 2 + 1 AS INT), ${width * 2})")
          .as("chunk_hex"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** A decoded audio asset's typed metadata: sample rate + length from
    * the RIFF header, `durationUs` integer-derived, `peak` = max |s|,
    * `energy` = Σ s² over the decoded PCM samples. */
  case class AudioMeta(docId: Long, sampleRate: Int, nSamples: Int,
      durationUs: Long, peak: Int, energy: Long)

  /** REAL RIFF/WAVE PCM16 codec — audio's twin of [[MediaCodec]]. WAV is
    * a container the JVM parses without any native library: a RIFF chunk
    * walk to the `fmt ` and `data` chunks, then little-endian 16-bit
    * samples. The assets are synthesized deterministically (length and
    * waveform derive from doc_id by integer arithmetic), so the DuckDB
    * oracle — which cannot read WAV — gates the round trip: Spark
    * encodes real RIFF bytes, decodes them back with the chunk walker,
    * and the recovered header fields + sample statistics must equal the
    * generator arithmetic replayed relationally (an unnest(range(n))
    * lateral re-deriving every sample). */
  object AudioCodec {
    import java.io.ByteArrayOutputStream

    val Rate = 8000

    def nSamplesOf(id: Long): Int = 64 + (id % 128).toInt // 64..191
    /** Deterministic integer pseudo-waveform in [-1001, 1001]. */
    def sampleOf(id: Long, i: Int): Int =
      (((id * 31 + i.toLong * 17) % 2003) - 1001).toInt

    private def le16(out: ByteArrayOutputStream, v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
    }
    private def le32(out: ByteArrayOutputStream, v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }

    /** ENCODE a PCM16 sample array as a real RIFF/WAVE file (little-
      * endian, mono) — the write half shared by the synthesizer and the
      * twin transforms (gain / silence-pad re-encode through here). */
    def encodeSamples(samples: Array[Int]): Array[Byte] = {
      val n = samples.length
      val dataLen = n * 2
      val out = new ByteArrayOutputStream(44 + dataLen)
      out.write("RIFF".getBytes("US-ASCII")); le32(out, 36 + dataLen)
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("fmt ".getBytes("US-ASCII")); le32(out, 16)
      le16(out, 1)            // PCM
      le16(out, 1)            // mono
      le32(out, Rate)
      le32(out, Rate * 2)     // byte rate
      le16(out, 2)            // block align
      le16(out, 16)           // bits per sample
      out.write("data".getBytes("US-ASCII")); le32(out, dataLen)
      var i = 0
      while (i < n) { le16(out, samples(i) & 0xffff); i += 1 }
      out.toByteArray
    }

    /** Synthesize + ENCODE one asset as a real RIFF/WAVE file. */
    def encode(id: Long): Array[Byte] =
      encodeSamples(Array.tabulate(nSamplesOf(id))(i => sampleOf(id, i)))

    /** Volume-change twin: decode → scale every sample by an integer
      * gain → re-encode. No clipping for gain ≤ 16 (synth peak ≤ 1001 ≪
      * 32767/16) — a byte-level duplicate detector is blind to this. */
    def gainBytes(id: Long, bytes: Array[Byte], gain: Int): Array[Byte] = {
      require(gain >= 1 && gain <= 16, s"gain $gain would clip PCM16")
      encodeSamples(decodeSamples(id, bytes).map(_ * gain))
    }

    /** Lead-in-silence twin: decode → prepend `m` zero samples →
      * re-encode (a time-shifted duplicate — different length, different
      * bytes, same audible content). */
    def padBytes(id: Long, bytes: Array[Byte], m: Int): Array[Byte] = {
      require(m >= 0, s"negative pad $m")
      encodeSamples(new Array[Int](m) ++ decodeSamples(id, bytes))
    }

    /** 64-bit LOUDNESS-PROFILE hash — the audio twin of the image dHash:
      * decode the PCM, normalize each |sample| into one of 65 magnitude
      * buckets by exact integer division against the peak
      * (`|s|·64 div peak`), count per bucket, and emit one gradient-sign
      * bit per adjacent bucket pair (`bit k = count[k+1] > count[k]`).
      *
      * The two planted transforms are covered STRUCTURALLY, not
      * empirically: an integer gain `c` cancels exactly in the bucket
      * rational (`⌊64·c|s| / (c·peak)⌋ = ⌊64|s|/peak⌋`), so the gain
      * twin's hash is BIT-IDENTICAL (Hamming 0); prepended zero samples
      * leave the peak untouched and land in bucket 0, so only
      * `count[0]` moves and only bit 0 can flip (Hamming ≤ 1) — both
      * inside any banded-LSH recall radius by pigeonhole. */
    def ahashOf(id: Long, bytes: Array[Byte]): Long =
      ahashOfSamples(id, decodeSamples(id, bytes))

    /** [[ahashOf]] over ALREADY-DECODED PCM — the one-decode path for
      * callers that also need the sample stats (the cross-modal gate
      * decodes once via [[decodeMetaAndSamples]] and feeds both
      * consumers): identical arithmetic, no second RIFF walk or sample
      * array materialization per asset. */
    private[graft] def ahashOfSamples(id: Long, s: Array[Int]): Long = {
      var peak = 0
      var i = 0
      while (i < s.length) {
        val a = math.abs(s(i)); if (a > peak) peak = a; i += 1
      }
      require(peak > 0, s"asset $id decodes to all-silence; no loudness profile")
      val cnt = new Array[Long](65)
      i = 0
      while (i < s.length) {
        cnt((math.abs(s(i)).toLong * 64L / peak).toInt) += 1
        i += 1
      }
      var h = 0L
      var k = 0
      while (k < 64) {
        if (cnt(k + 1) > cnt(k)) h |= 1L << k
        k += 1
      }
      h
    }

    private def rdLe16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    private def rdLe32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
    private def tag(b: Array[Byte], off: Int): String =
      new String(b, off, 4, "US-ASCII")

    /** DECODE real WAV bytes: RIFF chunk walk (unknown chunks are
      * skipped, as the container allows — e.g. a LIST/INFO block before
      * `data`), strict PCM16-mono validation, then the sample stats. */
    def decode(id: Long, bytes: Array[Byte]): AudioMeta = {
      require(bytes.length >= 12 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE",
        s"asset $id is not a RIFF/WAVE stream")
      var off = 12
      var rate = -1; var dataOff = -1; var dataLen = -1
      while (off + 8 <= bytes.length && (rate < 0 || dataOff < 0)) {
        val id4 = tag(bytes, off); val len = rdLe32(bytes, off + 4)
        id4 match {
          case "fmt " =>
            require(rdLe16(bytes, off + 8) == 1, s"asset $id is not PCM")
            require(rdLe16(bytes, off + 10) == 1, s"asset $id is not mono")
            require(rdLe16(bytes, off + 22) == 16, s"asset $id is not 16-bit")
            rate = rdLe32(bytes, off + 12)
          case "data" => dataOff = off + 8; dataLen = len
          case _ => () // skip unknown chunks (LIST, fact, ...)
        }
        off += 8 + len + (len & 1) // chunks are word-aligned
      }
      require(rate > 0 && dataOff >= 0, s"asset $id: missing fmt/data chunk")
      val n = dataLen / 2
      var peak = 0; var energy = 0L
      var i = 0
      while (i < n) {
        val s = rdLe16(bytes, dataOff + i * 2).toShort.toInt
        if (math.abs(s) > peak) peak = math.abs(s)
        energy += s.toLong * s
        i += 1
      }
      AudioMeta(id, rate, n, n.toLong * 1000000L / rate, peak, energy)
    }

    /** ONE decode serving both consumers — the chunk walk plus a single
      * sample pass yields the codec-recovered stats AND the PCM array.
      * The cross-modal gate needs both per asset; calling [[decode]] and
      * [[decodeSamples]] separately walked the RIFF container and read
      * every sample twice, pure per-task waste on the hot codec path
      * (optimization guide §1.2 step 2). Field-for-field the same
      * validation and arithmetic as [[decode]]. */
    private[graft] def decodeMetaAndSamples(id: Long,
        bytes: Array[Byte]): (AudioMeta, Array[Int]) = {
      require(bytes.length >= 12 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE",
        s"asset $id is not a RIFF/WAVE stream")
      var off = 12
      var rate = -1; var dataOff = -1; var dataLen = -1
      while (off + 8 <= bytes.length && (rate < 0 || dataOff < 0)) {
        val id4 = tag(bytes, off); val len = rdLe32(bytes, off + 4)
        id4 match {
          case "fmt " =>
            require(rdLe16(bytes, off + 8) == 1, s"asset $id is not PCM")
            require(rdLe16(bytes, off + 10) == 1, s"asset $id is not mono")
            require(rdLe16(bytes, off + 22) == 16, s"asset $id is not 16-bit")
            rate = rdLe32(bytes, off + 12)
          case "data" => dataOff = off + 8; dataLen = len
          case _ => () // skip unknown chunks (LIST, fact, ...)
        }
        off += 8 + len + (len & 1) // chunks are word-aligned
      }
      require(rate > 0 && dataOff >= 0, s"asset $id: missing fmt/data chunk")
      val n = dataLen / 2
      val s = new Array[Int](n)
      var peak = 0; var energy = 0L
      var i = 0
      while (i < n) {
        val v = rdLe16(bytes, dataOff + i * 2).toShort.toInt
        s(i) = v
        val a = math.abs(v); if (a > peak) peak = a
        energy += v.toLong * v
        i += 1
      }
      (AudioMeta(id, rate, n, n.toLong * 1000000L / rate, peak, energy), s)
    }

    /** DECODE to the raw PCM samples (same chunk walk as [[decode]]). */
    def decodeSamples(id: Long, bytes: Array[Byte]): Array[Int] = {
      require(bytes.length >= 12 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE",
        s"asset $id is not a RIFF/WAVE stream")
      var off = 12
      var dataOff = -1; var dataLen = -1
      while (off + 8 <= bytes.length && dataOff < 0) {
        val id4 = tag(bytes, off); val len = rdLe32(bytes, off + 4)
        if (id4 == "data") { dataOff = off + 8; dataLen = len }
        off += 8 + len + (len & 1)
      }
      require(dataOff >= 0, s"asset $id: missing data chunk")
      Array.tabulate(dataLen / 2)(i => rdLe16(bytes, dataOff + i * 2).toShort.toInt)
    }
  }

  /** Partition-local REAL WAV encode → decode: header fields and sample
    * stats all come from the codec reading the bytes; binaries never
    * shuffle (the metadata row is extracted before any wide op). */
  /** MULTIMODAL curation gate — the curation-funnel discipline applied
    * to media assets: per document, quality verdicts computed from the
    * CODEC-RECOVERED properties (not trusted metadata) — the image must
    * decode with pixel fidelity at minimum dimensions (px_ok ∧ w≥32 ∧
    * h≥24), the audio must decode to a minimum duration with real
    * signal (≥12 ms ∧ peak≥200). Decode stages stay partition-local
    * (binaries never shuffle); only the slim per-doc meta rows meet at
    * the join. The oracle replays every rule over the generator
    * arithmetic, so a codec regression in EITHER modality flips
    * verdicts red — this is the gate a 100 TB multimodal ingest runs
    * before admitting an asset pair to training. */
  def mediaCuration(spark: SparkSession, dir: String): DataFrame =
    decodedVerdicts(spark, dir)
      .join(audioVerdicts(spark, dir), Seq("doc_id"))
      .select(col("doc_id"),
        (col("px_ok") && col("width") >= 32 && col("height") >= 24).as("img_ok"),
        (col("duration_us") >= 12000L && col("peak") >= 200).as("audio_ok"))
      .withColumn("keep", col("img_ok") && col("audio_ok"))
      .orderBy("doc_id")

  def audioDecodedMeta(spark: SparkSession, dir: String): Dataset[AudioMeta] = {
    val spark0 = spark
    import spark0.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism) // ids only; see mediaAssets
      .mapPartitions(it => it.map(id => AudioCodec.decode(id, AudioCodec.encode(id))))
  }

  /** [[audioDecodedMeta]] as an oracle-checkable frame: every emitted
    * value is codec-recovered, and the oracle re-derives each sample
    * from the generator arithmetic relationally. */
  /** [[audioDecodedMetaDF]] without the presentational sort (see
    * [[decodedVerdicts]]). */
  private def audioVerdicts(spark: SparkSession, dir: String): DataFrame =
    audioDecodedMeta(spark, dir).toDF()
      .select(col("docId").as("doc_id"), col("sampleRate").as("sample_rate"),
        col("nSamples").as("n_samples"), col("durationUs").as("duration_us"),
        col("peak"), col("energy"))

  def audioDecodedMetaDF(spark: SparkSession, dir: String): DataFrame =
    audioVerdicts(spark, dir).orderBy("doc_id")

  /** Windowed frame ENERGY over the decoded samples — the
    * spectrogram-frame batch shape for audio: fixed `width`-sample
    * frames every `hop` samples (overlapping), one row per frame. The
    * decode is partition-local mapPartitions; the frame fan-out and the
    * per-frame energy fold are codegen'd built-ins (posexplode +
    * aggregate over slice) — samples never shuffle, only the slim
    * (doc, frame, energy) rows do. */
  def audioFrameEnergy(spark: SparkSession, dir: String,
      width: Int = 64, hop: Int = 32): DataFrame = {
    require(width >= 1 && hop >= 1, s"audioFrameEnergy needs positive width/hop (got $width/$hop)")
    val spark0 = spark
    import spark0.implicits._
    val samples = Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism) // ids only; see mediaAssets
      .mapPartitions { it =>
        // encode → decode per row, partition-local: the typed sample
        // array the relational fan-out consumes comes from the CODEC
        // reading the RIFF bytes, not from the generator arithmetic
        it.map { id =>
          (id, AudioCodec.decodeSamples(id, AudioCodec.encode(id)).map(_.toLong))
        }
      }
      .toDF("doc_id", "s")
      .filter(size(col("s")) >= width)
    samples
      .select(col("doc_id"), col("s"),
        posexplode(expr(s"sequence(0, CAST((size(s) - $width) DIV $hop AS INT))")))
      .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
        expr(s"aggregate(slice(s, pos * $hop + 1, $width), 0L, (acc, x) -> acc + x * x)")
          .as("energy"))
      .orderBy("doc_id", "frame_idx")
  }

  /** One decoded video frame's typed metadata. `gray` is the decoded
    * value of pixel (3,3) — exact, because a solid-color frame survives
    * GIF's palette quantization losslessly. */
  case class VideoFrame(docId: Long, frameIdx: Int, width: Int, height: Int, gray: Int)

  /** REAL multi-frame container codec — video's stand-in built on the
    * JDK's animated-GIF support (`javax.imageio` ships a GIF writer with
    * `writeToSequence` and a reader whose `getNumImages`/`read(i)` walk
    * the frame sequence). Each asset is a deterministic animated GIF
    * whose frame count, dimensions, and per-frame gray derive from
    * doc_id by integer arithmetic, so the DuckDB oracle replays the
    * generator relationally while Spark must recover it by actually
    * decoding frames out of the container. */
  object VideoCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    // object initializers run LAZILY per classloader: a task touching
    // only VideoCodec never runs MediaCodec's init, so without its own
    // copy the GIF path still cached every ImageIO stream in a DISK
    // TEMP FILE per encode/decode — one file-create+write+delete per
    // asset per pass, and the whole modality's throughput tracked
    // external disk load (observed 0.5 s ↔ 5.6 s swings on the video
    // queries while PNG/JPEG stayed flat)
    System.setProperty("java.awt.headless", "true")
    ImageIO.setUseCache(false)

    def nFramesOf(id: Long): Int = 3 + (id % 5).toInt   // 3..7 frames
    def widthOf(id: Long): Int = 16 + (id % 16).toInt   // 16..31
    def heightOf(id: Long): Int = 12 + (id % 12).toInt  // 12..23
    def frameGrayOf(id: Long, f: Int): Int =
      16 + ((id * 13 + f.toLong * 29) % 224).toInt      // 16..239

    /** ENCODE an explicit solid-gray frame sequence as a real animated
      * GIF — the write half shared by the synthesizer and the twin
      * transforms (fps-resample / brightness / rescale all re-encode
      * through here). */
    def encodeFrames(grays: Seq[Int], w: Int, h: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(out)
      val writers = ImageIO.getImageWritersByFormatName("gif")
      require(writers.hasNext, "no gif writer")
      val writer = writers.next()
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        grays.foreach { g =>
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          val gr = img.createGraphics()
          try { gr.setColor(new java.awt.Color(g, g, g)); gr.fillRect(0, 0, w, h) }
          finally gr.dispose()
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      out.toByteArray
    }

    /** Synthesize + ENCODE one asset as a real animated GIF. */
    def encode(id: Long): Array[Byte] =
      encodeFrames((0 until nFramesOf(id)).map(frameGrayOf(id, _)),
        widthOf(id), heightOf(id))

    /** Frame-rate twin: decode → write every frame TWICE → re-encode (a
      * 2× temporal resample — different container bytes, more frames,
      * same visual content). */
    def fpsBytes(id: Long, bytes: Array[Byte]): Array[Byte] = {
      val fr = decodeFrames(id, bytes)
      encodeFrames(fr.flatMap(f => Seq(f.gray, f.gray)),
        fr.head.width, fr.head.height)
    }

    /** Brightness twin: decode → lift every frame's luminance by `c` →
      * re-encode. No clipping for the synth range (gray ≤ 239, c ≤ 16),
      * and GIF stores a solid frame's palette entry exactly. */
    def brightBytes(id: Long, bytes: Array[Byte], c: Int): Array[Byte] = {
      require(c >= 0 && c <= 16, s"lift $c would clip the 16..239 synth range")
      val fr = decodeFrames(id, bytes)
      encodeFrames(fr.map(_.gray + c), fr.head.width, fr.head.height)
    }

    /** Spatial-rescale twin: decode → re-encode every frame at 2× the
      * dimensions (a solid frame rescales losslessly, so the probe pixel
      * decodes to the same luminance). */
    def scaleBytes(id: Long, bytes: Array[Byte]): Array[Byte] = {
      val fr = decodeFrames(id, bytes)
      encodeFrames(fr.map(_.gray), fr.head.width * 2, fr.head.height * 2)
    }

    /** TEMPORAL-GRADIENT signature — the video member of the perceptual
      * triple (image dHash, audio loudness hash): decode every frame,
      * take each frame's luminance (the probe pixel — exact on solid
      * frames), COLLAPSE consecutive equal-luminance runs, DIFFERENCE
      * consecutive collapsed luminances, and chain the delta sequence
      * through the same md5 fold as the shard manifests
      * ([[graft.operators.LayoutOps.digestStepStr]]) so the oracle
      * replays it with `list_reduce`.
      *
      * All three planted transforms are covered STRUCTURALLY, not
      * empirically: frame duplication collapses away, a +c luminance
      * lift cancels in the differences, and a 2× rescale leaves the
      * solid frame's probe pixel untouched — each twin's signature is
      * BYTE-IDENTICAL to its original's, so the dedup join is an exact
      * equi-join on the signature, no Hamming radius needed. */
    def vhashOf(id: Long, bytes: Array[Byte]): String =
      vhashOfGrays(id, decodeFrames(id, bytes).map(_.gray))

    /** [[vhashOf]] over ALREADY-DECODED frame luminances — the
      * one-decode path for callers that also need the frame metadata
      * (the cross-modal gate): identical arithmetic, no second
      * container walk per asset (the GIF sequence decode is the single
      * most expensive codec call in the gate). */
    private[graft] def vhashOfGrays(id: Long, grays: Seq[Int]): String = {
      require(grays.length >= 2, s"asset $id has <2 frames; no temporal signature")
      val collapsed = grays.head +: grays.sliding(2).collect {
        case Seq(a, b) if a != b => b
      }.toSeq
      require(collapsed.length >= 2, s"asset $id is a static clip; no gradient")
      val md = java.security.MessageDigest.getInstance("MD5")
      collapsed.sliding(2).foldLeft("") { case (acc, Seq(a, b)) =>
        LayoutOps.digestStepStr(md, acc, (b - a).toString)
      }
    }

    /** DECODE every frame out of the container: the frame count comes
      * from the reader's sequence walk, dimensions and probe pixel from
      * each decoded frame. (reader.read does NOT close the caller's
      * stream — unlike the static ImageIO.read(ImageInputStream).) */
    def decodeFrames(id: Long, bytes: Array[Byte]): Seq[VideoFrame] = {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        require(readers.hasNext, s"no codec recognizes asset $id")
        val reader = readers.next()
        try {
          reader.setInput(iis)
          require(reader.getFormatName.toLowerCase == "gif",
            s"asset $id is not a GIF container")
          val n = reader.getNumImages(true)
          (0 until n).map { f =>
            val img = reader.read(f)
            VideoFrame(id, f, img.getWidth, img.getHeight, img.getRGB(3, 3) & 0xff)
          }
        } finally reader.dispose()
      } finally iis.close()
    }
  }

  /** Frame sampling over a REAL multi-frame container: encode → decode
    * all frames (partition-local mapPartitions, one codec init per
    * partition, binaries never shuffle) → keep every `stride`-th frame.
    * The emitted metadata is codec-recovered; the oracle replays the
    * generator arithmetic with a strided unnest(range). */
  def videoFrames(spark: SparkSession, dir: String, stride: Int = 2): DataFrame = {
    require(stride >= 1, s"videoFrames needs a positive stride (got $stride)")
    val spark0 = spark
    import spark0.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      // spread the per-asset codec work across cores: the GIF sequence
      // writer is the cost here and a small doc list otherwise collapses
      // to one partition. Only the 8-byte ids shuffle — never binaries.
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.flatMap { id =>
          VideoCodec.decodeFrames(id, VideoCodec.encode(id))
            .filter(_.frameIdx % stride == 0)
        }
      }
      .toDF()
      .select(col("docId").as("doc_id"), col("frameIdx").cast("long").as("frame_idx"),
        col("width"), col("height"), col("gray"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Planted near-duplicate twins for the perceptual dedup gate — the
    * two transforms byte-exact dedup is blind to. Planting is restricted
    * to high-contrast assets (|gA−gB| ≥ 64): a checkerboard whose two
    * grays nearly meet has gradient signs that ride on codec noise, and
    * the oracle needs the planted recall to be a deterministic TRUE.
    * Mirrors the reference's admit-only-validated-records discipline
    * (amundsendatabuilder publisher/neo4j_csv_publisher.py:271-287). */
  private def highContrast(id: Long): Boolean =
    math.abs(2 * MediaCodec.grayOf(id) - 255) >= 64

  /** JPEG-transcode twins of every 6k-th (PNG) asset. */
  private[graft] def reencodeTwinIds(id: Long): Boolean =
    id % 6 == 0 && highContrast(id)
  /** 3/4-downscale twins of every (6k+3)-th (JPEG) asset. */
  private[graft] def resizeTwinIds(id: Long): Boolean =
    id % 6 == 3 && highContrast(id)

  /** One planted near-duplicate transform of a modality: its `kind` tag,
    * the byte transform applied to the original asset, and the corpus ids
    * the batch fixture plants it on (as doc `id + idOffset`). */
  final case class TwinKind(kind: String, idOffset: Long, planted: Long => Boolean,
      transform: (Long, Array[Byte]) => Array[Byte])

  /** A PERCEPTUAL MODALITY — everything the near-duplicate kernel knows
    * about one media column: how an asset is synthesized (`encode`), how
    * its fingerprint is recovered through the real decode path
    * (`hashOf`), its planted twin transforms (the `kind → transform`
    * map), and the verify radius. The one value drives the batch hash
    * generator, the batch dedup ([[perceptualDedup]]) and the streaming
    * gates' per-asset hasher ([[hashForKind]]). A 64-bit hash verifies
    * by Hamming distance ≤ `radius` through the banded join, whose
    * banding [[probeBands]] derives from the radius; radius 0 is an
    * exact equi-join on the whole hash — the degenerate single-band case
    * the 128-bit video signature uses. */
  final case class Modality[H](encode: Long => Array[Byte],
      hashOf: (Long, Array[Byte]) => H, twins: Seq[TwinKind], radius: Int) {

    /** Synthesize the asset for one (orig id, kind) spec and hash it over
      * the real decode path — the per-row codec step of the streaming
      * gates; partition-local, binaries never leave the executor. */
    def hashForKind(origId: Long, kind: String): H = {
      val orig = encode(origId)
      hashOf(origId, if (kind == "orig") orig else twins.find(_.kind == kind)
        .getOrElse(throw new IllegalArgumentException(s"unknown asset kind $kind"))
        .transform(origId, orig))
    }
  }

  object Modality {
    /** 64-bit dHash; JPEG-transcode and 3/4-downscale twins. Radius 15:
      * measured worst case over the full asset period is Hamming 13 for
      * resize twins and 0 for transcodes. */
    val Image: Modality[Long] = Modality[Long](MediaCodec.encode, MediaCodec.dhashOf, Seq(
      TwinKind("reencode", 3000000L, reencodeTwinIds, MediaCodec.transcodeJpeg),
      TwinKind("resize", 4000000L, resizeTwinIds, (id, b) => MediaCodec.resizeBytes(
        id, b, MediaCodec.widthOf(id) * 3 / 4, MediaCodec.heightOf(id) * 3 / 4))),
      radius = 15)

    /** 64-bit loudness-profile hash; 2× gain twins of every (6k+1)-th
      * asset and 4-sample silence lead-in twins of every (6k+4)-th.
      * Radius 7: the hash bounds are structural ([[AudioCodec.ahashOf]]:
      * gain → Hamming 0, pad → ≤ 1). */
    val Audio: Modality[Long] = Modality[Long](AudioCodec.encode, AudioCodec.ahashOf, Seq(
      TwinKind("gain", 5000000L, _ % 6 == 1, (id, b) => AudioCodec.gainBytes(id, b, 2)),
      TwinKind("pad", 6000000L, _ % 6 == 4, (id, b) => AudioCodec.padBytes(id, b, 4))),
      radius = 7)

    /** Temporal-gradient signature; 2× frame-rate twins of every (6k+2)-th
      * asset, +8-luminance twins of every (6k+5)-th and 2× rescale twins of
      * every 6k-th. Every transform cancels structurally in the signature
      * ([[VideoCodec.vhashOf]]), so radius 0. */
    val Video: Modality[String] = Modality[String](VideoCodec.encode, VideoCodec.vhashOf, Seq(
      TwinKind("fps", 7000000L, _ % 6 == 2, VideoCodec.fpsBytes),
      TwinKind("bright", 8000000L, _ % 6 == 5, (id, b) => VideoCodec.brightBytes(id, b, 8)),
      TwinKind("scale", 9000000L, _ % 6 == 0, VideoCodec.scaleBytes)),
      radius = 0)
  }

  /** Per-asset fingerprint over the real decode path, for the corpus
    * originals plus the modality's planted twins: rows
    * (doc_id, orig_id, kind, hash); a `twins = Nil` copy of the modality
    * hashes the originals alone. Everything binary stays
    * partition-local: encode → transform → decode → hash in one
    * mapPartitions; only the slim rows ever shuffle. */
  private def perceptualHashes[H: TypeTag](spark: SparkSession, dir: String,
      m: Modality[H]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism) // ids only; see mediaAssets
      .mapPartitions { it =>
        it.flatMap { id =>
          val orig = m.encode(id)
          (id, id, "orig", m.hashOf(id, orig)) +: m.twins.filter(_.planted(id)).map(t =>
            (id + t.idOffset, id, t.kind, m.hashOf(id, t.transform(id, orig))))
        }
      }
      .toDF("doc_id", "orig_id", "kind", "hash")
  }

  /** 8×8-bit band fan-out of a 64-bit perceptual hash: `posexplode` to
    * (band, value) rows, 8 per hash. */
  private def hashBands(hashCol: String) =
    posexplode(expr(
      s"transform(sequence(0, 7), b -> shiftright($hashCol, b * 8) & 255)"))

  /** One-bit multiprobe over an 8-bit band value: the exact value plus
    * all 8 one-bit flips. */
  private def bandMultiprobe(bvCol: String) =
    explode(expr(
      s"concat(array($bvCol), transform(sequence(0, 7), j -> $bvCol ^ shiftleft(1L, j)))"))

  /** The probe key of the banded layout: pk = band * 256 + value, 2048
    * keys. */
  private def bandKey = (col("band") * 256 + col("bv")).cast("int").as("pk")

  /** The banded claim store schema: claims pre-exploded to their probe
    * keys; `epoch` is the RETENTION stamp (caller-threaded monotone build
    * epoch + batch id) the stores' retention sweeps consume. */
  private[graft] val BandedClaims = org.apache.spark.sql.types.StructType.fromDDL(
    "pk INT NOT NULL, claim_id BIGINT NOT NULL, fhash BIGINT NOT NULL, epoch BIGINT NOT NULL")

  /** Claim rows (claim_id, fhash) pre-exploded to their 8 exact probe
    * keys: (pk, claim_id, fhash) — the batch corpus side and every
    * perceptual claim store's append. */
  private[graft] def claimBands(claims: DataFrame): DataFrame =
    claims.select(col("claim_id"), col("fhash"), hashBands("fhash").as(Seq("band", "bv")))
      .select(bandKey, col("claim_id"), col("fhash"))

  /** Probe rows (doc_id, h_t) fanned out to (doc_id, h_t, pk), the keys
    * that reach every claim within Hamming `radius`. The banding is
    * derived from the radius by pigeonhole over 8 bands: ≤ 7 flipped
    * bits leave some band exact, so the 8 exact band values suffice;
    * ≤ 15 leave some band within one bit, so each band also probes its
    * 8 one-bit flips (72 keys per hash). Recall at the radius is
    * structural, so the LSH is an implementation detail of an EXACT
    * Hamming-radius join. Wider radii have no recall-complete 8-band
    * probe and are rejected. */
  private[graft] def probeBands(probes: DataFrame, radius: Int): DataFrame = {
    require(radius >= 0 && radius <= 15,
      s"an 8-band probe is recall-complete only up to Hamming radius 15 (got $radius)")
    val exact = probes.select(col("doc_id"), col("h_t"), hashBands("h_t").as(Seq("band", "bv")))
    (if (radius <= 7) exact
      else exact.select(col("doc_id"), col("h_t"), col("band"), bandMultiprobe("bv").as("bv")))
      .select(col("doc_id"), col("h_t"), bandKey)
  }

  /** Band join → pair dedup → Hamming verify: probe rows (doc_id, h_t,
    * pk) from [[probeBands]] against claim rows (pk, claim_id, fhash),
    * one (doc_id, claim_id) row per pair within `radius`. The native
    * codegen'd [[graft.functions.HammingDistance]] verifies candidates. */
  private[graft] def verifiedPairs(probes: DataFrame, claims: DataFrame,
      radius: Int): DataFrame = {
    import graft.functions.HammingDistance.hamming
    probes
      .join(claims.select("pk", "claim_id", "fhash"), Seq("pk"))
      .select("doc_id", "claim_id", "h_t", "fhash")
      .dropDuplicates("doc_id", "claim_id") // several probe keys agree per pair
      .filter(hamming(col("h_t"), col("fhash")) <= radius)
      .select("doc_id", "claim_id")
  }

  /** HOT-KEY guard for the perceptual candidate joins — the containment
    * DF-cap discipline (DedupOps) / LSH maxBucket guard (SimilarityOps)
    * applied to the banded-Hamming family: real corpora pile degenerate
    * perceptual hashes (solid-color images, silence, static clips) onto
    * a handful of key values, and ONE hot key yields |probe|×|corpus|
    * candidate rows for that key. Corpus-side keys whose frequency
    * exceeds the cap are dropped WHOLE before the probe join — bounded
    * recall loss on pathological keys for a hard bound on candidate
    * volume. The over-cap set is tiny by construction (only degenerate
    * content crosses a sane cap) — broadcast anti-join. Off (None) in
    * the oracle queries: the planted twin fixtures are degenerate-free,
    * so the capped and uncapped verdicts coincide there. */
  private[graft] def capHotKeys(corpus: DataFrame, keys: Seq[String],
      maxKeyFreq: Option[Long]): DataFrame =
    maxKeyFreq.fold(corpus) { cap =>
      // claim-store reads can carry crash-replayed rows, and replays are
      // row-IDENTICAL duplicates — counting them raw would inflate a
      // legitimate key over the cap and silently admit its real
      // duplicates after a crash, so the frequency count sees each
      // claim once (the per-pk claim counts are exact on the deduped
      // read; the returned frame stays raw — callers resolve replays
      // by their own read semantics)
      val hot = corpus.dropDuplicates().groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_n")).filter(col("_n") > cap)
        .select(keys.map(col): _*)
      corpus.join(broadcast(hot), keys, "left_anti")
    }

  /** PERCEPTUAL batch dedup of one modality — the ingest gate byte-exact
    * dedup cannot provide: every planted twin must come back as a
    * near-duplicate of its original. Incoming-vs-corpus (not corpus
    * self-join) is the production shape: the twins probe the originals'
    * index, and any multiprobe fan-out lands on the small incoming side —
    * the corpus index stays 8 rows per asset. At 100 TB the corpus side
    * is the precomputed hash store bucketed on its probe key, and
    * `maxKeyFreq` ([[capHotKeys]]) bounds the worst key — degenerate
    * hashes are dropped whole before the join.
    *
    * Output: one row per planted twin with `found` = its true original
    * surfaced among its verified near-duplicates. The oracle replays the
    * planting arithmetic and expects every `found` TRUE — a regression
    * anywhere in codec, hash, banding, or verify flips rows red. */
  private def perceptualDedup[H: TypeTag](spark: SparkSession, dir: String,
      m: Modality[H], maxKeyFreq: Option[Long]): DataFrame = {
    val hashes = perceptualHashes(spark, dir, m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashes.count() // one fill job before the two join sides fan out
    val corpus = hashes.filter(col("kind") === "orig")
      .select(col("doc_id").as("claim_id"), col("hash").as("fhash"))
    val twins = hashes.filter(col("kind") =!= "orig")
    val pairs =
      if (m.radius == 0)
        twins.select(col("doc_id"), col("hash").as("fhash"))
          .join(capHotKeys(corpus, Seq("fhash"), maxKeyFreq), Seq("fhash"))
          .select("doc_id", "claim_id")
          .dropDuplicates("doc_id", "claim_id")
      else verifiedPairs(
        probeBands(twins.select(col("doc_id"), col("hash").as("h_t")), m.radius),
        capHotKeys(claimBands(corpus), Seq("pk"), maxKeyFreq), m.radius)
    val out = twins
      .select(col("doc_id").as("twin_id"), col("orig_id"), col("kind"))
      .join(pairs.select(col("doc_id").as("twin_id"), col("claim_id").as("orig_id"),
        lit(true).as("hit")), Seq("twin_id", "orig_id"), "left")
      .select(col("twin_id"), col("orig_id"), col("kind"),
        coalesce(col("hit"), lit(false)).as("found"))
      .orderBy("twin_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the slim verdicts, then drop the hash cache
    hashes.unpersist()
    out
  }

  /** dHash of every PNG asset, decoded by the real codec — the oracle
    * replays the full 9×8 box-average + gradient-sign arithmetic over the
    * generator checkerboard (PNG round-trips pixels exactly, so the
    * codec-recovered hash must equal the arithmetic bit for bit; JPEG
    * assets are gated via [[imageDedup]]'s recall instead). */
  def imageDHashDF(spark: SparkSession, dir: String): DataFrame =
    perceptualHashes(spark, dir, Modality.Image.copy(twins = Nil))
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("hash").as("dhash"))
      .orderBy("doc_id")

  /** PERCEPTUAL image dedup ([[perceptualDedup]] over
    * [[Modality.Image]]): planted re-encoded (PNG→JPEG) and downscaled
    * twins must surface their originals through the one-bit-multiprobe
    * banded Hamming join at radius 15. */
  def imageDedup(spark: SparkSession, dir: String,
      maxBandFreq: Option[Long] = None): DataFrame =
    perceptualDedup(spark, dir, Modality.Image, maxBandFreq)

  /** Loudness-profile hash of every audio asset, decoded by the real
    * RIFF chunk walker — the oracle replays the full magnitude-bucket
    * histogram + gradient-sign arithmetic per sample (WAV/PCM16 is
    * lossless, so the codec-recovered hash must equal the arithmetic bit
    * for bit — the audio twin of [[imageDHashDF]]'s PNG gate). */
  def audioFingerprintDF(spark: SparkSession, dir: String): DataFrame =
    perceptualHashes(spark, dir, Modality.Audio.copy(twins = Nil))
      .select(col("doc_id"), col("hash").as("ahash"))
      .orderBy("doc_id")

  /** PERCEPTUAL audio dedup ([[perceptualDedup]] over
    * [[Modality.Audio]]): planted volume-scaled and silence-padded twins
    * (both byte-level novel) must surface their original through the
    * exact-band Hamming join at radius 7. */
  def audioDedup(spark: SparkSession, dir: String,
      maxBandFreq: Option[Long] = None): DataFrame =
    perceptualDedup(spark, dir, Modality.Audio, maxBandFreq)

  /** Temporal-gradient signature of every video asset, decoded by the
    * real GIF sequence reader — the oracle replays the per-frame
    * luminance generator and the delta md5 chain relationally (solid
    * frames survive GIF's palette quantization exactly, so the
    * codec-recovered signature must equal the arithmetic bit for bit —
    * the video member of the [[imageDHashDF]] / [[audioFingerprintDF]]
    * gate family). */
  def videoFingerprintDF(spark: SparkSession, dir: String): DataFrame =
    perceptualHashes(spark, dir, Modality.Video.copy(twins = Nil))
      .select(col("doc_id"), col("hash").as("vhash"))
      .orderBy("doc_id")

  /** PERCEPTUAL video dedup ([[perceptualDedup]] over
    * [[Modality.Video]]): planted frame-rate-doubled, brightness-lifted,
    * and rescaled twins (all byte-level novel containers) must surface
    * their original through an exact equi-join on the signature. At
    * 100 TB the `maxSigFreq` hot-key cap bounds degenerate keys —
    * low-entropy clips (e.g. near-static footage) collapse to short delta
    * chains that many assets share. */
  def videoDedup(spark: SparkSession, dir: String,
      maxSigFreq: Option[Long] = None): DataFrame =
    perceptualDedup(spark, dir, Modality.Video, maxSigFreq)

  /** CROSS-MODAL curation funnel — [[mediaCuration]]'s codec-verified
    * verdicts composed INTO the text curation funnel
    * (`TextOps.curationFlags`): a document that survives quality → exact
    * dedup → decontamination is still excised when its image asset fails
    * the decode-fidelity/min-dimension gate or its audio asset fails the
    * duration/signal gate or its video asset fails the frame-count/
    * resolution gate. Output is the same (stage, n_docs, n_tokens)
    * funnel discipline as `curationPipeline`, extended with the three
    * media stages — the admission report a 100 TB multimodal corpus
    * build emits before the curated store is written.
    *
    * Scale shape: the text flags are one slim cached pass over the
    * corpus; each media gate decodes partition-local and reduces to a
    * one-boolean-per-doc row before the equi-join on doc_id; the funnel
    * itself is a single aggregation unpivoted with `stack` — no stage
    * rewrites the corpus. The oracle replays the text CTE chain AND both
    * modalities' generator-arithmetic rules, so a regression in the
    * codec path, the hash dedup, or the composition flips a row red. */
  /** Per-document VIDEO admission flags over the real GIF decode path:
    * the frame count comes from the reader's sequence walk, dimensions
    * and the probe pixel from the decoded frames — nothing is trusted
    * from the generator. `video_ok` = enough temporal content (≥ 4
    * frames), minimum spatial resolution (≥ 20×16), and frame-0 gray
    * fidelity (a solid frame survives GIF's palette quantization
    * exactly, so the codec-recovered pixel must equal the generator
    * gray — the video member of the px_ok / peak decode-fidelity
    * family). Decodes stay partition-local; one boolean row per doc
    * shuffles. */
  private def videoVerdicts(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism) // ids only; see mediaAssets
      .mapPartitions(_.map { id =>
        val fr = VideoCodec.decodeFrames(id, VideoCodec.encode(id))
        (id, fr.length, fr.head.width, fr.head.height,
          fr.head.gray == VideoCodec.frameGrayOf(id, 0))
      })
      .toDF("doc_id", "n_frames", "width", "height", "gray_ok")
      .select(col("doc_id"),
        (col("gray_ok") && col("n_frames") >= 4 &&
          col("width") >= 20 && col("height") >= 16).as("video_ok"))
  }

  /** Per-document media admission flags — the image decode-fidelity /
    * min-dimension gate, the audio duration/signal gate, and the video
    * frame-count/resolution gate, each reduced to one boolean per doc
    * before anything joins (decodes stay partition-local inside the
    * verdict frames). */
  private[graft] def mediaOkFlags(spark: SparkSession, dir: String): DataFrame =
    decodedVerdicts(spark, dir)
      .select(col("doc_id"),
        (col("px_ok") && col("width") >= 32 && col("height") >= 24).as("img_ok"))
      .join(audioVerdicts(spark, dir)
        .select(col("doc_id"),
          (col("duration_us") >= 12000L && col("peak") >= 200).as("audio_ok")),
        Seq("doc_id"))
      .join(videoVerdicts(spark, dir), Seq("doc_id"))

  def curationMultimodal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.Column
    val flags = TextOps.curationFlags(spark, dir) // shared family stage
    val media = mediaOkFlags(spark, dir)
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    def tok(c: Column): Column = sum(when(c, col("n_words")).otherwise(0L))
    val one = flags.join(media, Seq("doc_id")).agg(
      count(lit(1)).as("d0"), sum(col("n_words")).as("t0"),
      cnt(col("r1")).as("d1"), tok(col("r1")).as("t1"),
      cnt(col("r2")).as("d2"), tok(col("r2")).as("t2"),
      cnt(col("r3")).as("d3"), tok(col("r3")).as("t3"),
      cnt(col("r3") && col("img_ok")).as("d4"),
      tok(col("r3") && col("img_ok")).as("t4"),
      cnt(col("r3") && col("img_ok") && col("audio_ok")).as("d5"),
      tok(col("r3") && col("img_ok") && col("audio_ok")).as("t5"),
      cnt(col("r3") && col("img_ok") && col("audio_ok") && col("video_ok")).as("d6"),
      tok(col("r3") && col("img_ok") && col("audio_ok") && col("video_ok")).as("t6"))
    val out = one.select(expr(
      """stack(7,
           '00_ingest', d0, t0,
           '01_quality', d1, t1,
           '02_dedup', d2, t2,
           '03_decontam', d3, t3,
           '04_media_image', d4, t4,
           '05_media_audio', d5, t5,
           '06_media_video', d6, t6) AS (stage, n_docs, n_tokens)"""))
      .orderBy("stage")
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the 6-row funnel
    // flags is the SHARED family stage - never unpersisted by a consumer
    out
  }

  /** The MULTIMODAL corpus build product — `LayoutOps.curatedStore`
    * with all three media gates composed in: documents surviving
    * quality → dedup → decontamination AND the image, audio and video
    * admission gates are given the deterministic training order,
    * written as a shard=-partitioned pos-sorted parquet store, and read
    * back into the per-shard loader manifest. One query performs
    * (text ∧ media) select → order → layout → manifest; the oracle
    * replays the text CTE chain, BOTH modalities' generator-arithmetic
    * gates, the survivor ranking, and every manifest field — so a
    * regression in a codec path, a gate threshold, or the layout flips
    * a manifest row red. Scale shape as `curatedStore`: the media gates
    * reduce to one boolean per doc before the equi-join; the store
    * write is k sorted writer tasks; the manifest fold is O(1) state. */
  def curatedStoreMultimodal(spark: SparkSession, dir: String,
      nShards: Int = 4): DataFrame = {
    val root = graft.sources.TmpStores.pidScopedRoot("graft-shardstore")
      .resolve("curated-mm").toString
    val flags = TextOps.curationFlags(spark, dir)
    val surv = flags.filter(col("r3"))
      .join(mediaOkFlags(spark, dir), Seq("doc_id"))
      .filter(col("img_ok") && col("audio_ok") && col("video_ok"))
      .select(col("doc_id"), col("n_words"))
    val assigned = graft.operators.LayoutOps
      .shuffleRanks(spark, surv.select("doc_id"))
      .join(surv, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), (col("pos") % nShards).as("shard"),
        col("n_words"))
    assigned
      .repartitionByRange(nShards, col("shard"))
      .sortWithinPartitions("shard", "pos")
      .write.mode("overwrite").partitionBy("shard").parquet(root)
    val out = graft.operators.LayoutOps
      .shardManifest(spark, spark.read.parquet(root), nShards,
        tokensCol = "n_words")
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("min_pos"),
        col("max_pos"), col("order_digest"))
      .orderBy("shard")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    // flags is the SHARED family stage - never unpersisted by a consumer
    out
  }

  /** Oracle-checkable feature extraction over the binary column: byte
    * length, content hash, leading-bytes sample ("frame sample" analog) —
    * pure column expressions so DuckDB can reproduce them. */
  def binaryFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("media", col("text").cast("binary"))
      .select(
        col("doc_id"),
        length(col("media")).cast("long").as("n_bytes"),
        sha2(col("media"), 256).as("content_sha256"),
        substring(hex(col("media")), 1, 16).as("head_hex"),
        (length(col("media")) % 640).cast("int").as("fake_width"),
        (length(col("media")) % 480).cast("int").as("fake_height"))
      .orderBy("doc_id")
}
