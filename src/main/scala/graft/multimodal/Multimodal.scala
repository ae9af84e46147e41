package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Pins

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines: media as opaque `binary` content plus typed metadata.
  *
  * The image lanes are REAL: decode and resize parse actual PNG/JPEG
  * bytes through `javax.imageio` (JDK-built-in codecs — no external
  * libraries), and [[fabricateImages]] synthesizes genuine PNGs whose
  * dimensions and pixel values are doc_id-determined, so a SQL oracle
  * replays the full decode round-trip analytically (a correct answer
  * PROVES the deflate-compressed IDAT stream was parsed back to exact
  * pixels). Undecodable content — truncated files, non-image bytes —
  * yields NULL features / passes through resize untouched; it never
  * throws (corrupt media is in-domain for a crawl corpus).
  *
  * Scale notes: content stays binary end-to-end (no base64 round trip);
  * decode runs in mapPartitions so decoder setup amortizes per
  * partition, exactly how a Pandas-UDF batch would on PySpark.
  */
object Multimodal {

  // never spill ImageIO scratch to disk temp files on executors
  javax.imageio.ImageIO.setUseCache(false)

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = false),
      StructField("n_bytes", LongType, nullable = false))), nullable = false)))

  /** Fabricate a media table from text documents (test stand-in for
    * reading real image/audio bytes: `spark.read.format("binaryFile")`).
    */
  def fabricate(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        lit("application/octet-stream").as("mime"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes")).as("meta"))

  /** Deterministic REAL-PNG fixture dimensions for `doc_id` — shared by
    * [[fabricateImages]] and the analytic multimodal_decode oracle.
    */
  def fixtureDims(docId: Long): (Int, Int) =
    ((8 + docId % 24).toInt, (8 + (docId * 7) % 16).toInt)

  /** Every 10th-ish doc carries NON-image bytes (its text), pinning the
    * undecodable-content fallback in the same driver-checked query.
    */
  def fixtureIsImage(docId: Long): Boolean = docId % 10 != 7

  /** Container format law for image docs — a real crawl corpus is a
    * format MIX, and each choice here pins a different decoder branch
    * under the same analytic pixel oracle:
    *  - `gif`: palette-indexed (the IndexColorModel path of lumaAt;
    *    256-gray palette, lossless);
    *  - `bmp`: written as 24-bit RGB with r=g=b (the 3-band floor-mean
    *    path; lossless);
    *  - `jpeg`: lossy — dims replay, pixels don't, so the oracle checks
    *    dims-only on these rows;
    *  - `png`: 1-band grayscale (the ≤2-band path).
    */
  def fixtureFormat(docId: Long): String = (docId % 10) match {
    case 3 => "jpeg"
    case 5 => "gif"
    case 9 => "bmp"
    case _ => "png"
  }

  /** True when the fixture pixel law replays EXACTLY after an encode →
    * decode round trip (every format above except lossy jpeg).
    */
  def fixtureIsLossless(docId: Long): Boolean =
    fixtureIsImage(docId) && fixtureFormat(docId) != "jpeg"

  /** Synthesize a media table of GENUINE encoded images from the
    * documents table: dims = [[fixtureDims]], pixel (x, y) =
    * (x + y + doc_id) mod 256, container per [[fixtureFormat]] (a
    * png/gif/bmp/jpeg mix, like a real crawl) — every byte of the
    * output is a real codec stream that only a real decoder can
    * invert. Docs failing [[fixtureIsImage]] get their raw text bytes
    * (mime octet-stream) instead: in-domain corrupt/mislabeled media.
    */
  /** Pixel law of frame f of doc id — shared by [[fabricateFrameStream]]
    * and the multimodal_video / video_neardup_pairs oracles:
    * (x² + y²·(f+1) + (x+y)·id + id + f) mod 256. QUADRATIC in both
    * axes so the pattern is pseudo-random and frames carry real
    * information: consecutive frames must differ structurally (a
    * uniform brightness shift is invisible to the deliberately
    * brightness-normalizing average-hash) and distinct docs' frames
    * must not collide under an 8×8 perceptual hash (thresholded
    * LINEAR ramps take only a handful of bit patterns — measured 4k+
    * spurious near-dup pairs on the 500-doc fixture before this law).
    */
  def videoPixel(docId: Long, f: Int, x: Int, y: Int): Int =
    ((x.toLong * x + y.toLong * y * (f + 1) + (x + y).toLong * docId +
      docId + f) % 256).toInt

  private def framePng(w: Int, h: Int, docId: Long, f: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, videoPixel(docId, f, x, y)); x += 1 }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** The same gradient encoded in any JDK writer format. BMP rides a
    * 24-bit RGB carrier (r=g=b=luma) so the decoded image has 3 bands —
    * the floor-mean branch of lumaAt — while staying pixel-exact.
    */
  private def grayGradient(w: Int, h: Int, base: Long,
                           fmt: String): Array[Byte] = {
    val imgType =
      if (fmt == "bmp") java.awt.image.BufferedImage.TYPE_INT_RGB
      else java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    val img = new java.awt.image.BufferedImage(w, h, imgType)
    val raster = img.getRaster
    val bands = raster.getNumBands
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((x + y + base) % 256).toInt
        var b = 0
        while (b < bands) { raster.setSample(x, y, b, v); b += 1 }
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, baos)
    baos.toByteArray
  }

  /** The shared non-media fallback row: the doc's text bytes,
    * octet-stream mime (in-domain corrupt/mislabeled media).
    */
  private def textBytesRow(id: Long, text: String): Row = {
    val bytes = Option(text).getOrElse("")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Row(id, bytes, Row("application/octet-stream", bytes.length.toLong))
  }

  def fabricateImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val rdd = graft.operators.Par.fanOut(
      docs.select("doc_id", "text")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getAs[Long]("doc_id")
        if (fixtureIsImage(id)) {
          val (w, h) = fixtureDims(id)
          val fmt = fixtureFormat(id)
          val bytes = grayGradient(w, h, id, fmt)
          Row(id, bytes, Row(s"image/$fmt", bytes.length.toLong))
        } else textBytesRow(id, r.getAs[String]("text"))
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** REAL image decode: `ImageIO.read` over the content bytes (PNG,
    * JPEG, GIF, BMP — the JDK's built-in readers). Null for anything no
    * reader accepts; never throws.
    */
  /** Metadata fast path: image dimensions straight from the PNG IHDR
    * bytes — substring + hex + conv, pure codegen'd builtins, NO
    * decoder and NO UDF. The "scan 100 TB of media but only need
    * dims" projection: footer-prunable, shuffle-free, ~10⁴× cheaper
    * than inflating pixels. Guarded by the 8-byte PNG signature AND
    * the IHDR chunk tag; anything else (or truncated headers) yields
    * NULL — never a garbage dimension. Big-endian u32 fields exceed a
    * fixture's practical range only past 2³¹, still exact via conv's
    * base-16 long parse.
    */
  def pngHeaderDims(content: Column): Column = {
    val isPng = hex(substring(content, 1, 8)) === lit("89504E470D0A1A0A") &&
      hex(substring(content, 13, 4)) === lit("49484452") &&
      length(content) >= 24
    val w = conv(hex(substring(content, 17, 4)), 16, 10).cast("long")
    val h = conv(hex(substring(content, 21, 4)), 16, 10).cast("long")
    when(isPng, struct(w.as("width"), h.as("height")))
      .otherwise(lit(null))
  }

  private[multimodal] def decodeImage(content: Array[Byte]
                                     ): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
    catch { case _: Exception => null }

  /** Luma of pixel (x, y) — integer arithmetic, so features replay
    * exactly. Branches by decoded representation (all of which
    * ImageIO's built-in readers produce for in-domain crawl media):
    *  - indexed color (GIF, palette PNG): resolve through the palette
    *    via getRGB — the raw raster sample is a palette INDEX, not a
    *    luma, and two visually identical images with permuted palettes
    *    must hash alike;
    *  - 1 or 2 bands (gray, gray+alpha): band 0 is the luma;
    *  - 3+ bands (RGB, RGBA): floor-mean of the first three.
    * Never throws on any band count.
    */
  private def lumaAt(img: java.awt.image.BufferedImage, x: Int, y: Int): Int = {
    val raster = img.getRaster
    if (img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]) {
      val rgb = img.getRGB(x, y)
      (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
    } else if (raster.getNumBands <= 2) raster.getSample(x, y, 0)
    else (raster.getSample(x, y, 0) + raster.getSample(x, y, 1) +
      raster.getSample(x, y, 2)) / 3
  }

  private val featureSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sum_luma", LongType, nullable = true)))

  /** Per-partition REAL decode + feature extraction over binary
    * content: (width, height, sum of integer pixel lumas) per item,
    * NULLs where no JDK reader accepts the bytes. sum_luma is an exact
    * integer, so an oracle that knows the pixel law replays it — a
    * match proves the full decode round trip, not just a header parse.
    */
  /** Total integer luma over an image — the ONE luma-sum law, shared by
    * the image and frame-stream lanes so they cannot diverge.
    */
  private def sumLuma(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { sum += lumaAt(img, x, y); x += 1 }
      y += 1
    }
    sum
  }

  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("doc_id", "content").rdd.mapPartitions { it =>
      // ImageIO reader instances are created per call; setUseCache(false)
      // at object init keeps decode entirely in-memory on executors
      it.map { r =>
        val id = r.getAs[Long]("doc_id")
        val content = r.getAs[Array[Byte]]("content")
        // null content (metadata row without bytes) = undecodable, not
        // a crash: the never-throws contract covers the column, not
        // just malformed bytes
        val img = if (content == null) null else decodeImage(content)
        val nBytes = if (content == null) 0L else content.length.toLong
        if (img == null) Row(id, nBytes, null, null, null)
        else Row(id, nBytes, img.getWidth, img.getHeight, sumLuma(img))
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }

  private val resizeSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true))), nullable = false)))

  /** REAL resize: decode → nearest-neighbor luma resample → PNG
    * re-encode, per partition. The resample rule is exact integer
    * arithmetic — out(x, y) = in(x·srcW div dstW, y·srcH div dstH) —
    * so downstream [[decodeFeatures]] output over a known source is
    * analytically replayable (the multimodal_resize oracle). Output is
    * always grayscale PNG (luma per [[lumaAt]]); undecodable content
    * passes through untouched with NULL dims — never a throw, never a
    * drop (screening is [[byteEntropy]]'s job, not the resizer's).
    */
  def resize(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    val spark = media.sparkSession
    val rdd = media.select("doc_id", "content", "meta.mime").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getAs[Long]("doc_id")
        val content = r.getAs[Array[Byte]]("content")
        // null content (metadata row without bytes) = undecodable, same
        // contract as decodeFeatures: pass through, never throw
        val img = if (content == null) null else decodeImage(content)
        if (img == null)
          Row(id, content, Row(r.getAs[String]("mime"),
            if (content == null) 0L else content.length.toLong,
            null, null))
        else {
          val (sw, sh) = (img.getWidth, img.getHeight)
          val out = new java.awt.image.BufferedImage(
            targetW, targetH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = out.getRaster
          var y = 0
          while (y < targetH) {
            val sy = (y.toLong * sh / targetH).toInt
            var x = 0
            while (x < targetW) {
              raster.setSample(x, y, 0,
                lumaAt(img, (x.toLong * sw / targetW).toInt, sy))
              x += 1
            }
            y += 1
          }
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", baos)
          val bytes = baos.toByteArray
          Row(id, bytes, Row("image/png", bytes.length.toLong, targetW, targetH))
        }
      }
    }
    spark.createDataFrame(rdd, resizeSchema)
  }

  private val entropySchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("entropy_bits", DoubleType, nullable = false)))

  /** Shannon byte entropy per media item — a REAL feature (no codec
    * needed): compressed/encrypted content sits near 8 bits/byte,
    * text-like payloads well below, truncated or zero-padded files
    * collapse toward 0 — the cheap corruption/mislabel screen for a
    * binary-column corpus. One pass per item over a 256-cell local
    * histogram in mapPartitions; nothing but (id, long, double) rows
    * come back.
    */
  def byteEntropy(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val ln2 = math.log(2.0)
    val rdd = media.select("doc_id", "content").rdd.mapPartitions { it =>
      val hist = new Array[Long](256)
      it.map { r =>
        val content = r.getAs[Array[Byte]]("content")
        java.util.Arrays.fill(hist, 0L)
        var i = 0
        while (i < content.length) { hist(content(i) & 0xff) += 1; i += 1 }
        var h = 0.0
        var b = 0
        while (b < 256) {
          if (hist(b) > 0) {
            val p = hist(b).toDouble / content.length
            h -= p * (math.log(p) / ln2)
          }
          b += 1
        }
        Row(r.getAs[Long]("doc_id"), content.length.toLong, h)
      }
    }
    spark.createDataFrame(rdd, entropySchema)
  }

  /** [[byteEntropy]]'s ENGINE-REPLAYABLE twin (the uniq_hll_portable
    * discipline applied to entropy): the byte histogram comes from the
    * codegen'd [[graft.functions.ByteHist]] expression (one pass per
    * item, 256 exact-integer counts in byte order), so the estimator's
    * integer core (n_distinct, max_count, every count) is
    * oracle-hash-checkable, and the one float step is a FIXED-ORDER
    * expression both engines evaluate identically:
    * `H = (ln(n) − (Σ c·ln(c)) / n) / ln2`, the Σ a left-to-right
    * `aggregate` over the present counts in byte order (DuckDB:
    * list_reduce over list(c ORDER BY b) — same associativity,
    * double-for-double; the oracle rebuilds the same histogram
    * relationally from hex pairs). NATURAL log only — via
    * [[graft.functions.IeeeLn]] (platform Math.log == std::log, the
    * oracle's ln) — with ln2 as a shared literal. Neither builtin
    * alternative replays: Spark's own `log`/`log2` call fdlibm
    * StrictMath (one-ulp off std::log on ~1% of small integers — 3,
    * 48, 185, 196, ... — observed failing on this very fixture), and
    * DuckDB's log2 is a distinct primitive.
    *
    * Scale shape: a PURE PROJECTION — no explode, no shuffle, nothing
    * but (id, long, long, long, double) rows out (the first cut
    * exploded content to per-byte rows and measured 27× slower than
    * [[byteEntropy]]; this form matches the kernel's cost while
    * keeping the oracle). OperatorSpec pins the two within 1e-9
    * (float-sum order is the only difference).
    */
  def byteEntropyRelational(media: DataFrame): DataFrame = {
    val ieeeLn = graft.functions.MathExpressions.ieee_ln _
    media.select(col("doc_id"),
        length(col("content")).cast("long").as("n_bytes"),
        filter(graft.functions.MediaExpressions.byte_hist(col("content")),
          c => c > 0L).as("hc"))
      .select(col("doc_id"), col("n_bytes"),
        size(col("hc")).cast("long").as("n_distinct"),
        coalesce(array_max(col("hc")), lit(0L)).as("max_count"),
        when(col("n_bytes") > 0,
          (ieeeLn(col("n_bytes").cast("double")) -
            aggregate(
              transform(col("hc"), c =>
                c.cast("double") * ieeeLn(c.cast("double"))),
              lit(0.0), (acc, t) => acc + t) / col("n_bytes")) /
            lit(0.6931471805599453))
          .otherwise(lit(0.0)).as("entropy_bits"))
  }

  /** Perceptual-hash signatures over binary content: the codegen'd
    * [[graft.functions.AHash64]] average-hash as a row-local projection
    * — (doc_id, n_bytes, ahash). The image-dedup primitive (aHash over
    * the 8×8 grayscale grid; this lane hashes the RAW bytes — useful as
    * byte-level near-dup for any media type; compose with [[resize]] +
    * the decoded luma plane when pixel-level similarity is wanted).
    * Near-dup pairs come from banded hamming over
    * these signatures — rename `ahash` to `simhash` and reuse
    * [[graft.operators.Dedup.simhashPairs]]'s band equi-join, the
    * image-scale path (never all-pairs).
    */
  def aHash(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      octet_length(col("content")).cast("long").as("n_bytes"),
      graft.functions.MediaExpressions.ahash64(col("content")).as("ahash"))

  /** Deterministic REAL-WAV fixture law for `doc_id` — shared by
    * [[fabricateAudio]] and the analytic multimodal_audio /
    * audio_fingerprint oracles: mono 16-bit PCM at 8 kHz, frame count
    * 256 + (id mod 512), sample
    * i = ((i²·m + i·id + id) mod 2003) − 1001 with m = 3 + id mod 5.
    * The QUADRATIC index term makes the waveform doc-unique and its
    * band energies pseudo-random (the step i→i+1 jumps by
    * (2i+1)·m + id mod 2003, wrapping every few samples), which is
    * what the differential fingerprint lanes need — a linear sawtooth
    * gives every doc the same energy-ramp signs and all fingerprints
    * collide. Still pure integer arithmetic, so SQL replays it.
    */
  def audioFrames(docId: Long): Int = (256 + docId % 512).toInt
  def audioSample(docId: Long, i: Int): Int =
    (((i.toLong * i * (3 + docId % 5) + i * docId + docId) % 2003) - 1001).toInt

  /** Synthesize a media table of GENUINE WAV files (RIFF container,
    * PCM16 little-endian — written through `javax.sound.sampled`, the
    * JDK's real audio stack) from the documents table; docs failing
    * [[fixtureIsImage]] carry their text bytes instead, as in
    * [[fabricateImages]]. PCM is lossless, so a decoder that truly
    * parses the container recovers the exact integer samples.
    *
    * `idOffset`/`maxFrames`/`startFrame` plant deterministic NEAR-DUP
    * variants (the multimodal_ahash_pairs damage discipline): the
    * waveform law stays keyed on the ORIGINAL doc_id while the emitted
    * id shifts by `idOffset` and the stream carries frames
    * [startFrame, startFrame + maxFrames) — a clipped (and, with
    * startFrame > 0, mid-stream) extract of the original: the
    * audio_neardup_pairs / audio_clip_align fixtures.
    */
  def fabricateAudio(docs: DataFrame, idOffset: Long = 0L,
                     maxFrames: Int = Int.MaxValue,
                     startFrame: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val rdd = graft.operators.Par.fanOut(
      docs.select("doc_id", "text")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getAs[Long]("doc_id")
        if (fixtureIsImage(id)) {
          val n = math.max(0,
            math.min(audioFrames(id) - startFrame, maxFrames))
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val s = audioSample(id, startFrame + i)
            pcm(2 * i) = (s & 0xff).toByte
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          // canonical RIFF/WAVE writer, byte-identical to
          // AudioSystem.write for PCM16 mono LE (WavSpec pins the
          // identity): AudioSystem routes every call through the
          // static-synchronized provider registry, which serializes
          // the 32 concurrent synth tasks on one JVM-global lock
          val bytes = writeWavPcm16Mono(pcm, 8000)
          Row(id + idOffset, bytes, Row("audio/wav", bytes.length.toLong))
        } else textBytesRow(id + idOffset, r.getAs[String]("text"))
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Canonical PCM16 WAV bytes: 44-byte RIFF header + the LE sample
    * data — exactly what `AudioSystem.write(..., Type.WAVE, ...)` emits
    * for a 16-bit mono little-endian stream (WavSpec asserts the byte
    * identity), without the JVM-global synchronized provider lookup
    * AudioSystem routes every call through.
    */
  private[graft] def writeWavPcm16Mono(pcm: Array[Byte],
                                       sampleRate: Int): Array[Byte] = {
    val out = new Array[Byte](44 + pcm.length)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + pcm.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate = rate * blockAlign
      .putShort(2)            // blockAlign = channels * 2
      .putShort(16)           // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(pcm.length)
      .put(pcm)
    out
  }

  /** Strict canonical RIFF/WAVE PCM16 parse — the lock-free fast path
    * of [[pcm16Samples]]. Returns None for ANYTHING non-canonical
    * (wrong magic, non-PCM, non-16-bit, truncated or oversized chunks),
    * in which case the caller falls back to the AudioSystem reader, so
    * accept/reject behavior on exotic content is exactly the old
    * path's. Chunk walk tolerates extra chunks before fmt/data (the
    * WaveFileReader behavior for canonical files).
    */
  private def parseWavPcm16Strict(b: Array[Byte]
                                 ): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 44) return None
    val bb = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(off: Int): String =
      new String(b, off, 4, "US-ASCII")
    if (fourcc(0) != "RIFF" || fourcc(8) != "WAVE") return None
    var off = 12
    var rate = -1
    var channels = -1
    var ok = true
    var data: Option[(Int, Int)] = None // (offset, len)
    while (ok && data.isEmpty && off + 8 <= b.length) {
      val tag = fourcc(off)
      val len = bb.getInt(off + 4)
      if (len < 0 || off + 8 + len > b.length) ok = false
      else tag match {
        case "fmt " =>
          if (len < 16) ok = false
          else {
            val fmtCode = bb.getShort(off + 8).toInt
            val bits = bb.getShort(off + 22).toInt
            channels = bb.getShort(off + 10).toInt
            rate = bb.getInt(off + 12)
            if (fmtCode != 1 || bits != 16 || channels <= 0 || rate <= 0)
              ok = false
          }
          off += 8 + len + (len & 1)
        case "data" =>
          if (rate <= 0) ok = false // fmt must precede data
          else data = Some((off + 8, len))
        case _ =>
          off += 8 + len + (len & 1)
      }
    }
    data match {
      case Some((dOff, dLen)) if ok =>
        val n = dLen / 2
        val out = new Array[Int](n)
        var i = 0
        while (i < n) {
          out(i) = ((b(dOff + 2 * i + 1) << 8) |
            (b(dOff + 2 * i) & 0xff)).toShort.toInt
          i += 1
        }
        Some((rate, channels, out))
      case _ => None
    }
  }

  private val audioSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("n_frames", LongType, nullable = true),
    StructField("sum_abs", LongType, nullable = true),
    StructField("max_abs", LongType, nullable = true)))

  /** Decode content to (sample_rate, channels, interleaved PCM16
    * samples) via the JDK readers (WAV/AIFF/AU); None for content no
    * reader accepts or non-16-bit encodings (null content included);
    * never throws. The one real audio decode, shared by the stats and
    * fingerprint kernels.
    */
  private def pcm16Samples(content: Array[Byte]
                          ): Option[(Int, Int, Array[Int])] =
    // canonical-WAV fast path first: AudioSystem.getAudioInputStream
    // serializes concurrent decode tasks on the JVM-global synchronized
    // provider registry (measured: a 32-task decode stage spent 52 of
    // 54 task-seconds blocked on it); anything the strict parser does
    // not fully recognize falls through to the JDK readers unchanged
    // (AIFF/AU/exotic WAV behavior identical — WavSpec pins agreement)
    parseWavPcm16Strict(content) orElse (
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16) None
      else {
        val bytes = ais.readAllBytes()
        val le = !fmt.isBigEndian
        val out = new Array[Int](bytes.length / 2)
        var i = 0
        while (2 * i + 1 < bytes.length) {
          out(i) =
            if (le) ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort.toInt
            else ((bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)).toShort.toInt
          i += 1
        }
        Some((fmt.getSampleRate.toInt, fmt.getChannels.toInt, out))
      }
    } catch { case _: Exception => None })

  /** REAL audio decode: `AudioSystem.getAudioInputStream` over the
    * content (WAV/AIFF/AU — the JDK's built-in readers), then exact
    * integer amplitude stats over the PCM16 samples. NULLs for content
    * no reader accepts or non-16-bit encodings; never throws. The
    * audio-corpus screening shape: silence/clipping detection is a
    * filter on (sum_abs, max_abs), duration bucketing on n_frames.
    */
  def decodeAudioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("doc_id", "content").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getAs[Long]("doc_id")
        pcm16Samples(r.getAs[Array[Byte]]("content")) match {
          case None => Row(id, null, null, null, null, null)
          case Some((rate, channels, samples)) =>
            var (sum, maxAbs) = (0L, 0L)
            var i = 0
            while (i < samples.length) {
              val a = math.abs(samples(i).toLong)
              sum += a
              if (a > maxAbs) maxAbs = a
              i += 1
            }
            Row(id, rate, channels, samples.length.toLong / channels,
              sum, maxAbs)
        }
      }
    }
    spark.createDataFrame(rdd, audioSchema)
  }

  private val subfpSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("win_idx", IntegerType, nullable = true),
    StructField("subfp", LongType, nullable = true)))

  /** Chromaprint-style audio subfingerprints over REAL decoded PCM16:
    * per non-overlapping `window`-sample window, `bands` integer band
    * energies E[b] = Σ|s| over window/bands consecutive samples, then
    * per window t >= 1 a (2·(bands−1))-bit subfingerprint of
    * differential signs — bit b (spatial) = E_t[b] > E_t[b+1], bit
    * bands−1+b (temporal) = (E_t[b]−E_t[b+1]) > (E_{t−1}[b]−E_{t−1}[b+1])
    * — the energy-band sign-of-difference shape of the published
    * Chromaprint/Philips audio-fingerprint family, with plain
    * band-energy sums in place of an FFT filterbank so every bit is
    * exact integer arithmetic and a SQL oracle replays the whole chain.
    * (A production lane would swap the energy kernel for a spectral
    * one; the Spark plumbing — per-partition decode, (id, win, subfp)
    * rows, the match join — is what this library owns.) One row per
    * window; content that does not decode, or yields fewer than two
    * full windows, emits one visible (id, NULL, NULL) row. Row-local,
    * zero-shuffle — the fingerprint table feeds [[audioNearDupPairs]]'
    * bounded equi-join.
    */
  def audioSubfingerprints(media: DataFrame, window: Int = 64,
                           bands: Int = 8): DataFrame = {
    // bands <= 32: the subfingerprint packs 2*(bands-1) sign bits into
    // one long (spatial bits 0..bands-2, temporal bits bands-1..
    // 2*bands-3); at bands >= 34 the temporal shift 1L << (bands-1+b)
    // exceeds 63 and Java's mod-64 shift wrap would silently overlap
    // the spatial bits — fail fast instead
    require(bands >= 2 && bands <= 32 && window % bands == 0,
      s"bands ($bands) must be in [2,32] and divide window ($window)")
    val spark = media.sparkSession
    val bw = window / bands
    val rdd = media.select("doc_id", "content").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getAs[Long]("doc_id")
        pcm16Samples(r.getAs[Array[Byte]]("content")) match {
          case None => Seq(Row(id, null, null))
          case Some((_, _, samples)) =>
            val nw = samples.length / window
            if (nw < 2) Seq(Row(id, null, null))
            else {
              // dd(t)(b) = E_t[b] − E_t[b+1], exact longs
              val dd = Array.ofDim[Long](nw, bands - 1)
              var t = 0
              while (t < nw) {
                val e = new Array[Long](bands)
                var j = 0
                while (j < window) {
                  e(j / bw) += math.abs(samples(t * window + j).toLong)
                  j += 1
                }
                var b = 0
                while (b < bands - 1) { dd(t)(b) = e(b) - e(b + 1); b += 1 }
                t += 1
              }
              (1 until nw).map { t =>
                var fp = 0L
                var b = 0
                while (b < bands - 1) {
                  if (dd(t)(b) > 0) fp |= 1L << b
                  if (dd(t)(b) > dd(t - 1)(b)) fp |= 1L << (bands - 1 + b)
                  b += 1
                }
                Row(id, t, fp)
              }
            }
        }
      }
    }
    spark.createDataFrame(rdd, subfpSchema)
  }

  /** Audio near-dup pairs over [[audioSubfingerprints]] output: items
    * sharing >= `minShared` aligned (win_idx, subfp) entries — clipped
    * or re-encoded copies of a recording match on their common prefix
    * windows. Scale shape: ONE equi-join on the (win_idx, subfp) key
    * with a hot-key cap (`maxBucket` items per key — an anthem-intro
    * window shared by millions of items generates candidates from
    * nobody), never all-pairs; 14-bit subfingerprints over
    * pseudo-random content keep buckets near-empty, so candidate
    * volume is linear in the corpus.
    *
    * CACHING CONTRACT: the narrow (id, key) fingerprint table is
    * `persist(MEMORY_AND_DISK)`-pinned across the returned plan's
    * three branches (hot-key census + both self-join sides) so the
    * media decode runs once, and stays pinned until the enclosing
    * [[graft.operators.Pins]] scope closes or, outside any scope, until
    * the caller runs `spark.catalog.clearCache()` (the Verify/Bench
    * harness does this between queries) — a long-lived library caller
    * issuing many of these should open a scope or clear the cache
    * between calls.
    */
  def audioNearDupPairs(media: DataFrame, minShared: Int = 2,
                        maxBucket: Int = 1000, window: Int = 64,
                        bands: Int = 8,
                        collapseExact: Boolean = false): DataFrame = {
    val fp = audioSubfingerprints(media, window, bands)
      .filter(col("subfp").isNotNull)
    sharedKeyPairs(fp, Seq("win_idx", "subfp"), minShared, maxBucket,
      "aud_a", "aud_b", "n_matched", collapseExact)
  }

  /** Pairs of items sharing >= `minShared` distinct fingerprint keys —
    * the shared match tail of [[audioNearDupPairs]] and
    * [[videoNearDupPairs]]: distinct (id, key) rows, hot keys past
    * `maxBucket` dropped (they identify nothing and would square the
    * candidate volume), one self-equi-join, one bounded pair count.
    */
  /** Group items whose ENTIRE distinct fingerprint set over `keyCols`
    * is identical — exact re-uploads of the same content — into
    * (doc_id, rep_id) rows, rep_id = the group's lowest doc_id. The
    * digest is an order-insensitive exact combination of the per-row
    * key hashes (count + wrapping sum + xor + min + max of
    * xxhash64(keyCols)), so it costs ONE narrow groupBy — no per-doc
    * collect_list, no sort, rows never widen past five longs — and two
    * docs collide only on an xxhash64 5-way coincidence. This is the
    * text `Dedup.exact` discipline for media: dup-heavy corpora (the
    * production clip-detection case — the same viral clip re-uploaded
    * millions of times) must collapse to representatives BEFORE pair
    * mining, or the copies blow every shared key past `maxBucket` and
    * the cap drops the genuine matches along with the spam (pass
    * `collapseExact = true` to [[audioNearDupPairs]] /
    * [[videoNearDupPairs]] / [[audioClipAlign]] / [[videoClipAlign]]
    * to apply it in-line).
    */
  def exactFingerprintGroups(fp: DataFrame, keyCols: Seq[String]): DataFrame = {
    val dig = fp.select(col("doc_id"),
        xxhash64(keyCols.map(col): _*).as("_kh")).distinct()
      .groupBy(col("doc_id"))
      // the sum component folds hashes into [0, 2^31): ANSI mode (the
      // session default) raises on long overflow, and 2^31-bounded
      // addends keep any physically possible fingerprint count
      // (< 2^32 rows/doc) inside a long
      .agg(count(lit(1)).as("_n"),
        sum(pmod(col("_kh"), lit(2147483647L))).as("_s"),
        expr("bit_xor(_kh)").as("_x"),
        min(col("_kh")).as("_mn"), max(col("_kh")).as("_mx"))
    val digKeys = Seq("_n", "_s", "_x", "_mn", "_mx")
    val rep = dig.groupBy(digKeys.map(col): _*)
      .agg(min(col("doc_id")).as("rep_id"))
    dig.join(rep, digKeys).select(col("doc_id"), col("rep_id"))
  }

  /** Keep only each exact-dup group's representative rows of `tbl`
    * (identity when `collapseExact` is false).
    */
  private def collapseReps(tbl: DataFrame, keyCols: Seq[String],
                           collapseExact: Boolean): DataFrame =
    if (!collapseExact) tbl
    else {
      val reps = exactFingerprintGroups(tbl, keyCols)
        .filter(col("doc_id") === col("rep_id")).select("doc_id")
      tbl.join(reps, Seq("doc_id"))
    }

  private def sharedKeyPairs(fp: DataFrame, keys: Seq[String],
                             minShared: Int, maxBucket: Int,
                             aName: String, bName: String,
                             nName: String,
                             collapseExact: Boolean = false,
                             collapseKeys: Seq[String] = Nil): DataFrame = {
    val kc = keys.map(col)
    // the fingerprint table feeds THREE plan branches (hot-key cap +
    // both self-join sides); unpinned lineage would re-run the media
    // decode per branch — decode dominates at any real scale, so pin
    // the narrow (id, key) rows once (the Dedup banding discipline;
    // the session's clearCache between queries releases it). The
    // optional exact-dup collapse runs on the PINNED rows, before the
    // hot-key census, so re-uploads neither evict genuine hot keys
    // nor pair quadratically among themselves.
    //
    // `collapseKeys` (default: the match keys) lets a SET-matching
    // caller collapse on POSITIONED rows: videoNearDupPairs matches on
    // the frame hash alone, but collapsing on the distinct hash SET
    // would fold reordered/looped/truncated streams that merely share
    // their distinct frames — not exact re-uploads (r12 advice). With
    // positioned collapse keys the digest hashes (frame_idx, fhash)
    // rows, so only byte-identical frame sequences group; the pinned
    // table is then the positioned one (decode still runs once) and
    // the match table is its narrow re-distinct projection. CACHING
    // NOTE: that branch pins TWO tables (the positioned rows and the
    // narrow re-projection) — both narrow, both released by the
    // session's clearCache; eagerly unpersisting the positioned one
    // here would force the projection's lineage to re-run the decode,
    // so a long-lived caller issuing many collapseExact calls should
    // clearCache between them (the documented contract).
    val tbl =
      if (!collapseExact)
        Pins.persist(fp.select((col("doc_id") +: kc): _*).distinct())
      else {
        val ck = if (collapseKeys.isEmpty) keys else collapseKeys
        val pos = Pins.persist(fp.select((col("doc_id") +: ck.map(col)): _*).distinct())
        val collapsed = collapseReps(pos, ck, collapseExact = true)
        if (ck == keys) collapsed
        else Pins.persist(collapsed.select((col("doc_id") +: kc): _*).distinct())
      }
    val ok = tbl.groupBy(kc: _*).agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxBucket).select(kc: _*)
    // the USING join reorders columns (keys first) — re-select before
    // the positional rename of the self-join's right side
    val kept = tbl.join(ok, keys).select(("doc_id" +: keys).map(col): _*)
    kept
      .join(kept.toDF(("doc_id" +: keys).map("y_" + _): _*),
        keys.map(k => col(k) === col("y_" + k))
          .reduce(_ && _) && col("doc_id") < col("y_doc_id"))
      .groupBy(col("doc_id").as(aName), col("y_doc_id").as(bName))
      .agg(count(lit(1)).as(nName))
      .filter(col(nName) >= minShared)
  }

  /** Video near-dup pairs — the frame-ahash-sequence discipline: every
    * frame of every stream REALLY decodes ([[framePlanes]]), resamples
    * to the 8×8 luma grid, and hashes through the codegen'd perceptual
    * [[graft.functions.AHash64]]; items sharing >= `minShared` distinct
    * frame hashes pair (a clipped or re-encoded copy shares its whole
    * frame sequence; a single coincidental frame — a black frame, a
    * standard intro card — does not, and hot frame hashes past
    * `maxBucket` are dropped entirely). Same bounded equi-join shape as
    * [[audioNearDupPairs]]: candidate volume linear in total frames.
    * Caching contract as [[audioNearDupPairs]] (the frame-hash table
    * stays pinned until the caller's `clearCache()`). `collapseExact`
    * collapses on POSITIONED (frame_idx, fhash) rows even though the
    * matching is set-shaped, so only byte-identical frame sequences
    * fold to a representative — reordered, looped, or truncated
    * streams that merely share their distinct frame hashes stay
    * separate items and still PAIR through the set match (r12 advice:
    * the set-digest collapse silently vanished them as "re-uploads").
    */
  def videoNearDupPairs(media: DataFrame, minShared: Int = 2,
                        maxBucket: Int = 1000,
                        collapseExact: Boolean = false): DataFrame =
    sharedKeyPairs(videoFrameHashes(media), Seq("fhash"), minShared,
      maxBucket, "vid_a", "vid_b", "n_shared", collapseExact,
      collapseKeys = Seq("frame_idx", "fhash"))

  /** Offset-voting clip ALIGNMENT over a positioned fingerprint table
    * (doc_id, idx, key) — the matching step of the published
    * Haitsma-Kalker / ContentID family, shared by [[audioClipAlign]]
    * and [[videoClipAlign]]: fingerprints match on the KEY alone (no
    * index equality, so a clip extracted from anywhere in the original
    * still matches), each match votes for the alignment
    * offset = idx_a − idx_b, and a pair is reported at its
    * best-supported offset when >= `minSupport` fingerprints agree —
    * scattered coincidental matches at inconsistent offsets never
    * reach the support bar, which is what makes key-only matching
    * safe. Scale shape: hot keys past `maxBucket` are dropped before
    * the join (the [[sharedKeyPairs]] contract), the vote aggregation
    * is one narrow groupBy over match rows, and the best-offset
    * election is a window over the (already pair-bounded) vote rows.
    */
  private def clipAlignPairs(fp: DataFrame, idxCol: String, keyCol: String,
                             minSupport: Int, maxBucket: Int,
                             aName: String, bName: String,
                             collapseExact: Boolean = false): DataFrame = {
    // positioned collapse: an exact re-upload has the identical
    // (idx, key) SEQUENCE, so the digest hashes both columns
    val tbl = collapseReps(
      Pins.persist(fp.select(col("doc_id"), col(idxCol).as("idx"), col(keyCol).as("key"))
        .distinct()),
      Seq("idx", "key"), collapseExact)
    clipAlignOnTable(tbl, minSupport, maxBucket, aName, bName)
  }

  /** The census + vote + election tail of [[clipAlignPairs]] over an
    * already-prepared (doc_id, idx, key) table (distinct rows, any
    * exact-dup collapse already applied) — split out so [[audioDedup]]/
    * [[videoDedup]] can feed it the SAME collapsed table their
    * exact-group digest already produced instead of digesting the
    * fingerprint set a second time inside the collapse.
    */
  private def clipAlignOnTable(tbl: DataFrame, minSupport: Int,
                               maxBucket: Int,
                               aName: String, bName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ok = tbl.groupBy(col("key")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxBucket).select("key")
    val kept = tbl.join(ok, Seq("key")).select("doc_id", "idx", "key")
    val votes = kept
      .join(kept.toDF("y_doc_id", "y_idx", "key"), Seq("key"))
      .filter(col("doc_id") < col("y_doc_id"))
      .groupBy(col("doc_id").as(aName), col("y_doc_id").as(bName),
        (col("idx") - col("y_idx")).cast("long").as("offset"))
      .agg(count(lit(1)).as("support"))
    val best = Window.partitionBy(col(aName), col(bName))
      .orderBy(col("support").desc, col("offset").asc)
    votes.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1 && col("support") >= minSupport)
      .drop("rn")
  }

  /** Audio clip detection at ARBITRARY offsets: [[audioSubfingerprints]]
    * matched on the subfingerprint alone with offset voting
    * ([[clipAlignPairs]]) — a mid-stream extract of a recording aligns
    * to its original at the extraction offset, which aligned
    * (win_idx, subfp) matching ([[audioNearDupPairs]]) can only see
    * for prefix clips. One row per detected pair: both ids, the
    * winning window offset, and its vote count. Caching contract as
    * [[audioNearDupPairs]] (the fingerprint table stays pinned until
    * the caller's `clearCache()`).
    */
  def audioClipAlign(media: DataFrame, minSupport: Int = 2,
                     maxBucket: Int = 1000, window: Int = 64,
                     bands: Int = 8,
                     collapseExact: Boolean = false): DataFrame =
    clipAlignPairs(
      audioSubfingerprints(media, window, bands)
        .filter(col("subfp").isNotNull),
      "win_idx", "subfp", minSupport, maxBucket, "aud_a", "aud_b",
      collapseExact)

  /** Video clip detection at ARBITRARY offsets: per-frame perceptual
    * hashes ([[framePlanes]] + ahash64) matched on the hash alone with
    * offset voting — the frame-sequence complement of
    * [[videoNearDupPairs]]' set matching, reporting WHERE the clip
    * aligns (the winning frame offset) alongside the match. Caching
    * contract as [[audioNearDupPairs]] (the frame-hash table stays
    * pinned until the caller's `clearCache()`).
    */
  def videoClipAlign(media: DataFrame, minSupport: Int = 2,
                     maxBucket: Int = 1000,
                     collapseExact: Boolean = false): DataFrame =
    clipAlignPairs(videoFrameHashes(media),
      "frame_idx", "fhash", minSupport, maxBucket, "vid_a", "vid_b",
      collapseExact)

  /** The audio fingerprint index as a DURABLE artifact — the
    * [[graft.operators.Dedup.saveMinhashIndex]] discipline applied to
    * clip detection: fingerprint the catalog ONCE, persist the narrow
    * (doc_id, win_idx, subfp) rows + the fingerprinting parameters,
    * append each day's new media without rescanning the catalog, probe
    * with query fingerprints at serving time ([[probeClipIndex]] /
    * the streaming_clip_align join). `fps` rows are tiny (24 bytes);
    * the audio itself never persists and never rides a shuffle.
    */
  case class ClipIndex(fps: DataFrame, window: Int, bands: Int)

  /** Fingerprint `media` into a [[ClipIndex]] (content that does not
    * decode contributes no rows — an index of silence detects nothing).
    */
  def buildClipIndex(media: DataFrame, window: Int = 64,
                     bands: Int = 8): ClipIndex =
    ClipIndex(audioSubfingerprints(media, window, bands)
      .filter(col("subfp").isNotNull), window, bands)

  def saveClipIndex(index: ClipIndex, path: String): Unit = {
    val spark = index.fps.sparkSession
    import spark.implicits._
    index.fps.select("doc_id", "win_idx", "subfp")
      .repartition(col("doc_id")) // size-adaptive index files (AQE coalesce)
      .write.mode("overwrite").parquet(s"$path/fingerprints")
    Seq((index.window, index.bands)).toDF("window", "bands")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Restore the index; fingerprints dedupe on (doc_id, win_idx), so a
    * crashed append retried is IDEMPOTENT — duplicate rows collapse
    * before any probe sees them (the loadMinhashIndex contract).
    */
  def loadClipIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): ClipIndex = {
    val m = spark.read.parquet(s"$path/meta").head()
    ClipIndex(
      spark.read.parquet(s"$path/fingerprints")
        .dropDuplicates("doc_id", "win_idx"),
      m.getAs[Int]("window"), m.getAs[Int]("bands"))
  }

  /** The daily-crawl APPEND: fingerprint `media` with the SAVED
    * parameters (a batch fingerprinted at a different window width
    * would match nothing — the meta table exists to prevent exactly
    * that) and parquet-append the one fingerprint table; the catalog
    * is never rescanned and the index never rebuilds. Schema compared
    * symmetrically before the append — mixed-schema part files that
    * readers quietly null-fill are the failure mode.
    */
  def appendClipIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, media: DataFrame): Unit = {
    val m = spark.read.parquet(s"$path/meta").head()
    appendCheckedFingerprints(spark, path,
      audioSubfingerprints(media,
          m.getAs[Int]("window"), m.getAs[Int]("bands"))
        .filter(col("subfp").isNotNull)
        .select("doc_id", "win_idx", "subfp"))
  }

  /** Probe the index with QUERY media (decoded + fingerprinted with
    * the index's own parameters): the [[clipAlignPairs]] vote/election
    * law run asymmetrically — key-only subfingerprint matches vote for
    * offset = index win − query win, each (query, match) pair reports
    * its best-supported alignment at >= `minSupport` votes. The index
    * side carries the hot-key cap; the sides are disjoint tables, so
    * no self-join ordering is needed. Caching contract as
    * [[audioNearDupPairs]] (the index fingerprints stay pinned until
    * the caller's `clearCache()`).
    */
  def probeClipIndex(index: ClipIndex, queries: DataFrame,
                     minSupport: Int = 2, maxBucket: Int = 1000): DataFrame =
    probeIndexPairs(
      index.fps.select(col("doc_id"), col("win_idx").as("idx"), col("subfp").as("key")),
      audioSubfingerprints(queries, index.window, index.bands)
        .filter(col("subfp").isNotNull)
        .select(col("doc_id"), col("win_idx").as("idx"), col("subfp").as("key")),
      "aud_q", "aud_m", minSupport, maxBucket)

  /** The asymmetric vote/election shared by [[probeClipIndex]] and
    * [[probeVideoClipIndex]]: key-only matches of query fingerprints
    * against the persisted index vote for offset = index idx − query
    * idx; each (query, match) pair reports its best-supported
    * alignment at >= `minSupport` votes. The index side carries the
    * hot-key cap; the sides are disjoint tables, so no self-join
    * ordering is needed.
    */
  private def probeIndexPairs(idxFps: DataFrame, qFps: DataFrame,
                              qName: String, mName: String,
                              minSupport: Int, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idx = Pins.persist(idxFps)
    val ok = idx.groupBy("key").agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxBucket).select("key")
    val statik = idx.join(ok, Seq("key"))
      .select(col("key"), col("doc_id").as(mName), col("idx").as("m_idx"))
    val votes = qFps.join(statik, Seq("key"))
      .groupBy(col("doc_id").as(qName), col(mName),
        (col("m_idx") - col("idx")).cast("long").as("offset"))
      .agg(count(lit(1)).as("support"))
    val best = Window.partitionBy(col(qName), col(mName))
      .orderBy(col("support").desc, col("offset").asc)
    votes.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1 && col("support") >= minSupport)
      .drop("rn")
  }

  /** End-to-end media dedup — the semantic_dedup composition over
    * audio fingerprints, the pipeline a dup-heavy media corpus
    * actually ships: fingerprint once, collapse exact re-uploads to
    * representatives ([[exactFingerprintGroups]]), mine clip-level
    * near-dup pairs among the representatives at ARBITRARY offsets
    * (the [[audioClipAlign]] vote law — a mid-stream extract clusters
    * with its original, which aligned-key matching cannot see), glue
    * exact-group membership edges back in, run connected components,
    * and keep each cluster's lowest-id member. Items that do not
    * decode keep themselves (there is nothing to compare). Returns the
    * keeper doc_ids. Scale shape: the narrow fingerprint rows are
    * pinned once for every branch (decode never re-runs), exact-group
    * edges are linear in members, pair candidates ride the hot-capped
    * key equi-join, and components use pointer-doubling — no stage is
    * all-pairs. Caching contract as [[audioNearDupPairs]].
    */
  def audioDedup(media: DataFrame, minSupport: Int = 2,
                 maxBucket: Int = 1000, window: Int = 64,
                 bands: Int = 8): DataFrame = {
    // one hash exchange of the NARROW fingerprint rows before the pin:
    // the decode map runs at input parallelism, while the pinned table
    // the composition's branches all read gets the bytes-proportional
    // AQE partitioning (a map-side pin would freeze the decode's
    // partition count into every downstream stage). Media bytes still
    // never ride a shuffle — fingerprints are the lightweight proxy.
    val fp = Pins.persist(audioSubfingerprints(media, window, bands)
      .select(col("doc_id"), col("win_idx"), col("subfp"))
      .repartition(col("doc_id")))
    mediaDedupOn(fp, "win_idx", "subfp", minSupport, maxBucket)
  }

  /** The shared composition tail of [[audioDedup]] and [[videoDedup]]
    * over a PERSISTED (doc_id, idxCol, keyCol) fingerprint table
    * (undecodable items present as their visible (id, NULL) row, so
    * the universe needs no second decode pass; positioned rows unique
    * per (doc, idx) by the fingerprint contracts). The exact-group
    * digest runs ONCE and feeds both the collapse (representatives
    * into the align join) and the member→rep edges — the pre-r14 shape
    * digested the identical positioned rows a second time inside
    * [[clipAlignPairs]]' collapse.
    */
  private def mediaDedupOn(fp: DataFrame, idxCol: String, keyCol: String,
                           minSupport: Int, maxBucket: Int): DataFrame = {
    val universe = fp.select("doc_id").distinct()
    val pos = fp.filter(col(keyCol).isNotNull)
      .select(col("doc_id"), col(idxCol).as("idx"), col(keyCol).as("key"))
    // narrow (doc_id, rep_id) rows, two consumers (reps filter + edges)
    val groups = Pins.persist(exactFingerprintGroups(pos, Seq("idx", "key")))
    val reps = groups.filter(col("doc_id") === col("rep_id")).select("doc_id")
    val aligned = clipAlignOnTable(pos.join(reps, Seq("doc_id")),
        minSupport, maxBucket, "a", "b")
      .select("a", "b")
    val edges = aligned.unionByName(
      groups.filter(col("doc_id") =!= col("rep_id"))
        .select(col("doc_id").as("a"), col("rep_id").as("b")))
    val cc = graft.operators.Dedup.connectedComponents(edges, "a", "b")
      .withColumnRenamed("a", "doc_id")
    universe.join(cc, Seq("doc_id"), "left")
      .filter(coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
      .select(col("doc_id"))
  }

  /** [[audioDedup]] for video streams: collapse byte-identical
    * re-uploads of a frame sequence, mine offset-voting frame-hash
    * clip pairs among the representatives (a head-clipped re-encode
    * clusters with its original), glue exact-group edges back, run
    * connected components, keep each cluster's lowest-id member;
    * streams that do not decode keep themselves. Same scale shape and
    * caching contract as [[audioDedup]].
    */
  def videoDedup(media: DataFrame, minSupport: Int = 2,
                 maxBucket: Int = 1000): DataFrame = {
    val fp = Pins.persist(framePlanes(media, 8, 8)
      .select(col("doc_id"), col("frame_idx"),
        when(col("luma").isNotNull,
          graft.functions.MediaExpressions.ahash64(col("luma"))).as("fhash"))
      .repartition(col("doc_id"))) // adaptive pin layout, see audioDedup
    mediaDedupOn(fp, "frame_idx", "fhash", minSupport, maxBucket)
  }

  /** Per-frame perceptual hashes of a frame-stream table — the video
    * fingerprint primitive shared by [[videoNearDupPairs]],
    * [[videoClipAlign]], and the durable [[VideoClipIndex]]: every
    * frame REALLY decodes ([[framePlanes]]), resamples to the
    * `gridW`×`gridH` luma grid, and hashes through the codegen'd
    * [[graft.functions.AHash64]]. One (doc_id, frame_idx, fhash) row
    * per decodable frame; row-local, zero-shuffle.
    */
  def videoFrameHashes(media: DataFrame, gridW: Int = 8,
                       gridH: Int = 8): DataFrame =
    framePlanes(media, gridW, gridH)
      .filter(col("luma").isNotNull)
      .select(col("doc_id"), col("frame_idx"),
        graft.functions.MediaExpressions.ahash64(col("luma")).as("fhash"))

  /** The video frame-hash index as a DURABLE artifact — the audio
    * [[ClipIndex]] discipline applied to the frame-ahash table: hash
    * the catalog ONCE, persist the narrow (doc_id, frame_idx, fhash)
    * rows + the grid parameters, append each day's new media without
    * rescanning the catalog, probe with query frame hashes at serving
    * time ([[probeVideoClipIndex]]). Rows are narrow (id, idx, and the
    * 64-bit hash string); the video itself never persists and never
    * rides a shuffle.
    */
  case class VideoClipIndex(fps: DataFrame, gridW: Int, gridH: Int)

  /** Hash `media` frame streams into a [[VideoClipIndex]] (content
    * that does not decode contributes no rows).
    */
  def buildVideoClipIndex(media: DataFrame, gridW: Int = 8,
                          gridH: Int = 8): VideoClipIndex =
    VideoClipIndex(videoFrameHashes(media, gridW, gridH), gridW, gridH)

  def saveVideoClipIndex(index: VideoClipIndex, path: String): Unit = {
    val spark = index.fps.sparkSession
    import spark.implicits._
    index.fps.select("doc_id", "frame_idx", "fhash")
      .repartition(col("doc_id")) // size-adaptive index files (AQE coalesce)
      .write.mode("overwrite").parquet(s"$path/fingerprints")
    Seq((index.gridW, index.gridH)).toDF("grid_w", "grid_h")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Restore the index; hashes dedupe on (doc_id, frame_idx), so a
    * crashed append retried is IDEMPOTENT (the [[loadClipIndex]]
    * contract).
    */
  def loadVideoClipIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): VideoClipIndex = {
    val m = spark.read.parquet(s"$path/meta").head()
    VideoClipIndex(
      spark.read.parquet(s"$path/fingerprints")
        .dropDuplicates("doc_id", "frame_idx"),
      m.getAs[Int]("grid_w"), m.getAs[Int]("grid_h"))
  }

  /** The daily-crawl APPEND with the SAVED grid parameters (a batch
    * hashed at a different grid would match nothing — the meta table
    * exists to prevent exactly that); schema compared symmetrically
    * before the append, the [[appendClipIndex]] contract.
    */
  def appendVideoClipIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, media: DataFrame): Unit = {
    val m = spark.read.parquet(s"$path/meta").head()
    appendCheckedFingerprints(spark, path,
      videoFrameHashes(media,
          m.getAs[Int]("grid_w"), m.getAs[Int]("grid_h"))
        .select("doc_id", "frame_idx", "fhash"))
  }

  /** Probe the video index with QUERY frame streams (decoded + hashed
    * with the index's own grid): the [[probeClipIndex]] law over frame
    * hashes — one (vid_q, vid_m, offset, support) row per detected
    * alignment. Caching contract as [[audioNearDupPairs]].
    */
  def probeVideoClipIndex(index: VideoClipIndex, queries: DataFrame,
                          minSupport: Int = 2, maxBucket: Int = 1000): DataFrame =
    probeIndexPairs(
      index.fps.select(col("doc_id"), col("frame_idx").as("idx"),
        col("fhash").as("key")),
      videoFrameHashes(queries, index.gridW, index.gridH)
        .select(col("doc_id"), col("frame_idx").as("idx"),
          col("fhash").as("key")),
      "vid_q", "vid_m", minSupport, maxBucket)

  /** Pixel law of the STILL-image dedup fixture for doc id — frame 0 of
    * the [[videoPixel]] law: (x² + y² + (x+y)·id + id) mod 256.
    * QUADRATIC for the same reason the video law is: an 8×8 perceptual
    * hash of a thresholded LINEAR ramp takes only a handful of bit
    * patterns, and distinct docs' stills would flood the hamming join
    * with spurious near-dup pairs. Periodic in id mod 768 (pixels
    * repeat mod 256, dims mod 24/16), so docs 768 apart with equal
    * dims are BYTE-IDENTICAL images — deliberate: genuine cross-doc
    * exact duplicates ride every fixture scale, and the oracle groups
    * them by the (src mod 768, format) law.
    */
  def imagePixel(docId: Long, x: Int, y: Int): Int = videoPixel(docId, 0, x, y)

  /** Synthesize a media table of GENUINE single still images under the
    * quadratic [[imagePixel]] law: dims from [[fixtureDims]], container
    * `fmt` = "png" (1-band gray) or "bmp" (24-bit RGB with r=g=b, the
    * 3-band floor-mean decode path) — both LOSSLESS, so a re-encode
    * (`fmt = "bmp"` over the same source id) is pixel-identical but
    * byte-distinct: the classic image near-dup (same picture, different
    * container) the perceptual hash must catch where byte dedup cannot.
    * `idOffset` shifts emitted ids while the law stays keyed on the
    * SOURCE doc (the fabricateAudio damage discipline); docs failing
    * [[fixtureIsImage]] carry their text bytes (in-domain corrupt
    * media).
    */
  def fabricateStillImages(docs: DataFrame, idOffset: Long = 0L,
                           fmt: String = "png"): DataFrame = {
    require(fmt == "png" || fmt == "bmp", s"lossless fixture formats only: $fmt")
    val spark = docs.sparkSession
    val rdd = graft.operators.Par.fanOut(
      docs.select("doc_id", "text")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getAs[Long]("doc_id")
        if (fixtureIsImage(id)) {
          val (w, h) = fixtureDims(id)
          val imgType =
            if (fmt == "bmp") java.awt.image.BufferedImage.TYPE_INT_RGB
            else java.awt.image.BufferedImage.TYPE_BYTE_GRAY
          val img = new java.awt.image.BufferedImage(w, h, imgType)
          val raster = img.getRaster
          val bands = raster.getNumBands
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = imagePixel(id, x, y)
              var b = 0
              while (b < bands) { raster.setSample(x, y, b, v); b += 1 }
              x += 1
            }
            y += 1
          }
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, fmt, baos)
          val bytes = baos.toByteArray
          Row(id + idOffset, bytes, Row(s"image/$fmt", bytes.length.toLong))
        } else textBytesRow(id + idOffset, r.getAs[String]("text"))
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  private val imageFeatureSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("bhash", StringType, nullable = false),
    StructField("asig", StringType, nullable = true),
    StructField("dsig", StringType, nullable = true)))

  /** ONE decode pass per still image → everything image dedup and the
    * admission gate need: the exact byte digest (length + md5 — no
    * second scan of the media bytes for the exact-dup collapse) and TWO
    * independent perceptual signatures over the really-decoded luma
    * plane:
    *  - `asig`: average-hash over the `gridW`×`gridH` nearest-neighbor
    *    resample — the [[graft.functions.AHash64]] rule exactly
    *    (bit i = n·v(i) > Σv, strict, integer), so it equals
    *    ahash64(8×8 luma plane) bit for bit (the multimodal_phash law);
    *  - `dsig`: difference-hash (the published dHash recipe) over the
    *    (gridW+1)×gridH resample — bit (x, y) = v(x+1, y) > v(x, y),
    *    row-major. Gradient-based where aHash is mean-based: the two
    *    signatures fail independently, which is what lets a gate demand
    *    BOTH agree (support 2) before rejecting an upload on a 64-bit
    *    low-entropy hash.
    * Undecodable content carries NULL signatures (visible row, never a
    * throw — the decodeFeatures contract). Row-local, zero-shuffle.
    */
  private[graft] def imageFeatures(media: DataFrame, gridW: Int = 8,
                                   gridH: Int = 8): DataFrame = {
    require(gridW > 0 && gridH > 0, "grid dims must be positive")
    val spark = media.sparkSession
    val rdd = media.select("doc_id", "content").rdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val id = r.getAs[Long]("doc_id")
        val content = r.getAs[Array[Byte]]("content")
        val nBytes = if (content == null) 0L else content.length.toLong
        md.reset()
        val bh = (if (content == null) Array.empty[Byte] else md.digest(content))
          .map(b => f"${b & 0xff}%02x").mkString
        val img = if (content == null) null else decodeImage(content)
        if (img == null) Row(id, nBytes, bh, null, null)
        else {
          val (sw, sh) = (img.getWidth, img.getHeight)
          // nearest-neighbor resample shared with resize/framePlanes:
          // sample (x, y) of a gw×gh grid = luma(x·sw div gw, y·sh div gh)
          def plane(gw: Int, gh: Int): Array[Int] = {
            val out = new Array[Int](gw * gh)
            var y = 0
            while (y < gh) {
              val sy = (y.toLong * sh / gh).toInt
              var x = 0
              while (x < gw) {
                out(y * gw + x) = lumaAt(img, (x.toLong * sw / gw).toInt, sy)
                x += 1
              }
              y += 1
            }
            out
          }
          val a = plane(gridW, gridH)
          val n = a.length
          var total = 0L
          var i = 0
          while (i < n) { total += a(i); i += 1 }
          val aBits = new Array[Byte](n)
          i = 0
          while (i < n) {
            aBits(i) = if (a(i).toLong * n > total) '1'.toByte else '0'.toByte
            i += 1
          }
          val d9 = plane(gridW + 1, gridH)
          val dBits = new Array[Byte](n)
          var y = 0
          while (y < gridH) {
            var x = 0
            while (x < gridW) {
              dBits(y * gridW + x) =
                if (d9(y * (gridW + 1) + x + 1) > d9(y * (gridW + 1) + x))
                  '1'.toByte else '0'.toByte
              x += 1
            }
            y += 1
          }
          Row(id, nBytes, bh, new String(aBits, "US-ASCII"),
            new String(dBits, "US-ASCII"))
        }
      }
    }
    spark.createDataFrame(rdd, imageFeatureSchema)
  }

  /** The two perceptual signatures per still image in LONG format —
    * (doc_id, kind, sig) with kind 'a' (average-hash) / 'd'
    * (difference-hash), the row shape the admission gate's support vote
    * and the durable [[ImageSigIndex]] store: one equi-join on
    * (kind, sig), votes = agreeing signature kinds. Undecodable content
    * emits one visible (doc_id, NULL, NULL) row (the
    * audioSubfingerprints contract). See [[imageFeatures]] for the
    * signature laws.
    */
  def imageSignatures(media: DataFrame, gridW: Int = 8,
                      gridH: Int = 8): DataFrame =
    imageFeatures(media, gridW, gridH).select(col("doc_id"),
        explode(when(col("asig").isNotNull, array(
            struct(lit("a").as("kind"), col("asig").as("sig")),
            struct(lit("d").as("kind"), col("dsig").as("sig"))))
          .otherwise(array(struct(lit(null).cast("string").as("kind"),
            lit(null).cast("string").as("sig"))))).as("kv"))
      .select(col("doc_id"), col("kv.kind").as("kind"), col("kv.sig").as("sig"))

  /** End-to-end STILL-IMAGE dedup — [[audioDedup]]'s composition for
    * the modality a multimodal-corpus user hits first: one decode pass
    * ([[imageFeatures]]), exact byte collapse (length + md5 digest
    * groups — re-upload floods fold to their lowest-id representative
    * BEFORE any pair mining), banded-hamming perceptual near-dup pairs
    * among the representatives (the [[graft.operators.Dedup
    * .simhashPairs]] machinery over the average-hash — 4×16-bit bands,
    * hot buckets past `maxBucket` dropped, never all-pairs; complete
    * recall for `maxDist` < 4) VERIFIED by the second signature family
    * — a candidate pair survives only when the difference-hashes also
    * agree within `maxDist` (the admission gate's two-family bar
    * applied to the batch path: a single 64-bit average-hash of an 8×8
    * grid is low-entropy, and at billions of images its coincidental
    * collisions would merge unrelated clusters TRANSITIVELY through
    * the component step; the dHash verify is a row-local filter over
    * the already-bounded candidates, so precision costs no extra
    * shuffle) — then exact-group edges glued back, connected
    * components (pointer doubling), min-id keeper per cluster. Items
    * that do not decode keep themselves (byte-exact dup detection
    * among undecodables is [[graft.operators.Dedup.exact]]'s job on
    * whatever that content really is — this operator only ever removes
    * EVIDENCED image duplicates). Returns the keeper doc_ids.
    *
    * Scale shape: media bytes are read ONCE and never ride a shuffle
    * (the decode pass emits five narrow columns); the digest groupBy,
    * band join, and CC all shuffle hash-narrow rows. Caching contract
    * as [[audioNearDupPairs]] — the feature table stays pinned until
    * the caller's `clearCache()`.
    */
  def imageDedup(media: DataFrame, maxDist: Int = 3,
                 maxBucket: Int = 1000): DataFrame = {
    val ft = Pins.persist(imageFeatures(media)
      .repartition(col("doc_id"))) // adaptive pin layout, see audioDedup
    val universe = ft.select("doc_id").distinct()
    val dec = ft.filter(col("asig").isNotNull)
    val grp = dec.groupBy(col("n_bytes"), col("bhash"))
      .agg(min(col("doc_id")).as("rep_id"))
    val groups = dec.join(grp, Seq("n_bytes", "bhash"))
      .select(col("doc_id"), col("rep_id"))
    val reps = dec.join(
        groups.filter(col("doc_id") === col("rep_id")).select("doc_id"),
        Seq("doc_id"))
    val cand = graft.operators.Dedup.simhashPairs(
        reps.select(col("doc_id"), col("asig").as("simhash")), "doc_id",
        maxDist = maxDist, maxBucket = maxBucket)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    // dHash verify over the bounded candidates: band-parse each side's
    // difference-hash to 4 longs and xor/bit_count — the simhashPairs
    // hamming kernel, applied row-locally after two narrow id joins
    val dh = reps.select(col("doc_id"), col("dsig"))
    def dHamming(x: Column, y: Column): Column =
      (0 until 4).map { c =>
        bit_count(conv(substring(x, 1 + 16 * c, 16), 2, 10).cast("long")
          .bitwiseXOR(conv(substring(y, 1 + 16 * c, 16), 2, 10).cast("long")))
      }.reduce(_ + _)
    val pairs = cand
      .join(dh.toDF("a", "da"), Seq("a"))
      .join(dh.toDF("b", "db"), Seq("b"))
      .filter(dHamming(col("da"), col("db")) <= maxDist)
      .select(col("a"), col("b"))
    val edges = pairs.unionByName(
      groups.filter(col("doc_id") =!= col("rep_id"))
        .select(col("doc_id").as("a"), col("rep_id").as("b")))
    val cc = graft.operators.Dedup.connectedComponents(edges, "a", "b")
      .withColumnRenamed("a", "doc_id")
    universe.join(cc, Seq("doc_id"), "left")
      .filter(coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
      .select(col("doc_id"))
  }

  /** The still-image signature index as a DURABLE artifact — the
    * [[ClipIndex]] discipline for the image admission gate: sign the
    * catalog ONCE, persist the narrow (doc_id, kind, sig) rows + the
    * grid parameters, append each day's new media without rescanning
    * the catalog, probe with query signatures at serving time. Rows
    * are tiny; the image bytes never persist and never ride a shuffle.
    */
  case class ImageSigIndex(sigs: DataFrame, gridW: Int, gridH: Int)

  /** Sign `media` into an [[ImageSigIndex]] (content that does not
    * decode contributes no rows — an index of nothing detects nothing).
    */
  def buildImageSigIndex(media: DataFrame, gridW: Int = 8,
                         gridH: Int = 8): ImageSigIndex =
    ImageSigIndex(imageSignatures(media, gridW, gridH)
      .filter(col("sig").isNotNull), gridW, gridH)

  def saveImageSigIndex(index: ImageSigIndex, path: String): Unit = {
    val spark = index.sigs.sparkSession
    import spark.implicits._
    index.sigs.select("doc_id", "kind", "sig")
      .repartition(col("doc_id")) // size-adaptive index files (AQE coalesce)
      .write.mode("overwrite").parquet(s"$path/fingerprints")
    Seq((index.gridW, index.gridH)).toDF("grid_w", "grid_h")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Restore the index; signatures dedupe on (doc_id, kind), so a
    * crashed append retried is IDEMPOTENT (the [[loadClipIndex]]
    * contract).
    */
  def loadImageSigIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): ImageSigIndex = {
    val m = spark.read.parquet(s"$path/meta").head()
    ImageSigIndex(
      spark.read.parquet(s"$path/fingerprints")
        .dropDuplicates("doc_id", "kind"),
      m.getAs[Int]("grid_w"), m.getAs[Int]("grid_h"))
  }

  /** The daily-crawl APPEND with the SAVED grid parameters (the
    * [[appendClipIndex]] contract: parameter drift would make a batch
    * match nothing; schemas compared symmetrically before the append).
    */
  def appendImageSigIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, media: DataFrame): Unit = {
    val m = spark.read.parquet(s"$path/meta").head()
    appendCheckedFingerprints(spark, path,
      imageSignatures(media, m.getAs[Int]("grid_w"), m.getAs[Int]("grid_h"))
        .filter(col("sig").isNotNull)
        .select("doc_id", "kind", "sig"))
  }

  /** Probe the index with QUERY media (decoded + signed with the
    * index's own grid): one equi-join on (kind, sig), votes = the
    * number of signature KINDS agreeing per (query, match) pair,
    * reported at >= `minSupport` (2 = both the average-hash and the
    * difference-hash agree — the still-image form of the clip lanes'
    * offset-vote bar, needed because a single 64-bit perceptual hash
    * of an 8×8 grid is low-entropy). The index side carries the
    * hot-key cap. Caching contract as [[audioNearDupPairs]].
    */
  def probeImageSigIndex(index: ImageSigIndex, queries: DataFrame,
                         minSupport: Int = 2, maxBucket: Int = 1000): DataFrame = {
    val idx = Pins.persist(index.sigs)
    val ok = idx.groupBy("kind", "sig").agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxBucket).select("kind", "sig")
    val statik = idx.join(ok, Seq("kind", "sig"))
      .select(col("kind"), col("sig"), col("doc_id").as("img_m"))
    imageSignatures(queries, index.gridW, index.gridH)
      .filter(col("sig").isNotNull)
      .join(statik, Seq("kind", "sig"))
      .groupBy(col("doc_id").as("img_q"), col("img_m"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** The symmetric schema check + parquet append shared by the three
    * durable-index appends: mixed-schema part files that readers
    * quietly null-fill are the failure mode.
    */
  private def appendCheckedFingerprints(
      spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame): Unit = {
    val saved = spark.read.parquet(s"$path/fingerprints").schema
    batch.schema.fields.foreach { f =>
      val s = saved.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"append column '${f.name}' absent from saved index schema $saved"))
      require(s.dataType == f.dataType,
        s"append column '${f.name}': ${f.dataType} != saved ${s.dataType}")
    }
    saved.fields.foreach { f =>
      require(batch.schema.fields.exists(_.name == f.name),
        s"saved column '${f.name}' absent from append batch")
    }
    batch.repartition(col("doc_id")) // size-adaptive part files
      .write.mode("append").parquet(s"$path/fingerprints")
  }

  /** Frame count law of the video fixture: 2 + (id mod 4) frames. */
  def videoFrames(docId: Long): Int = (2 + docId % 4).toInt

  /** Synthesize a media table of frame SEQUENCES — each item is the
    * concatenation of [[videoFrames]] genuine PNGs (the MJPEG shape:
    * a stream of independently-decodable still frames, each drawn from
    * the pseudo-random [[videoPixel]] law — consecutive frames differ
    * structurally, the way real video frames do). Real "video" work
    * without a codec dependency: extraction must find frame boundaries
    * in the byte stream and each frame must truly decode. Non-media
    * docs (per [[fixtureIsImage]]) carry text bytes.
    *
    * `idOffset`/`frameShift` plant deterministic NEAR-DUP variants:
    * dims and the gradient law stay keyed on the ORIGINAL doc_id while
    * the emitted id shifts by `idOffset` and the stream starts at frame
    * `frameShift` — a head-clipped re-encode whose every frame is
    * byte-identical content to a frame of the original, the
    * video_neardup_pairs fixture.
    */
  def fabricateFrameStream(docs: DataFrame, idOffset: Long = 0L,
                           frameShift: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val rdd = graft.operators.Par.fanOut(
      docs.select("doc_id", "text")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getAs[Long]("doc_id")
        if (fixtureIsImage(id)) {
          val (w, h) = fixtureDims(id)
          val baos = new java.io.ByteArrayOutputStream()
          var f = frameShift
          while (f < videoFrames(id)) {
            baos.write(framePng(w, h, id, f))
            f += 1
          }
          val bytes = baos.toByteArray
          Row(id + idOffset, bytes, Row("video/x-png-stream", bytes.length.toLong))
        } else textBytesRow(id + idOffset, r.getAs[String]("text"))
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  private val pngMagic =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  private def pngOffsets(content: Array[Byte]): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i + pngMagic.length <= content.length) {
      var j = 0
      while (j < pngMagic.length && content(i + j) == pngMagic(j)) j += 1
      if (j == pngMagic.length) { out += i; i += pngMagic.length }
      else i += 1
    }
    out.toSeq
  }

  private val videoFrameSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sum_luma", LongType, nullable = true)))

  /** REAL frame extraction + per-frame decode over a frame stream: find
    * PNG signature boundaries in the raw bytes, decode every frame
    * through [[decodeImage]], emit one row per frame with the exact
    * luma stats ([[decodeFeatures]]' law, per frame). (Signature
    * scanning is the container-less boundary rule; a real container —
    * MJPEG/AVI, MP4 — carries explicit frame offsets and would replace
    * only [[pngOffsets]]; an 8-byte signature colliding inside deflate
    * data is a ~2^-64-per-byte event.) Items with no
    * extractable frame yield one all-NULL row (frame_idx 0) so
    * corrupt/non-video media stays visible downstream, never dropped
    * or thrown on. One row per frame is the training-data contract —
    * sampled frames feed the image lanes (ahash, resize) unchanged.
    */
  def decodeFrameStream(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("doc_id", "content").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getAs[Long]("doc_id")
        val content = r.getAs[Array[Byte]]("content")
        // null content = no extractable frame (same contract as the
        // image/audio lanes: visible NULL row, never a throw)
        val offs = if (content == null) Seq.empty else pngOffsets(content)
        if (offs.isEmpty) Seq(Row(id, 0, null, null, null))
        else offs.zipWithIndex.map { case (start, idx) =>
          val end = if (idx + 1 < offs.length) offs(idx + 1) else content.length
          val img = decodeImage(java.util.Arrays.copyOfRange(content, start, end))
          if (img == null) Row(id, idx, null, null, null)
          else Row(id, idx, img.getWidth, img.getHeight, sumLuma(img))
        }
      }
    }
    spark.createDataFrame(rdd, videoFrameSchema)
  }

  private val lumaSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("luma", BinaryType, nullable = true)))

  /** REAL decode to the raw row-major luma plane — one byte per pixel
    * (the [[lumaAt]] rule), NULL for undecodable content. This is the
    * bridge from codec bytes to pixel-level operators: compose with
    * [[resize]] to a fixed grid first and any byte-plane kernel
    * (ahash64, byteEntropy) becomes a PIXEL kernel — e.g. resize(8, 8)
    * → ahash64(luma) is the textbook perceptual average-hash.
    */
  def lumaPlane(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("doc_id", "content").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getAs[Long]("doc_id")
        val img = decodeImage(r.getAs[Array[Byte]]("content"))
        if (img == null) Row(id, null, null, null)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val out = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { out(y * w + x) = lumaAt(img, x, y).toByte; x += 1 }
            y += 1
          }
          Row(id, w, h, out)
        }
      }
    }
    spark.createDataFrame(rdd, lumaSchema)
  }

  private val framePlaneSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("luma", BinaryType, nullable = true)))

  /** REAL frame extraction + decode + nearest-neighbor resample to a
    * fixed (targetW × targetH) luma grid, one binary plane per frame —
    * [[decodeFrameStream]]'s boundary scan composed with [[resize]]'s
    * exact integer resample rule (out(x, y) = luma(x·srcW div targetW,
    * y·srcH div targetH)), without the PNG re-encode round trip per
    * frame. The bridge from video bytes to per-frame perceptual
    * hashing: ahash64 over each plane is the frame-sequence signature
    * [[videoNearDupPairs]] matches on. Items with no extractable frame
    * emit one visible (id, 0, NULL) row; undecodable frames carry NULL
    * planes — never a throw, never a silent drop.
    */
  def framePlanes(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    val spark = media.sparkSession
    val rdd = media.select("doc_id", "content").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getAs[Long]("doc_id")
        val content = r.getAs[Array[Byte]]("content")
        val offs = if (content == null) Seq.empty else pngOffsets(content)
        if (offs.isEmpty) Seq(Row(id, 0, null))
        else offs.zipWithIndex.map { case (start, idx) =>
          val end = if (idx + 1 < offs.length) offs(idx + 1) else content.length
          val img = decodeImage(java.util.Arrays.copyOfRange(content, start, end))
          if (img == null) Row(id, idx, null)
          else {
            val (sw, sh) = (img.getWidth, img.getHeight)
            val out = new Array[Byte](targetW * targetH)
            var y = 0
            while (y < targetH) {
              val sy = (y.toLong * sh / targetH).toInt
              var x = 0
              while (x < targetW) {
                out(y * targetW + x) =
                  lumaAt(img, (x.toLong * sw / targetW).toInt, sy).toByte
                x += 1
              }
              y += 1
            }
            Row(id, idx, out)
          }
        }
      }
    }
    spark.createDataFrame(rdd, framePlaneSchema)
  }

  /** Frame sampling: n evenly spaced byte offsets per media item (the
    * video-frame-sample shape: one row per sampled frame).
    */
  def frameSample(media: DataFrame, frames: Int): DataFrame =
    media.select(
      col("doc_id"),
      col("meta.n_bytes").as("n_bytes"),
      posexplode(expr(
        // integer division (div) so the oracle's `//` matches exactly
        s"transform(sequence(0, ${frames - 1}), i -> (cast(i as bigint) * meta.n_bytes) div $frames)"))
        .as(Seq("frame_idx", "byte_offset")))
}
