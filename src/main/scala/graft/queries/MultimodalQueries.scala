package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal

/** Multimodal queries. Two fixture lanes:
  *  - byte lanes (ahash, entropy, frames): binary content fabricated
  *    from document text — the kernels treat bytes as bytes.
  *  - image lanes (decode, resize): GENUINE PNGs synthesized per doc
  *    (dims and gradient pixels are doc_id-determined, every ~10th doc
  *    deliberately non-image), decoded back through javax.imageio. The
  *    oracle recomputes width/height/sum_luma from the doc_id pixel law
  *    — a match proves the real deflate/PNG round trip, since nothing
  *    short of decoding the IDAT stream recovers the pixel sums.
  */
object MultimodalQueries extends QueryModule {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.fabricate(Tables(s, dir, "documents"))

  private def images(s: SparkSession, dir: String): DataFrame =
    Multimodal.fabricateImages(Tables(s, dir, "documents"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // perceptual-hash signatures (codegen'd ahash64, row-local): the
    // image near-dup primitive; oracle replays the byte sampling via
    // hex(blob) indexing and the exact 64·v > Σv threshold
    "multimodal_ahash" -> ((s, dir) => Multimodal.aHash(media(s, dir))),

    // banded hamming near-dup pairs over the aHash signatures — the
    // SAME band equi-join machinery as simhash_pairs (never all-pairs).
    // The fixture has no natural byte-near-dup items, so re-encoded
    // variants are planted deterministically (the script_profile damage
    // discipline): every 25th item recurs with 3 bytes overwritten
    // length-preservingly — sample positions stay aligned, so the
    // variant lands within the hamming threshold of its original and
    // the check is non-vacuous at every fixture scale. Empty items
    // (all-zeros sentinel hash, no signal) never pair on either engine.
    "multimodal_ahash_pairs" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val variants = d
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 12)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(substring(col("text"), 1, 9), lit("zzz"),
            expr("substring(text, 13, length(text))")).as("text"))
      val items = d.select(col("doc_id"), col("text")).unionByName(variants)
      graft.operators.Dedup.simhashPairs(
        Multimodal.aHash(Multimodal.fabricate(items))
          .filter(col("n_bytes") > 0)
          .select(col("doc_id"), col("ahash").as("simhash")),
        "doc_id", maxDist = 3, maxBucket = 1000)
    }),

    // Metadata fast path: dims parsed from the PNG IHDR header bytes —
    // substring/hex/conv builtins only, no decoder, no UDF, map-only
    // (plan-pinned). The fixture is a FORMAT MIX (fixtureFormat: png/
    // gif/bmp/jpeg/non-image), so the header lane returns dims exactly
    // on the PNG-signature rows and NULL on everything else — the
    // oracle replays both the dimension law and the format law. The
    // OperatorSpec cross-check pins header dims == decoded dims on PNG
    // rows and header NULL + real decode on the rest.
    "multimodal_meta" -> ((s, dir) =>
      images(s, dir).select(col("doc_id"),
          Multimodal.pngHeaderDims(col("content")).as("d"))
        .select(col("doc_id"),
          col("d.width").as("width"), col("d.height").as("height"))),

    // REAL image decode over the format mix (PNG 1-band, GIF indexed
    // palette, BMP 3-band RGB, JPEG, raw text bytes — each pinning a
    // different decoder branch). Dims replay on every decodable row;
    // sum_luma replays on the LOSSLESS rows and is masked to NULL on
    // jpeg (lossy pixels have no analytic law) — the real decode still
    // runs there, dims prove it. n_bytes is codec-dependent, so the
    // declared columns are the analytically-replayable ones.
    "multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(images(s, dir))
        .select(col("doc_id"), col("width"), col("height"),
          when(col("doc_id") % 10 === 3, lit(null))
            .otherwise(col("sum_luma")).as("sum_luma"))),
    // REAL resize (nearest-neighbor luma resample + PNG re-encode),
    // verified through a second real decode of the resized bytes; the
    // jpeg rows resize for real but their pixel sums are lossy-derived,
    // so they carry dims-only like the decode lane
    "multimodal_resize" -> ((s, dir) =>
      Multimodal.decodeFeatures(Multimodal.resize(images(s, dir), 16, 12))
        .select(col("doc_id"), col("width"), col("height"),
          when(col("doc_id") % 10 === 3, lit(null))
            .otherwise(col("sum_luma")).as("sum_luma"))),
    // the TEXTBOOK perceptual average-hash, now over real pixels:
    // resize to the 8x8 luma grid (real decode + resample + re-decode),
    // then ahash64 over the 64-byte plane — non-image content drops
    // (no pixels, no hash), jpeg drops (a hash of lossy pixels has no
    // analytic replay). The oracle replays the whole chain from the
    // doc_id pixel law.
    "multimodal_phash" -> ((s, dir) => {
      val small = Multimodal.resize(
        images(s, dir).filter(col("doc_id") % 10 =!= 3), 8, 8)
      Multimodal.lumaPlane(small)
        .filter(col("luma").isNotNull)
        .select(col("doc_id"),
          graft.functions.MediaExpressions.ahash64(col("luma")).as("phash"))
    }),
    // REAL audio decode over real WAV bytes (javax.sound.sampled):
    // exact integer amplitude stats recovered from the PCM16 stream —
    // the oracle replays them from the doc_id waveform law, so a match
    // proves the RIFF container was truly parsed. Non-audio docs
    // decode to NULLs.
    "multimodal_audio" -> ((s, dir) =>
      Multimodal.decodeAudioFeatures(
        Multimodal.fabricateAudio(Tables(s, dir, "documents")))),
    // chromaprint-style perceptual audio fingerprints over the REAL
    // decoded PCM16 stream: 8 integer band energies per 64-sample
    // window, 7 spatial + 7 temporal differential sign bits per window
    // — every bit exact integer arithmetic, so the oracle replays the
    // whole decode → energy → sign chain from the waveform law.
    // Non-audio docs emit one visible (id, NULL, NULL) row.
    "audio_fingerprint" -> ((s, dir) =>
      Multimodal.audioSubfingerprints(
        Multimodal.fabricateAudio(Tables(s, dir, "documents")))),
    // audio near-dup pairs over the subfingerprints: planted CLIPPED
    // re-encodes (every 25th audio doc truncated to 256 frames, the
    // multimodal_ahash_pairs damage discipline) must match their
    // originals on all three common fingerprint windows — one bounded
    // (win_idx, subfp) equi-join, never all-pairs. Threshold 3 is
    // fixture-calibrated: the planted clips match exactly 3 windows,
    // and 14-bit subfingerprints leave only ~2 coincidental 3-window
    // pairs on the 500-doc fixture (at 2 the coincidence tail is ~30).
    // The oracle replays fingerprints for originals AND variants from
    // the one waveform law and re-derives the same pair set.
    "audio_neardup_pairs" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val wavs = Multimodal.fabricateAudio(d).unionByName(
        Multimodal.fabricateAudio(d.filter(col("doc_id") % 25 === 0),
          idOffset = 1000000L, maxFrames = 256))
      Multimodal.audioNearDupPairs(wavs, minShared = 3, maxBucket = 1000)
    }),
    // video near-dup pairs — the frame-ahash-sequence discipline: every
    // frame of every stream really decodes, resamples to the 8x8 luma
    // grid and hashes through the perceptual ahash64; items sharing
    // >= 2 distinct frame hashes pair. Planted HEAD-CLIPPED re-encodes
    // (every 20th-ish video minus its first frame — ids %20 == 5, whose
    // 3-frame streams leave 2 shared frames) must pair with their
    // originals; the oracle replays the whole extract → resample →
    // ahash → match chain from the per-frame pixel law.
    "video_neardup_pairs" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val streams = Multimodal.fabricateFrameStream(d).unionByName(
        Multimodal.fabricateFrameStream(d.filter(col("doc_id") % 20 === 5),
          idOffset = 1000000L, frameShift = 1))
      Multimodal.videoNearDupPairs(streams, minShared = 2, maxBucket = 1000)
    }),
    // clip detection at ARBITRARY offsets (the Haitsma-Kalker/ContentID
    // matching step): fingerprints match on the key alone and vote for
    // the alignment offset idx_a - idx_b; a pair reports at its
    // best-supported offset. The planted MID-STREAM extracts (every
    // 25th audio doc starting 64 samples in; every 20th-ish video minus
    // its head frame) must align to their originals at offset +1 —
    // which the aligned-index neardup join can only see for prefix
    // clips. minSupport = 2 is the fixture floor (the shortest planted
    // audio clips carry exactly 2 fingerprint windows); at that bar the
    // 14-bit fingerprints admit a coincidence tail (~110 support-2
    // pairs on the 500-doc fixture, vs 20 planted — support >= 3 is
    // almost purely true matches), which is why `support` rides every
    // row: the caller thresholds by corpus, the detector reports its
    // evidence. Oracles replay fingerprinting for originals AND
    // variants from the one fixture law plus the full vote/election
    // tail.
    "audio_clip_align" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val wavs = Multimodal.fabricateAudio(d).unionByName(
        Multimodal.fabricateAudio(d.filter(col("doc_id") % 25 === 0),
          idOffset = 1000000L, startFrame = 64))
      Multimodal.audioClipAlign(wavs, minSupport = 2, maxBucket = 1000)
    }),
    "video_clip_align" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val streams = Multimodal.fabricateFrameStream(d).unionByName(
        Multimodal.fabricateFrameStream(d.filter(col("doc_id") % 20 === 5),
          idOffset = 1000000L, frameShift = 1))
      Multimodal.videoClipAlign(streams, minSupport = 2, maxBucket = 1000)
    }),
    // the fingerprint index as a DURABLE artifact, exercised for real
    // (the incremental_dedup discipline applied to clip detection):
    // day 1 (even ids) fingerprinted + saved, day 2 (odd ids) APPENDED
    // with the saved parameters — the catalog is never rescanned —
    // then the loaded index serves mid-stream extract queries drawn
    // from BOTH days (%25 ids alternate parity), so a lost append or a
    // parameter drift hash-mismatches. Oracle = the one waveform-law
    // fingerprint replay + the vote/election tail; save/append/load
    // are transparent to it by construction (the spec pins
    // appended ≡ fresh-union and crashed-retry idempotence).
    "clip_index_incremental" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = QueryModule.tempDir(dir, "clip-idx")
      Multimodal.saveClipIndex(
        Multimodal.buildClipIndex(
          Multimodal.fabricateAudio(d.filter(col("doc_id") % 2 === 0))), path)
      Multimodal.appendClipIndex(s, path,
        Multimodal.fabricateAudio(d.filter(col("doc_id") % 2 =!= 0)))
      Multimodal.probeClipIndex(
        Multimodal.loadClipIndex(s, path),
        Multimodal.fabricateAudio(d.filter(col("doc_id") % 25 === 0),
          idOffset = 1000000L, startFrame = 64),
        minSupport = 2, maxBucket = 1000)
    }),
    // the exact-dup collapse under the driver's hash gate: the corpus
    // carries THREE byte-identical re-uploads of every 50th recording
    // (same waveform law, shifted ids) plus the mid-stream extracts.
    // collapseExact folds each identical fingerprint set to its
    // lowest-id representative BEFORE the hot-key census, so the
    // re-uploads neither inflate buckets toward the cap nor pair
    // quadratically; extracts align to the REPRESENTATIVE (the
    // original, which has the lowest id in its group). The oracle
    // replays the collapse literally — group docs by their full
    // ordered (win, subfp) set — where Spark groups by the
    // order-insensitive exact digest; they agree unless xxhash64
    // collides five ways at once.
    "clip_align_collapsed" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val dups = (1 to 3).map(k =>
          Multimodal.fabricateAudio(d.filter(col("doc_id") % 50 === 0),
            idOffset = k * 2000000L))
        .reduce(_ unionByName _)
      val wavs = Multimodal.fabricateAudio(d)
        .unionByName(dups)
        .unionByName(Multimodal.fabricateAudio(
          d.filter(col("doc_id") % 25 === 0),
          idOffset = 1000000L, startFrame = 64))
      Multimodal.audioClipAlign(wavs, minSupport = 2, maxBucket = 1000,
        collapseExact = true)
    }),
    // the media-dedup COMPOSITION end-to-end (the pipeline_e2e
    // discipline applied to media): same dup-heavy fixture as
    // clip_align_collapsed — fingerprint once, collapse the exact
    // re-uploads, offset-voting clip pairs among representatives,
    // exact-group edges glued back, connected components, min-id
    // keeper per cluster; undecodable items keep themselves. Oracle
    // stacks the verified CTEs: fingerprint replay → set collapse →
    // vote law (max support over offsets >= 2) → recursive closure →
    // keeper election.
    "media_dedup_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val dups = (1 to 3).map(k =>
          Multimodal.fabricateAudio(d.filter(col("doc_id") % 50 === 0),
            idOffset = k * 2000000L))
        .reduce(_ unionByName _)
      val wavs = Multimodal.fabricateAudio(d)
        .unionByName(dups)
        .unionByName(Multimodal.fabricateAudio(
          d.filter(col("doc_id") % 25 === 0),
          idOffset = 1000000L, startFrame = 64))
      Multimodal.audioDedup(wavs, minSupport = 2, maxBucket = 1000)
    }),
    // the video twin of media_dedup_e2e: re-upload floods of frame
    // streams collapse, head-clipped re-encodes cluster with their
    // originals through the frame-hash vote, components elect min-id
    // keepers, non-video docs keep themselves
    "video_dedup_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val dups = (1 to 3).map(k =>
          Multimodal.fabricateFrameStream(d.filter(col("doc_id") % 50 === 0),
            idOffset = k * 2000000L))
        .reduce(_ unionByName _)
      val streams = Multimodal.fabricateFrameStream(d)
        .unionByName(dups)
        .unionByName(Multimodal.fabricateFrameStream(
          d.filter(col("doc_id") % 20 === 5),
          idOffset = 1000000L, frameShift = 1))
      Multimodal.videoDedup(streams, minSupport = 2, maxBucket = 1000)
    }),
    // the STILL-IMAGE end-to-end dedup — audioDedup's composition for
    // the modality a multimodal corpus hits first: the corpus carries
    // THREE byte-identical re-uploads of every 50th image (plus the
    // deliberate cross-doc 768-law twins at every scale) and a
    // LOSSLESS RE-ENCODE of every 25th image (same quadratic pixel
    // law, BMP container — byte-distinct, pixel-identical). One decode
    // pass digests bytes and average-hashes the 8×8 luma plane; exact
    // groups collapse to min-id representatives BEFORE pair mining;
    // banded-hamming pairs among representatives (re-encodes land at
    // hamming 0); exact-group edges glue back; connected components;
    // min-id keeper. Non-image docs (%10=7 text bytes) never decode
    // and keep themselves. Oracle replays the whole chain from the
    // imagePixel law: the exact-group key is (src mod 768, container)
    // — the law's full byte-identity class — and the pair step is the
    // literal 4×16-band + hot-cap + hamming<=3 replay.
    "image_dedup_e2e" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val dups = (1 to 3).map(k =>
          Multimodal.fabricateStillImages(d.filter(col("doc_id") % 50 === 0),
            idOffset = k * 2000000L))
        .reduce(_ unionByName _)
      val imgs = Multimodal.fabricateStillImages(d)
        .unionByName(dups)
        .unionByName(Multimodal.fabricateStillImages(
          d.filter(col("doc_id") % 25 === 0),
          idOffset = 1000000L, fmt = "bmp"))
      Multimodal.imageDedup(imgs, maxDist = 3, maxBucket = 1000)
    }),
    // the VIDEO-side durable index: the same
    // save/append/load/probe discipline over the frame-ahash table —
    // day 1 (even ids) hashed + saved, day 2 (odd ids) APPENDED with
    // the saved grid, then the loaded index serves head-clipped
    // re-encodes (every 20th-ish doc minus its head frame), each
    // aligning to its original at frame offset +1. Oracle = the
    // per-frame pixel-law phash replay + the asymmetric vote/election
    // tail; save/append/load are transparent to it by construction.
    "video_clip_index_incremental" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = QueryModule.tempDir(dir, "vclip-idx")
      Multimodal.saveVideoClipIndex(
        Multimodal.buildVideoClipIndex(
          Multimodal.fabricateFrameStream(d.filter(col("doc_id") % 2 === 0))), path)
      Multimodal.appendVideoClipIndex(s, path,
        Multimodal.fabricateFrameStream(d.filter(col("doc_id") % 2 =!= 0)))
      Multimodal.probeVideoClipIndex(
        Multimodal.loadVideoClipIndex(s, path),
        Multimodal.fabricateFrameStream(d.filter(col("doc_id") % 20 === 5),
          idOffset = 1000000L, frameShift = 1),
        minSupport = 2, maxBucket = 1000)
    }),
    // the IMAGE-side durable index: the clip_index_incremental
    // discipline over the two-signature still index — day 1 (even ids)
    // signed + saved, day 2 (odd ids) APPENDED with the saved grid,
    // then the loaded index serves lossless BMP re-encodes of every
    // %20=5 catalog image, each matching its source (and the source's
    // 768-law twins, where the fixture is big enough to have them) on
    // BOTH signature kinds — support 2, every match reported (the
    // probe is vote-only; the gate lane layers the election). Oracle =
    // the signature-chain replay + the asymmetric (kind, sig) vote;
    // save/append/load are transparent to it by construction (the
    // spec pins appended ≡ fresh-union and crashed-retry idempotence).
    "image_index_incremental" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = QueryModule.tempDir(dir, "imgsig-idx")
      Multimodal.saveImageSigIndex(
        Multimodal.buildImageSigIndex(
          Multimodal.fabricateStillImages(d.filter(col("doc_id") % 2 === 0))), path)
      Multimodal.appendImageSigIndex(s, path,
        Multimodal.fabricateStillImages(d.filter(col("doc_id") % 2 =!= 0)))
      Multimodal.probeImageSigIndex(
        Multimodal.loadImageSigIndex(s, path),
        Multimodal.fabricateStillImages(d.filter(col("doc_id") % 20 === 5),
          idOffset = 1000000L, fmt = "bmp"),
        minSupport = 2, maxBucket = 1000)
    }),
    // REAL video-shaped lane: per-doc frame STREAMS (concatenated
    // genuine PNGs, the MJPEG shape) — extraction finds the signature
    // boundaries in raw bytes and every frame truly decodes; one row
    // per frame with exact luma sums the oracle replays from the
    // per-frame pixel law. Non-media docs emit one all-NULL row.
    "multimodal_video" -> ((s, dir) =>
      Multimodal.decodeFrameStream(
        Multimodal.fabricateFrameStream(Tables(s, dir, "documents")))),
    "multimodal_frames" -> ((s, dir) => Multimodal.frameSample(media(s, dir), 4)),
    // byte-entropy screen over binary content — a REAL feature (no
    // codec), FULL-ORACLE via the relational twin
    // (byteEntropyRelational — the uniq_hll_portable discipline): the
    // histogram core (n_distinct, max_count) is exact integers, and
    // entropy_bits is the fixed-order log2 expression both engines
    // evaluate double-for-double. The mapPartitions kernel
    // (byteEntropy) remains the zero-shuffle production form,
    // spec-pinned to this lane within 1e-9. The three SENTINEL items
    // with analytically known entropies still ride every run
    // (doc_id < 0: constant bytes -> 0 bits, two-symbol -> 1,
    // uniform -> 8), asserted exactly in OperatorSpec.
    "multimodal_entropy" -> ((s, dir) => {
      import s.implicits._
      val sent = Seq(
        (-1L, Array.fill[Byte](128)(7)),
        (-2L, Array.tabulate[Byte](64)(i => (i % 2).toByte)),
        (-3L, Array.tabulate[Byte](256)(i => i.toByte)))
        .toDF("doc_id", "content")
      Multimodal.byteEntropyRelational(
        media(s, dir).select("doc_id", "content").unionByName(sent))
    })
  )

  // Replay of Multimodal.audioSubfingerprints(window=64, bands=8) over
  // a `base` CTE of (doc_id, src, n, m, off): n STREAM samples from
  // the waveform law keyed on src at source position i + off (so
  // planted variants reuse their original's waveform, clipped and/or
  // mid-stream), 8 band energies per FULL 64-sample window, spatial
  // sign bits (E[b] > E[b+1]) in bits 0..6 and temporal sign bits
  // (dv_t > dv_{t-1}) in bits 7..13. Ends at fp(doc_id, win_idx,
  // subfp); prepend WITH and a base.
  private[queries] val subfpChain: String =
    """smp AS (
      |  SELECT doc_id, i.i AS i,
      |         abs(((i.i+off)*(i.i+off)*m + (i.i+off)*src + src) % 2003 - 1001) AS a
      |  FROM base, (SELECT unnest(range(0, 768)) AS i) i
      |  WHERE i.i < (n // 64) * 64
      |), eng AS (
      |  SELECT doc_id, i // 64 AS t, (i % 64) // 8 AS b, SUM(a) AS en
      |  FROM smp GROUP BY doc_id, i // 64, (i % 64) // 8
      |), dd AS (
      |  SELECT x.doc_id, x.t, x.b, x.en - y.en AS dv
      |  FROM eng x JOIN eng y ON y.doc_id = x.doc_id AND y.t = x.t AND y.b = x.b + 1
      |  WHERE x.b < 7
      |), fp AS (
      |  SELECT c.doc_id, CAST(c.t AS INTEGER) AS win_idx,
      |         CAST(SUM(CASE WHEN c.dv > 0 THEN 1 << c.b ELSE 0 END) +
      |              SUM(CASE WHEN c.dv > p.dv THEN 1 << (7 + c.b) ELSE 0 END) AS BIGINT) AS subfp
      |  FROM dd c JOIN dd p ON p.doc_id = c.doc_id AND p.t = c.t - 1 AND p.b = c.b
      |  GROUP BY c.doc_id, c.t
      |)""".stripMargin

  // Replay of Multimodal.videoFrameHashes (framePlanes 8x8 + ahash64)
  // over a `vids` CTE of (doc_id, src, sh): frame f of source src has
  // pixel law (x² + y²·(f+1) + (x+y)·src + src + f) mod 256, dims from
  // the shared fixture law; a head-clipped variant (sh = 1) starts at
  // law frame 1 so its STREAM index is idx = f − sh. Ends at
  // fhd(doc_id, idx, fhash) — one row per decodable frame; prepend
  // WITH and a vids. (The video_neardup_pairs / video_clip_align
  // oracles predate this chain and inline the same replay.)
  private[queries] val frameHashChain: String =
    """frs AS (
      |  SELECT doc_id, src, f.f AS f, CAST(f.f - sh AS BIGINT) AS idx,
      |         CAST(8 + src % 24 AS INTEGER) AS w,
      |         CAST(8 + (src * 7) % 16 AS INTEGER) AS h
      |  FROM vids, (SELECT unnest(range(0, 6)) AS f) f
      |  WHERE f.f >= sh AND f.f < 2 + src % 4
      |), px AS (
      |  SELECT doc_id, f, idx, i,
      |         (xs*xs + ys*ys*(f + 1) + (xs + ys)*src + src + f) % 256 AS v
      |  FROM (
      |    SELECT doc_id, src, f, idx,
      |           (((i.i % 8) * w) // 8) AS xs, (((i.i // 8) * h) // 8) AS ys,
      |           i.i AS i
      |    FROM frs, (SELECT unnest(range(0, 64)) AS i) i) g
      |), tt AS (
      |  SELECT doc_id, f, SUM(v) AS tot FROM px GROUP BY doc_id, f
      |), fh AS (
      |  SELECT px.doc_id, px.f, px.idx,
      |         string_agg(CASE WHEN v * 64 > tt.tot THEN '1' ELSE '0' END, '' ORDER BY i) AS fhash
      |  FROM px JOIN tt USING (doc_id, f) GROUP BY px.doc_id, px.f, px.idx
      |), fhd AS (
      |  SELECT DISTINCT doc_id, idx, fhash FROM fh
      |)""".stripMargin

  // Replay of Multimodal.imageFeatures' two perceptual signatures over
  // an `imgs` CTE of (doc_id, src[, ...]): dims from the shared fixture
  // law, pixel (x, y) = (x² + y² + (x+y)·src + src) mod 256 (the
  // imagePixel law — videoPixel at f = 0), nearest-neighbor resample to
  // the 8×8 grid for the average-hash (the exact n·v > Σv rule) and to
  // the 9×8 grid for the difference-hash (bit (x, y) = v(x+1, y) >
  // v(x, y), row-major). Ends at iah(doc_id, sig), idh(doc_id, sig)
  // and their long-format union isig(doc_id, kind, sig); prepend WITH
  // and an imgs.
  private[queries] val stillSigChain: String =
    """idm AS (
      |  SELECT doc_id, src, CAST(8 + src % 24 AS INTEGER) AS w,
      |         CAST(8 + (src * 7) % 16 AS INTEGER) AS h
      |  FROM imgs
      |), iap AS (
      |  SELECT doc_id, i, (xs*xs + ys*ys + (xs + ys)*src + src) % 256 AS v
      |  FROM (
      |    SELECT doc_id, src, i.i AS i,
      |           (((i.i % 8) * w) // 8) AS xs, (((i.i // 8) * h) // 8) AS ys
      |    FROM idm, (SELECT unnest(range(0, 64)) AS i) i) g
      |), iat AS (
      |  SELECT doc_id, SUM(v) AS tot FROM iap GROUP BY doc_id
      |), iah AS (
      |  SELECT iap.doc_id,
      |         string_agg(CASE WHEN v * 64 > iat.tot THEN '1' ELSE '0' END, '' ORDER BY i) AS sig
      |  FROM iap JOIN iat USING (doc_id) GROUP BY iap.doc_id
      |), idp AS (
      |  SELECT doc_id, a, b, (xs*xs + ys*ys + (xs + ys)*src + src) % 256 AS v
      |  FROM (
      |    SELECT doc_id, src, g.a AS a, g.b AS b,
      |           ((g.a * w) // 9) AS xs, ((g.b * h) // 8) AS ys
      |    FROM idm, (SELECT a.a, b.b FROM (SELECT unnest(range(0, 9)) AS a) a,
      |               (SELECT unnest(range(0, 8)) AS b) b) g) q
      |), idh AS (
      |  SELECT l.doc_id,
      |         string_agg(CASE WHEN r.v > l.v THEN '1' ELSE '0' END, '' ORDER BY l.b * 8 + l.a) AS sig
      |  FROM idp l JOIN idp r ON r.doc_id = l.doc_id AND r.b = l.b AND r.a = l.a + 1
      |  WHERE l.a < 8
      |  GROUP BY l.doc_id
      |), isig AS (
      |  SELECT doc_id, 'a' AS kind, sig FROM iah
      |  UNION ALL
      |  SELECT doc_id, 'd' AS kind, sig FROM idh
      |)""".stripMargin

  // The aHash replay: byte k of the blob is hex-pair k of hex(blob);
  // sample positions, the integer mean threshold (64·v > Σv), and the
  // '0'/'1' string all mirror functions.AHash64 exactly. No leading
  // WITH so consumers extend the chain; `src` is the (doc_id, text)
  // item source the chain hashes.
  private def ahashChain(src: String): String =
    s"""m AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |  FROM $src
      |), sb AS (
      |  SELECT doc_id, i,
      |         ('0x' || substring(hx, 2*(1 + (i*n)//64) - 1, 2))::BIGINT AS v
      |  FROM m, (SELECT unnest(range(0, 64)) AS i)
      |  WHERE n > 0
      |), tt AS (
      |  SELECT doc_id, SUM(v) AS tot FROM sb GROUP BY doc_id
      |), sigs AS (
      |  SELECT sb.doc_id,
      |         string_agg(CASE WHEN v*64 > tt.tot THEN '1' ELSE '0' END, '' ORDER BY i) AS ahash
      |  FROM sb JOIN tt USING (doc_id) GROUP BY sb.doc_id
      |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "multimodal_ahash" ->
      s"""WITH ${ahashChain("documents")}
        |SELECT m.doc_id, CAST(m.n AS BIGINT) AS n_bytes,
        |       COALESCE(s.ahash, repeat('0', 64)) AS ahash
        |FROM m LEFT JOIN sigs s USING (doc_id)""".stripMargin,
    "multimodal_ahash_pairs" ->
      s"""WITH items AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         substring(text, 1, 9) || 'zzz' || substring(text, 13, length(text))
        |  FROM documents WHERE doc_id % 25 = 0 AND length(text) >= 12
        |), ${ahashChain("items")}, banded AS (
        |  SELECT doc_id, ahash AS simhash, b AS band,
        |         substring(ahash, 1 + 16*b, 16) AS bits
        |  FROM sigs, (SELECT unnest(range(0, 4)) AS b)
        |), bkept AS (
        |  SELECT x.* FROM banded x
        |  JOIN (SELECT band, bits FROM banded GROUP BY band, bits HAVING COUNT(*) <= 1000) ok
        |    USING (band, bits)
        |), cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                  x.simhash AS sig_a, y.simhash AS sig_b
        |  FROM bkept x JOIN bkept y
        |    ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
        |)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(sig_a::BIT, sig_b::BIT)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sig_a::BIT, sig_b::BIT)) <= 3""".stripMargin,
    // the pixel law of fabricateImages: w = 8 + id%24, h = 8 + (7id)%16,
    // luma(x,y) = (x+y+id)%256; the FORMAT law (fixtureFormat): id%10=7
    // non-image, 3 jpeg, 5 gif, 9 bmp, else png. The header fast path
    // reads the PNG IHDR only, so the oracle yields dims exactly on the
    // png rows. range() cannot take lateral column args in DuckDB, so
    // the pixel grid is the fixed 32x24 superset filtered per doc.
    "multimodal_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 IN (3, 5, 7, 9) THEN NULL
        |       ELSE CAST(8 + doc_id % 24 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 10 IN (3, 5, 7, 9) THEN NULL
        |       ELSE CAST(8 + (doc_id * 7) % 16 AS BIGINT) END AS height
        |FROM documents""".stripMargin,
    // dims replay on every image row (jpeg included — the real decode
    // proves them); sum_luma replays on the lossless rows only
    "multimodal_decode" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |         CAST(8 + doc_id % 24 AS INTEGER) AS w,
        |         CAST(8 + (doc_id * 7) % 16 AS INTEGER) AS h
        |  FROM documents
        |), xs AS (SELECT unnest(range(0, 32)) AS x),
        |   ys AS (SELECT unnest(range(0, 24)) AS y),
        |px AS (
        |  SELECT doc_id, SUM((xs.x + ys.y + doc_id) % 256) AS s
        |  FROM dims, xs, ys
        |  WHERE xs.x < dims.w AND ys.y < dims.h
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 10 = 7 THEN NULL ELSE d.w END AS width,
        |  CASE WHEN d.doc_id % 10 = 7 THEN NULL ELSE d.h END AS height,
        |  CASE WHEN d.doc_id % 10 IN (3, 7) THEN NULL ELSE CAST(p.s AS BIGINT) END AS sum_luma
        |FROM dims d JOIN px p USING (doc_id)""".stripMargin,
    // nearest-neighbor law: out(x,y) = luma((x*w) div 16, (y*h) div 12)
    // of the source gradient, re-decoded from the resized PNG; jpeg
    // rows carry dims-only (their source pixels are lossy-derived)
    "multimodal_resize" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |         CAST(8 + doc_id % 24 AS INTEGER) AS w,
        |         CAST(8 + (doc_id * 7) % 16 AS INTEGER) AS h
        |  FROM documents
        |), xs AS (SELECT unnest(range(0, 16)) AS x),
        |   ys AS (SELECT unnest(range(0, 12)) AS y),
        |px AS (
        |  SELECT doc_id,
        |         SUM(((xs.x * w) // 16 + (ys.y * h) // 12 + doc_id) % 256) AS s
        |  FROM dims, xs, ys
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 10 = 7 THEN NULL ELSE CAST(16 AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 10 = 7 THEN NULL ELSE CAST(12 AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 10 IN (3, 7) THEN NULL ELSE CAST(p.s AS BIGINT) END AS sum_luma
        |FROM dims d JOIN px p USING (doc_id)""".stripMargin,
    // 8x8 nearest-neighbor luma law: pixel i (row-major, x = i%8,
    // y = i//8) = ((x*w) div 8 + (y*h) div 8 + id) mod 256; bit = 1 iff
    // 64*v > sum over the grid (the exact ahash64 integer-mean rule)
    "multimodal_phash" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |         CAST(8 + doc_id % 24 AS INTEGER) AS w,
        |         CAST(8 + (doc_id * 7) % 16 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 10 NOT IN (3, 7)
        |), px AS (
        |  SELECT doc_id, i.i AS i,
        |         ((((i.i % 8) * w) // 8) + (((i.i // 8) * h) // 8) + doc_id) % 256 AS v
        |  FROM dims, (SELECT unnest(range(0, 64)) AS i) i
        |), tt AS (
        |  SELECT doc_id, SUM(v) AS tot FROM px GROUP BY doc_id
        |)
        |SELECT px.doc_id,
        |       string_agg(CASE WHEN v * 64 > tt.tot THEN '1' ELSE '0' END, '' ORDER BY i) AS phash
        |FROM px JOIN tt USING (doc_id)
        |GROUP BY px.doc_id""".stripMargin,
    // the waveform law: n = 256 + id%512 frames, sample i =
    // ((i²·m + i·id + id) mod 2003) - 1001 with m = 3 + id%5, mono
    // 8 kHz PCM16 (quadratic in i so band energies are pseudo-random —
    // see Multimodal.audioSample)
    "multimodal_audio" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(256 + doc_id % 512 AS BIGINT) AS n,
        |         3 + doc_id % 5 AS m
        |  FROM documents
        |), smp AS (
        |  SELECT doc_id, abs((i.i*i.i*m + i.i*doc_id + doc_id) % 2003 - 1001) AS a
        |  FROM d, (SELECT unnest(range(0, 768)) AS i) i
        |  WHERE i.i < d.n
        |), agg AS (
        |  SELECT doc_id, SUM(a) AS s, MAX(a) AS mx FROM smp GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 10 = 7 THEN NULL ELSE CAST(8000 AS INTEGER) END AS sample_rate,
        |  CASE WHEN d.doc_id % 10 = 7 THEN NULL ELSE CAST(1 AS INTEGER) END AS channels,
        |  CASE WHEN d.doc_id % 10 = 7 THEN NULL ELSE d.n END AS n_frames,
        |  CASE WHEN d.doc_id % 10 = 7 THEN NULL ELSE CAST(agg.s AS BIGINT) END AS sum_abs,
        |  CASE WHEN d.doc_id % 10 = 7 THEN NULL ELSE CAST(agg.mx AS BIGINT) END AS max_abs
        |FROM d JOIN agg USING (doc_id)""".stripMargin,
    // the full decode → band-energy → sign-bit replay from the
    // waveform law; non-audio docs carry the visible NULL row
    "audio_fingerprint" ->
      s"""WITH base AS (
        |  SELECT doc_id, doc_id AS src, CAST(256 + doc_id % 512 AS BIGINT) AS n,
        |         3 + doc_id % 5 AS m, 0 AS off
        |  FROM documents WHERE doc_id % 10 != 7
        |), $subfpChain
        |SELECT doc_id, win_idx, subfp FROM fp
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS INTEGER), CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 10 = 7""".stripMargin,
    // the same chain over originals + truncated variants (src keeps
    // the original id, n pinned to 192), then the hot-key-capped
    // (win_idx, subfp) match join and the >= 2 pair law
    "audio_neardup_pairs" ->
      s"""WITH base AS (
        |  SELECT doc_id, doc_id AS src, CAST(256 + doc_id % 512 AS BIGINT) AS n,
        |         3 + doc_id % 5 AS m, 0 AS off
        |  FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, CAST(256 AS BIGINT), 3 + doc_id % 5, 0
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id % 10 != 7
        |), $subfpChain, ok AS (
        |  SELECT win_idx, subfp FROM fp GROUP BY win_idx, subfp HAVING COUNT(*) <= 1000
        |), k AS (
        |  SELECT fp.* FROM fp JOIN ok USING (win_idx, subfp)
        |)
        |SELECT x.doc_id AS aud_a, y.doc_id AS aud_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_matched
        |FROM k x JOIN k y
        |  ON x.win_idx = y.win_idx AND x.subfp = y.subfp AND x.doc_id < y.doc_id
        |GROUP BY x.doc_id, y.doc_id
        |HAVING COUNT(*) >= 3""".stripMargin,
    // the offset-voting replay: key-only subfp matches vote for
    // idx_a - idx_b, row_number election (support desc, offset asc),
    // support >= 2; variants are 64-samples-in mid-stream extracts
    "audio_clip_align" ->
      s"""WITH base AS (
        |  SELECT doc_id, doc_id AS src, CAST(256 + doc_id % 512 AS BIGINT) AS n,
        |         3 + doc_id % 5 AS m, 0 AS off
        |  FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, CAST(256 + doc_id % 512 - 64 AS BIGINT),
        |         3 + doc_id % 5, 64
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id % 10 != 7
        |), $subfpChain, ok AS (
        |  SELECT subfp FROM fp GROUP BY subfp HAVING COUNT(*) <= 1000
        |), k AS (
        |  SELECT fp.* FROM fp JOIN ok USING (subfp)
        |), votes AS (
        |  SELECT x.doc_id AS aud_a, y.doc_id AS aud_b,
        |         CAST(x.win_idx - y.win_idx AS BIGINT) AS "offset",
        |         COUNT(*) AS support
        |  FROM k x JOIN k y ON x.subfp = y.subfp AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY aud_a, aud_b
        |    ORDER BY support DESC, "offset" ASC) AS rn
        |  FROM votes
        |)
        |SELECT aud_a, aud_b, "offset", CAST(support AS BIGINT) AS support
        |FROM best WHERE rn = 1 AND support >= 2""".stripMargin,
    // the persisted-index probe replay: index = ALL image docs (the
    // two parity days reunited — save/append/load are transparent),
    // queries = the mid-stream extracts, asymmetric vote + election
    "clip_index_incremental" ->
      s"""WITH base AS (
        |  SELECT doc_id, doc_id AS src, CAST(256 + doc_id % 512 AS BIGINT) AS n,
        |         3 + doc_id % 5 AS m, 0 AS off
        |  FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, CAST(256 + doc_id % 512 - 64 AS BIGINT),
        |         3 + doc_id % 5, 64
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id % 10 != 7
        |), $subfpChain, ok AS (
        |  SELECT subfp FROM fp WHERE doc_id < 1000000
        |  GROUP BY subfp HAVING COUNT(*) <= 1000
        |), idx AS (
        |  SELECT fp.* FROM fp JOIN ok USING (subfp) WHERE fp.doc_id < 1000000
        |), qs AS (
        |  SELECT * FROM fp WHERE doc_id >= 1000000
        |), votes AS (
        |  SELECT qs.doc_id AS aud_q, idx.doc_id AS aud_m,
        |         CAST(idx.win_idx - qs.win_idx AS BIGINT) AS "offset",
        |         COUNT(*) AS support
        |  FROM qs JOIN idx USING (subfp)
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY aud_q, aud_m
        |    ORDER BY support DESC, "offset" ASC) AS rn
        |  FROM votes
        |)
        |SELECT aud_q, aud_m, "offset", CAST(support AS BIGINT) AS support
        |FROM best WHERE rn = 1 AND support >= 2""".stripMargin,
    // the collapse replay, literal form: docs grouped by their FULL
    // ordered (win, subfp) set, each group's min-id row kept, then the
    // standard hot-cap + vote + election over the representatives only
    "clip_align_collapsed" ->
      s"""WITH base AS (
        |  SELECT doc_id, doc_id AS src, CAST(256 + doc_id % 512 AS BIGINT) AS n,
        |         3 + doc_id % 5 AS m, 0 AS off
        |  FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + k.k * 2000000, doc_id, CAST(256 + doc_id % 512 AS BIGINT),
        |         3 + doc_id % 5, 0
        |  FROM documents, (SELECT unnest(range(1, 4)) AS k) k
        |  WHERE doc_id % 50 = 0 AND doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, CAST(256 + doc_id % 512 - 64 AS BIGINT),
        |         3 + doc_id % 5, 64
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id % 10 != 7
        |), $subfpChain, sig AS (
        |  SELECT doc_id,
        |         string_agg(win_idx || ':' || subfp, ',' ORDER BY win_idx) AS fset
        |  FROM fp GROUP BY doc_id
        |), reps AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fset) AS rep FROM sig
        |), kept AS (
        |  SELECT fp.* FROM fp JOIN reps ON fp.doc_id = reps.doc_id
        |  WHERE reps.doc_id = reps.rep
        |), ok AS (
        |  SELECT subfp FROM kept GROUP BY subfp HAVING COUNT(*) <= 1000
        |), k AS (
        |  SELECT kept.* FROM kept JOIN ok USING (subfp)
        |), votes AS (
        |  SELECT x.doc_id AS aud_a, y.doc_id AS aud_b,
        |         CAST(x.win_idx - y.win_idx AS BIGINT) AS "offset",
        |         COUNT(*) AS support
        |  FROM k x JOIN k y ON x.subfp = y.subfp AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY aud_a, aud_b
        |    ORDER BY support DESC, "offset" ASC) AS rn
        |  FROM votes
        |)
        |SELECT aud_a, aud_b, "offset", CAST(support AS BIGINT) AS support
        |FROM best WHERE rn = 1 AND support >= 2""".stripMargin,
    // the media-dedup composition replay: collapse (full ordered set
    // grouping) -> key-only vote pairs among representatives (pair
    // exists iff its best offset gathers >= 2 votes) -> exact-group
    // membership edges -> recursive closure -> min-reachable keeper
    // election over the full universe (undecodable %10=7 docs never
    // fingerprint and keep themselves)
    "media_dedup_e2e" ->
      s"""WITH RECURSIVE base AS (
        |  SELECT doc_id, doc_id AS src, CAST(256 + doc_id % 512 AS BIGINT) AS n,
        |         3 + doc_id % 5 AS m, 0 AS off
        |  FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + k.k * 2000000, doc_id, CAST(256 + doc_id % 512 AS BIGINT),
        |         3 + doc_id % 5, 0
        |  FROM documents, (SELECT unnest(range(1, 4)) AS k) k
        |  WHERE doc_id % 50 = 0 AND doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, CAST(256 + doc_id % 512 - 64 AS BIGINT),
        |         3 + doc_id % 5, 64
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id % 10 != 7
        |), $subfpChain, sig AS (
        |  SELECT doc_id,
        |         string_agg(win_idx || ':' || subfp, ',' ORDER BY win_idx) AS fset
        |  FROM fp GROUP BY doc_id
        |), grp AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fset) AS rep FROM sig
        |), kept AS (
        |  SELECT fp.* FROM fp JOIN grp ON fp.doc_id = grp.doc_id
        |  WHERE grp.doc_id = grp.rep
        |), ok AS (
        |  SELECT subfp FROM kept GROUP BY subfp HAVING COUNT(*) <= 1000
        |), k AS (
        |  SELECT kept.* FROM kept JOIN ok USING (subfp)
        |), prs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |           x.win_idx - y.win_idx AS off, COUNT(*) AS support
        |    FROM k x JOIN k y ON x.subfp = y.subfp AND x.doc_id < y.doc_id
        |    GROUP BY 1, 2, 3)
        |  GROUP BY a, b HAVING MAX(support) >= 2
        |), alledges AS (
        |  SELECT a, b FROM prs
        |  UNION ALL
        |  SELECT doc_id, rep FROM grp WHERE doc_id != rep
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM alledges
        |  UNION ALL
        |  SELECT b, a FROM alledges
        |), reach AS (
        |  SELECT src AS id, dst AS r FROM edges
        |  UNION
        |  SELECT g.src, reach.r FROM edges g JOIN reach ON reach.id = g.dst
        |), u AS (
        |  SELECT doc_id FROM documents
        |  UNION ALL
        |  SELECT doc_id + k.k * 2000000 FROM documents,
        |    (SELECT unnest(range(1, 4)) AS k) k
        |  WHERE doc_id % 50 = 0 AND doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000 FROM documents
        |  WHERE doc_id % 25 = 0 AND doc_id % 10 != 7
        |)
        |SELECT u.doc_id
        |FROM u LEFT JOIN reach ON reach.id = u.doc_id
        |GROUP BY u.doc_id
        |HAVING CAST(COALESCE(LEAST(MIN(reach.r), u.doc_id), u.doc_id) AS BIGINT) = u.doc_id""".stripMargin,
    // the video media-dedup replay: frame-hash chain -> set collapse ->
    // frame-offset vote pairs among representatives -> exact-group
    // edges -> recursive closure -> keeper election over all docs +
    // planted copies + head-clipped variants
    "video_dedup_e2e" ->
      s"""WITH RECURSIVE vids AS (
        |  SELECT doc_id, doc_id AS src, 0 AS sh FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + k.k * 2000000, doc_id, 0
        |  FROM documents, (SELECT unnest(range(1, 4)) AS k) k
        |  WHERE doc_id % 50 = 0 AND doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, 1 FROM documents WHERE doc_id % 20 = 5
        |), $frameHashChain, sig AS (
        |  SELECT doc_id,
        |         string_agg(idx || ':' || fhash, ',' ORDER BY idx) AS fset
        |  FROM fhd GROUP BY doc_id
        |), grp AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fset) AS rep FROM sig
        |), kept AS (
        |  SELECT fhd.* FROM fhd JOIN grp ON fhd.doc_id = grp.doc_id
        |  WHERE grp.doc_id = grp.rep
        |), ok AS (
        |  SELECT fhash FROM kept GROUP BY fhash HAVING COUNT(*) <= 1000
        |), k AS (
        |  SELECT kept.* FROM kept JOIN ok USING (fhash)
        |), prs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |           x.idx - y.idx AS off, COUNT(*) AS support
        |    FROM k x JOIN k y ON x.fhash = y.fhash AND x.doc_id < y.doc_id
        |    GROUP BY 1, 2, 3)
        |  GROUP BY a, b HAVING MAX(support) >= 2
        |), alledges AS (
        |  SELECT a, b FROM prs
        |  UNION ALL
        |  SELECT doc_id, rep FROM grp WHERE doc_id != rep
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM alledges
        |  UNION ALL
        |  SELECT b, a FROM alledges
        |), reach AS (
        |  SELECT src AS id, dst AS r FROM edges
        |  UNION
        |  SELECT g.src, reach.r FROM edges g JOIN reach ON reach.id = g.dst
        |), u AS (
        |  SELECT doc_id FROM documents
        |  UNION ALL
        |  SELECT doc_id + k.k * 2000000 FROM documents,
        |    (SELECT unnest(range(1, 4)) AS k) k
        |  WHERE doc_id % 50 = 0 AND doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 20 = 5
        |)
        |SELECT u.doc_id
        |FROM u LEFT JOIN reach ON reach.id = u.doc_id
        |GROUP BY u.doc_id
        |HAVING CAST(COALESCE(LEAST(MIN(reach.r), u.doc_id), u.doc_id) AS BIGINT) = u.doc_id""".stripMargin,
    // the still-image dedup replay: average-hash chain from the
    // quadratic pixel law over originals + byte-copies + BMP
    // re-encodes; exact groups by the byte-identity class
    // (src mod 768, container) with min-id reps; the literal 4×16-band
    // + hot-cap + hamming<=3 pair replay among representatives;
    // exact-group edges; recursive closure; min-reachable keeper
    // election over the full universe (non-image %10=7 docs never
    // decode and keep themselves)
    "image_dedup_e2e" ->
      s"""WITH RECURSIVE imgs AS (
        |  SELECT doc_id, doc_id AS src, 0 AS bmp FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + k.k * 2000000, doc_id, 0
        |  FROM documents, (SELECT unnest(range(1, 4)) AS k) k
        |  WHERE doc_id % 50 = 0 AND doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, 1
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id % 10 != 7
        |), $stillSigChain, igrp AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY src % 768, bmp) AS rep
        |  FROM imgs
        |), irep AS (
        |  SELECT iah.doc_id, iah.sig AS phash
        |  FROM iah JOIN igrp ON iah.doc_id = igrp.doc_id
        |  WHERE igrp.doc_id = igrp.rep
        |), ibnd AS (
        |  SELECT doc_id, phash, b AS band, substring(phash, 1 + 16*b, 16) AS bits
        |  FROM irep, (SELECT unnest(range(0, 4)) AS b)
        |), ibk AS (
        |  SELECT x.* FROM ibnd x
        |  JOIN (SELECT band, bits FROM ibnd GROUP BY band, bits HAVING COUNT(*) <= 1000) ok
        |    USING (band, bits)
        |), iprs AS (
        |  SELECT DISTINCT c.a, c.b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b
        |    FROM ibk x JOIN ibk y
        |      ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
        |    WHERE bit_count(xor(x.phash::BIT, y.phash::BIT)) <= 3) c
        |  JOIN idh da ON da.doc_id = c.a
        |  JOIN idh db ON db.doc_id = c.b
        |  WHERE bit_count(xor(da.sig::BIT, db.sig::BIT)) <= 3
        |), ialledges AS (
        |  SELECT a, b FROM iprs
        |  UNION ALL
        |  SELECT doc_id, rep FROM igrp WHERE doc_id != rep
        |), iedges AS (
        |  SELECT a AS src, b AS dst FROM ialledges
        |  UNION ALL
        |  SELECT b, a FROM ialledges
        |), ireach AS (
        |  SELECT src AS id, dst AS r FROM iedges
        |  UNION
        |  SELECT g.src, ireach.r FROM iedges g JOIN ireach ON ireach.id = g.dst
        |), u AS (
        |  SELECT doc_id FROM documents
        |  UNION ALL
        |  SELECT doc_id + k.k * 2000000 FROM documents,
        |    (SELECT unnest(range(1, 4)) AS k) k
        |  WHERE doc_id % 50 = 0 AND doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000 FROM documents
        |  WHERE doc_id % 25 = 0 AND doc_id % 10 != 7
        |)
        |SELECT u.doc_id
        |FROM u LEFT JOIN ireach ON ireach.id = u.doc_id
        |GROUP BY u.doc_id
        |HAVING CAST(COALESCE(LEAST(MIN(ireach.r), u.doc_id), u.doc_id) AS BIGINT) = u.doc_id""".stripMargin,
    // the video persisted-index probe replay: index = ALL video docs
    // (the two parity days reunited — save/append/load are
    // transparent), queries = the head-clipped re-encodes, asymmetric
    // vote + election over the frame-hash chain; the hot-hash cap is
    // computed on the index side only (the probeVideoClipIndex shape)
    "video_clip_index_incremental" ->
      s"""WITH vids AS (
        |  SELECT doc_id, doc_id AS src, 0 AS sh FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, 1 FROM documents WHERE doc_id % 20 = 5
        |), $frameHashChain, ok AS (
        |  SELECT fhash FROM fhd WHERE doc_id < 1000000
        |  GROUP BY fhash HAVING COUNT(*) <= 1000
        |), idx AS (
        |  SELECT fhd.* FROM fhd JOIN ok USING (fhash) WHERE fhd.doc_id < 1000000
        |), qs AS (
        |  SELECT * FROM fhd WHERE doc_id >= 1000000
        |), votes AS (
        |  SELECT qs.doc_id AS vid_q, idx.doc_id AS vid_m,
        |         CAST(idx.idx - qs.idx AS BIGINT) AS "offset",
        |         COUNT(*) AS support
        |  FROM qs JOIN idx USING (fhash)
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY vid_q, vid_m
        |    ORDER BY support DESC, "offset" ASC) AS rn
        |  FROM votes
        |)
        |SELECT vid_q, vid_m, "offset", CAST(support AS BIGINT) AS support
        |FROM best WHERE rn = 1 AND support >= 2""".stripMargin,
    // the frame-ahash-sequence replay: per-frame 8x8 nearest-neighbor
    // phash from the pixel law (frame f of src uses gradient base
    // src + f; head-clipped variants start at f = 1), distinct
    // (video, fhash), hot-hash cap, >= 2 shared law
    "video_neardup_pairs" ->
      """WITH vids AS (
        |  SELECT doc_id, doc_id AS src, 0 AS sh FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, 1 FROM documents WHERE doc_id % 20 = 5
        |), frs AS (
        |  SELECT doc_id, src, f.f AS f,
        |         CAST(8 + src % 24 AS INTEGER) AS w,
        |         CAST(8 + (src * 7) % 16 AS INTEGER) AS h
        |  FROM vids, (SELECT unnest(range(0, 6)) AS f) f
        |  WHERE f.f >= sh AND f.f < 2 + src % 4
        |), px AS (
        |  SELECT doc_id, f, i,
        |         (xs*xs + ys*ys*(f + 1) + (xs + ys)*src + src + f) % 256 AS v
        |  FROM (
        |    SELECT doc_id, src, f,
        |           (((i.i % 8) * w) // 8) AS xs, (((i.i // 8) * h) // 8) AS ys,
        |           i.i AS i
        |    FROM frs, (SELECT unnest(range(0, 64)) AS i) i) g
        |), tt AS (
        |  SELECT doc_id, f, SUM(v) AS tot FROM px GROUP BY doc_id, f
        |), fh AS (
        |  SELECT px.doc_id, px.f,
        |         string_agg(CASE WHEN v * 64 > tt.tot THEN '1' ELSE '0' END, '' ORDER BY i) AS fhash
        |  FROM px JOIN tt USING (doc_id, f) GROUP BY px.doc_id, px.f
        |), fhd AS (
        |  SELECT DISTINCT doc_id, fhash FROM fh
        |), ok AS (
        |  SELECT fhash FROM fhd GROUP BY fhash HAVING COUNT(*) <= 1000
        |), k AS (
        |  SELECT fhd.* FROM fhd JOIN ok USING (fhash)
        |)
        |SELECT x.doc_id AS vid_a, y.doc_id AS vid_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM k x JOIN k y ON x.fhash = y.fhash AND x.doc_id < y.doc_id
        |GROUP BY x.doc_id, y.doc_id
        |HAVING COUNT(*) >= 2""".stripMargin,
    // the frame-offset-voting replay: the same per-frame phash chain
    // carrying the STREAM index (variants start at law frame 1 ->
    // idx = f - 1), key-only matches vote for idx_a - idx_b
    "video_clip_align" ->
      """WITH vids AS (
        |  SELECT doc_id, doc_id AS src, 0 AS sh FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, 1 FROM documents WHERE doc_id % 20 = 5
        |), frs AS (
        |  SELECT doc_id, src, f.f AS f, CAST(f.f - sh AS BIGINT) AS idx,
        |         CAST(8 + src % 24 AS INTEGER) AS w,
        |         CAST(8 + (src * 7) % 16 AS INTEGER) AS h
        |  FROM vids, (SELECT unnest(range(0, 6)) AS f) f
        |  WHERE f.f >= sh AND f.f < 2 + src % 4
        |), px AS (
        |  SELECT doc_id, f, idx, i,
        |         (xs*xs + ys*ys*(f + 1) + (xs + ys)*src + src + f) % 256 AS v
        |  FROM (
        |    SELECT doc_id, src, f, idx,
        |           (((i.i % 8) * w) // 8) AS xs, (((i.i // 8) * h) // 8) AS ys,
        |           i.i AS i
        |    FROM frs, (SELECT unnest(range(0, 64)) AS i) i) g
        |), tt AS (
        |  SELECT doc_id, f, SUM(v) AS tot FROM px GROUP BY doc_id, f
        |), fh AS (
        |  SELECT px.doc_id, px.f, px.idx,
        |         string_agg(CASE WHEN v * 64 > tt.tot THEN '1' ELSE '0' END, '' ORDER BY i) AS fhash
        |  FROM px JOIN tt USING (doc_id, f) GROUP BY px.doc_id, px.f, px.idx
        |), fhd AS (
        |  SELECT DISTINCT doc_id, idx, fhash FROM fh
        |), ok AS (
        |  SELECT fhash FROM fhd GROUP BY fhash HAVING COUNT(*) <= 1000
        |), k AS (
        |  SELECT fhd.* FROM fhd JOIN ok USING (fhash)
        |), votes AS (
        |  SELECT x.doc_id AS vid_a, y.doc_id AS vid_b,
        |         CAST(x.idx - y.idx AS BIGINT) AS "offset", COUNT(*) AS support
        |  FROM k x JOIN k y ON x.fhash = y.fhash AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY vid_a, vid_b
        |    ORDER BY support DESC, "offset" ASC) AS rn
        |  FROM votes
        |)
        |SELECT vid_a, vid_b, "offset", CAST(support AS BIGINT) AS support
        |FROM best WHERE rn = 1 AND support >= 2""".stripMargin,
    // the image persisted-index probe replay: index = ALL image docs
    // (the two parity days reunited — save/append/load are
    // transparent), queries = the BMP re-encodes, the asymmetric
    // (kind, sig) vote at support >= 2 with the hot cap computed on
    // the index side only (the probeImageSigIndex shape; no election —
    // the probe reports every qualifying match)
    "image_index_incremental" ->
      s"""WITH imgs AS (
        |  SELECT doc_id, doc_id AS src FROM documents WHERE doc_id % 10 != 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 20 = 5
        |), $stillSigChain, ok AS (
        |  SELECT kind, sig FROM isig WHERE doc_id < 1000000
        |  GROUP BY kind, sig HAVING COUNT(*) <= 1000
        |), idx AS (
        |  SELECT isig.* FROM isig JOIN ok USING (kind, sig)
        |  WHERE isig.doc_id < 1000000
        |), qs AS (
        |  SELECT * FROM isig WHERE doc_id >= 1000000
        |)
        |SELECT qs.doc_id AS img_q, idx.doc_id AS img_m,
        |       CAST(COUNT(*) AS BIGINT) AS support
        |FROM qs JOIN idx USING (kind, sig)
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2""".stripMargin,
    // per-frame pixel law (Multimodal.videoPixel): frame f of doc id
    // has pixel (x² + y²·(f+1) + (x+y)·id + id + f) mod 256, dims from
    // the shared fixture law
    "multimodal_video" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |         CAST(8 + doc_id % 24 AS INTEGER) AS w,
        |         CAST(8 + (doc_id * 7) % 16 AS INTEGER) AS h,
        |         CAST(2 + doc_id % 4 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 10 != 7
        |), xs AS (SELECT unnest(range(0, 32)) AS x),
        |   ys AS (SELECT unnest(range(0, 24)) AS y),
        |   fs AS (SELECT unnest(range(0, 6)) AS f),
        |px AS (
        |  SELECT doc_id, fs.f AS f,
        |         SUM((xs.x*xs.x + ys.y*ys.y*(fs.f + 1) + (xs.x + ys.y)*doc_id
        |              + doc_id + fs.f) % 256) AS s
        |  FROM dims, xs, ys, fs
        |  WHERE xs.x < dims.w AND ys.y < dims.h AND fs.f < dims.nf
        |  GROUP BY doc_id, fs.f
        |)
        |SELECT d.doc_id, CAST(p.f AS INTEGER) AS frame_idx,
        |       d.w AS width, d.h AS height, CAST(p.s AS BIGINT) AS sum_luma
        |FROM dims d JOIN px p USING (doc_id)
        |UNION ALL
        |SELECT doc_id, CAST(0 AS INTEGER), NULL, NULL, NULL
        |FROM documents WHERE doc_id % 10 = 7""".stripMargin,
    "multimodal_frames" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(i AS INTEGER) AS frame_idx,
        |  CAST((i * octet_length(encode(text))) // 4 AS BIGINT) AS byte_offset
        |FROM documents, (SELECT unnest(range(0, 4)) AS i)""".stripMargin,
    // Replay of byteEntropyRelational: the same hex-pair byte
    // projection as the ahash chain, the exact-integer histogram, and
    // the fixed-order entropy — list_reduce over list(c ORDER BY b)
    // with a prepended 0.0 is the identical left-to-right sum Spark's
    // aggregate(transform(...), 0.0, +) evaluates, and NATURAL ln over
    // the small-integer counts matches double-for-double (the DSIR
    // ln-parity precedent; log2 primitives do NOT — see the operator
    // doc). ln2 is the shared literal on both sides. Sentinels are
    // emitted as hex strings directly (constant / two-symbol /
    // uniform).
    "multimodal_entropy" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  UNION ALL SELECT -1, repeat('07', 128), 128
        |  UNION ALL SELECT -2, repeat('0001', 32), 64
        |  UNION ALL SELECT -3,
        |    (SELECT string_agg(upper(lpad(to_hex(i), 2, '0')), '' ORDER BY i)
        |     FROM range(0, 256) t(i)), 256
        |), pos AS (
        |  SELECT doc_id, n, hx, unnest(range(0, n)) AS i FROM m WHERE n > 0
        |), byt AS (
        |  SELECT doc_id, n, ('0x' || substring(hx, 2*i + 1, 2))::BIGINT AS b
        |  FROM pos
        |), hist AS (
        |  SELECT doc_id, b, COUNT(*) AS c FROM byt GROUP BY doc_id, b
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_distinct, MAX(c) AS max_count,
        |         list(c ORDER BY b) AS cl
        |  FROM hist GROUP BY doc_id
        |)
        |SELECT m.doc_id, CAST(m.n AS BIGINT) AS n_bytes,
        |       CAST(COALESCE(a.n_distinct, 0) AS BIGINT) AS n_distinct,
        |       CAST(COALESCE(a.max_count, 0) AS BIGINT) AS max_count,
        |       CASE WHEN m.n > 0 THEN
        |         (ln(m.n) - list_reduce(
        |           list_prepend(CAST(0.0 AS DOUBLE),
        |             list_transform(a.cl,
        |               c -> CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))),
        |           (x, y) -> x + y) / m.n) / 0.6931471805599453
        |       ELSE 0.0 END AS entropy_bits
        |FROM m LEFT JOIN agg a USING (doc_id)""".stripMargin
  )
}
