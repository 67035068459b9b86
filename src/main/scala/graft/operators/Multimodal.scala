package graft.operators

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `BINARY` columns with
  * typed metadata (SURVEY.md training-data ops; reference analog: page
  * images + graphics assets, `processors/document_page_image.py` /
  * `graphic_matching.py:565-593`).
  *
  * The decode layer is REAL for the formats the JDK ships codecs for —
  * PNG/JPEG/GIF/BMP pixels via `javax.imageio` ([[decodeImage]]),
  * RIFF/WAV PCM via a self-contained chunk parser ([[decodeWav]], no
  * `javax.sound` dependency, deterministic integer math), and
  * MJPEG-in-AVI video via the same RIFF grammar plus per-frame JPEG
  * decode ([[decodeAvi]] / [[videoFeatures]]). Only formats with no
  * pure-JVM codec (MP4/H.264, exotic image formats) fall
  * back to the clearly-named [[decodeImageStub]], so the batching /
  * schema / partitioning plumbing still runs for them. A production
  * build swaps the fallback for JavaCV/ONNX without touching the
  * dataflow: `mapPartitions` already amortizes per-codec/per-model init
  * across the partition, which is the pattern the reference uses for
  * its external binaries.
  */
object Multimodal {

  // All media here moves through in-memory byte arrays; ImageIO's
  // default stream cache would spill every encode/decode through a
  // temp FILE (one create+delete per frame — measured ~40% of p16's
  // video pass at sf0.1). Executors load this object before first use,
  // so the switch applies wherever the decode kernels run.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaRow(
      doc_id: Long,
      media_type: String, // "image/png" | "audio/wav" | "video/mp4" | ...
      content: Array[Byte],
      meta: Map[String, String])

  final case class ImageFeatures(
      doc_id: Long,
      media_type: String,
      width: Int,
      height: Int,
      channels: Int,
      n_bytes: Long,
      embedding: Array[Float])

  final case class AudioFeatures(
      doc_id: Long,
      media_type: String,
      channels: Int,
      sample_rate: Int,
      bits_per_sample: Int,
      n_samples: Long,
      duration_ms: Long,
      rms: Double)

  final case class VideoFeatures(
      doc_id: Long,
      media_type: String,
      width: Int,
      height: Int,
      n_frames: Int,
      duration_ms: Long,
      frame_idx: Int,
      embedding: Array[Float])

  // ------------------------------------------------------- image decode

  /** Real image decode via the JDK's ImageIO (PNG/JPEG/GIF/BMP codecs
    * ship with the JVM): pixels → (width, height, channels, embedding).
    *
    * The embedding is a `gridxgrid` block-averaged grayscale thumbnail
    * (the classic perceptual-hash precursor): integer sRGB→luma
    * (299/587/114), per-block mean, normalized to [0,1]. All-integer
    * accumulation keeps it bit-deterministic across JVMs — no
    * platform scaler, no float pixel paths.
    *
    * Returns None when no installed codec recognizes the bytes.
    */
  private[graft] def decodeImage(content: Array[Byte], grid: Int = 4): Option[(Int, Int, Int, Array[Float])] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(content)))
      catch { case _: java.io.IOException => None }
    img.map { bi =>
      val w = bi.getWidth
      val h = bi.getHeight
      val channels = bi.getColorModel.getNumComponents
      // single-channel rasters read raw samples (getRGB would push gray
      // through a non-linear sRGB conversion and distort the means)
      val gray = channels == 1
      val sums = new Array[Long](grid * grid)
      val counts = new Array[Long](grid * grid)
      var y = 0
      while (y < h) {
        val gy = math.min(y * grid / h, grid - 1)
        var x = 0
        while (x < w) {
          val gx = math.min(x * grid / w, grid - 1)
          val luma =
            if (gray) bi.getRaster.getSample(x, y, 0)
            else {
              val rgb = bi.getRGB(x, y)
              (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
                (rgb & 0xFF) * 114) / 1000
            }
          sums(gy * grid + gx) += luma
          counts(gy * grid + gx) += 1
          x += 1
        }
        y += 1
      }
      val emb = new Array[Float](grid * grid)
      var i = 0
      while (i < emb.length) {
        emb(i) = if (counts(i) == 0) 0f else (sums(i).toDouble / counts(i) / 255.0).toFloat
        i += 1
      }
      (w, h, channels, emb)
    }
  }

  /** FALLBACK decode for formats with no pure-JVM codec: deterministic
    * pseudo-metadata + embedding derived from the content bytes. Marked
    * clearly as fake; it exists so the downstream plumbing (schema,
    * batching, partitioning) still exercises rows a real deployment
    * would route to an external decoder.
    */
  private[operators] def decodeImageStub(content: Array[Byte], dim: Int): (Int, Int, Int, Array[Float]) = {
    var h = 1125899906842597L // deterministic FNV-ish fold over bytes
    content.foreach(b => h = h * 31 + b)
    val width = 64 + math.floorMod(h, 1024).toInt
    val height = 64 + math.floorMod(h >> 10, 1024).toInt
    val channels = 1 + math.floorMod(h >> 20, 4).toInt
    val emb = new Array[Float](dim)
    var s = h
    var i = 0
    while (i < dim) {
      s = graft.functions.Sketch.mix(s)
      emb(i) = (s.toDouble / Long.MaxValue).toFloat
      i += 1
    }
    (width, height, channels, emb)
  }

  /** Batched per-partition image featurization: real ImageIO decode
    * where a codec exists, stub fallback otherwise. `batchSize` is the
    * decode/inference batch: at scale, partitions hold many media rows
    * and the expensive step (a vision model) wants fixed-size batches —
    * the iterator grouping below is exactly the shape an ONNX session
    * call needs, with no driver involvement. `dim` sizes the stub
    * embedding; real decodes emit a 16-float 4x4 luma grid.
    */
  def imageFeatures(media: Dataset[MediaRow], dim: Int = 16,
      batchSize: Int = 32): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init happens HERE once (codec/model session)
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          val (w, h, c, emb) = decodeImage(m.content)
            .getOrElse(decodeImageStub(m.content, dim))
          ImageFeatures(m.doc_id, m.media_type, w, h, c,
            m.content.length.toLong, emb)
        }
      }
    }
  }

  /** 64-bit difference hash (dHash) of an image — the standard
    * perceptual near-dup signature: a 9×8 block-averaged luma grid,
    * one bit per horizontal neighbor pair (`mean(r,c) > mean(r,c+1)`).
    * Invariant to uniform brightness shifts, re-encoding (PNG↔BMP) and
    * integer rescaling (block means are scale-stable); flips only where
    * local gradients change — which is what "different image" means.
    * All-integer accumulation and a cross-multiplied mean compare
    * (`sum_a·cnt_b > sum_b·cnt_a`) keep it bit-deterministic across
    * JVMs — no float pixel paths, no platform scaler.
    *
    * Returns None when no installed codec recognizes the bytes.
    */
  private[graft] def dHash64(content: Array[Byte]): Option[Long] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(content)))
      catch { case _: java.io.IOException => None }
    img.map { bi =>
      val (gw, gh) = (9, 8)
      val w = bi.getWidth
      val h = bi.getHeight
      val gray = bi.getColorModel.getNumComponents == 1
      val sums = new Array[Long](gw * gh)
      val counts = new Array[Long](gw * gh)
      var y = 0
      while (y < h) {
        val gy = math.min(y * gh / h, gh - 1)
        var x = 0
        while (x < w) {
          val gx = math.min(x * gw / w, gw - 1)
          val luma =
            if (gray) bi.getRaster.getSample(x, y, 0)
            else {
              val rgb = bi.getRGB(x, y)
              (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
                (rgb & 0xFF) * 114) / 1000
            }
          sums(gy * gw + gx) += luma
          counts(gy * gw + gx) += 1
          x += 1
        }
        y += 1
      }
      var hash = 0L
      var r = 0
      while (r < gh) {
        var c = 0
        while (c < gw - 1) {
          val l = r * gw + c
          // exact mean compare without division: empty blocks (counts
          // 0, sub-9px-wide images) read as mean 0 on both sides
          if (sums(l) * counts(l + 1) > sums(l + 1) * counts(l))
            hash |= 1L << (r * (gw - 1) + c)
          c += 1
        }
        r += 1
      }
      hash
    }
  }

  final case class ImageHash(
      doc_id: Long,
      media_type: String,
      dhash: Long,
      decoded: Boolean)

  /** Per-image 64-bit perceptual hashes ([[dHash64]]) — the signature
    * table image near-dedup runs on. Bytes that no codec decodes fall
    * back to a deterministic FNV fold of the content (flagged
    * `decoded = false`): exact byte-dups still collide, and the
    * plumbing carries rows a real deployment would route to an
    * external decoder. Row-local mapPartitions — only (id, 8-byte
    * hash) rows ever leave the scan. */
  def imageHashes(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      dHash64(m.content) match {
        case Some(hs) => ImageHash(m.doc_id, m.media_type, hs, decoded = true)
        case None =>
          var f = 1125899906842597L
          m.content.foreach(b => f = f * 31 + b)
          ImageHash(m.doc_id, m.media_type, f, decoded = false)
      }
    })
  }

  /** Shared pair-join tail of [[imageNearDupPairs]] and
    * [[audioNearDupPairs]] over a flagged signature table
    * ([[ImageHash]] shape). Two disciplines, both 100 TB-motivated:
    *
    *   - `maxBucket` caps every (chunk, value) candidate bucket, with
    *     identical-signature volume recovered losslessly as keeper
    *     stars ([[graft.operators.Dedup.hamming64PairsCapped]]) — a
    *     million all-black thumbnails or silent WAVs is 10⁶−1 rows,
    *     not a 5·10¹¹-pair self-join;
    *   - the join is PARTITIONED BY THE `decoded` FLAG: fallback FNV
    *     content-folds live in the same 64-bit space as genuine
    *     perceptual hashes, so a chance Hamming-≤3 collision between
    *     a fold and a real dHash would emit a spurious near-dup pair
    *     the consumer cannot filter (the pair output drops the flag).
    *     Decoded rows pair at `maxHamming`; fallback rows pair only at
    *     Hamming 0 — i.e. exact byte duplicates, the only relation the
    *     fold actually attests. */
  private def flaggedNearDupPairs(hashes: DataFrame, maxHamming: Int,
      maxBucket: Long): DataFrame = {
    val h = graft.CacheRegistry.persist(hashes)
    graft.operators.Dedup.hamming64PairsCapped(
        h.filter(col("decoded")), "doc_id", "dhash", maxHamming, maxBucket)
      .unionByName(graft.operators.Dedup.hamming64PairsCapped(
        h.filter(!col("decoded")), "doc_id", "dhash", 0, maxBucket))
  }

  /** Image near-dup pairs: dHash signatures into the generic 4×16-bit
    * pigeonhole Hamming join (the same banding text SimHash uses),
    * capped + decoded-partitioned per [[flaggedNearDupPairs]]. Media
    * bytes never shuffle; the join carries 8-byte signatures only. The
    * signature table is persisted first: both sides of the self-join
    * read it, and re-executing the subtree would DECODE EVERY IMAGE
    * TWICE. */
  def imageNearDupPairs(media: Dataset[MediaRow], maxHamming: Int = 3,
      maxBucket: Long = 100000L): DataFrame =
    flaggedNearDupPairs(imageHashes(media).toDF(), maxHamming, maxBucket)

  // ------------------------------------------------------- audio decode

  /** Real WAV decode: RIFF chunk walk (fmt + data), 8/16-bit PCM, all
    * integer accumulation; rms is computed over all channels
    * interleaved. Self-contained — byte-order math only, so it runs
    * identically on any executor. Returns None unless the bytes are a
    * well-formed RIFF/WAVE with a PCM fmt chunk.
    */
  private def wavLe16(content: Array[Byte], o: Int): Int =
    (content(o) & 0xFF) | ((content(o + 1) & 0xFF) << 8)

  /** RIFF/WAVE walk shared by [[decodeWav]] and [[wavEnergyHash64]]:
    * returns (channels, rate, bits, dataOff, dataLen) for well-formed
    * 8/16-bit PCM, None otherwise. */
  private def wavPcm(content: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
    def le16(o: Int): Int = wavLe16(content, o)
    def le32(o: Int): Int = le16(o) | (le16(o + 2) << 16)
    if (content.length < 44) return None
    if (!(content(0) == 'R' && content(1) == 'I' && content(2) == 'F' && content(3) == 'F' &&
        content(8) == 'W' && content(9) == 'A' && content(10) == 'V' && content(11) == 'E')) return None
    var off = 12
    var channels = 0; var rate = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    var ok = true
    while (ok && off + 8 <= content.length) {
      val id = new String(content, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      // adversarial-input discipline (same as the AVI walk): the chunk
      // length is UNSIGNED 32-bit, and the word-aligned advance runs in
      // Long space — a crafted length can otherwise stall the loop
      // (advance 0) or overflow `off` negative and crash the task
      val lenL = le32(off + 4) & 0xFFFFFFFFL
      // the fmt fields are only read if the chunk DECLARES them: a
      // short fmt chunk would otherwise read the next chunk's bytes
      // as channels/rate/bits
      if (id == "fmt " && lenL >= 16 && off + 8 + 16 <= content.length) {
        val audioFormat = le16(off + 8)
        if (audioFormat != 1) return None // PCM only
        channels = le16(off + 10)
        rate = le32(off + 12)
        bits = le16(off + 22)
      } else if (id == "data") {
        dataOff = off + 8
        dataLen = math.min(lenL, (content.length - dataOff).toLong).toInt
      }
      // lenL >= 0 by the unsigned widening, so the advance is always
      // positive — only the Int overflow needs an explicit stop
      val next = off.toLong + 8L + lenL + (lenL & 1L)
      if (next > Int.MaxValue) ok = false
      else off = next.toInt
    }
    if (channels <= 0 || rate <= 0 || dataOff < 0 || (bits != 8 && bits != 16)) None
    else Some((channels, rate, bits, dataOff, dataLen))
  }

  private[graft] def decodeWav(content: Array[Byte]): Option[(Int, Int, Int, Long, Double)] =
    wavPcm(content).map { case (channels, rate, bits, dataOff, dataLen) =>
      val bytesPerSample = bits / 8
      val nValues = dataLen / bytesPerSample
      var sumSq = 0.0
      var i = 0
      while (i < nValues) {
        val v =
          if (bits == 16) wavLe16(content, dataOff + i * 2).toShort.toInt
          else (content(dataOff + i) & 0xFF) - 128
        sumSq += v.toDouble * v
        i += 1
      }
      val nFrames = nValues.toLong / channels
      val rms = if (nValues == 0) 0.0 else math.sqrt(sumSq / nValues)
      (channels, rate, bits, nFrames, rms)
    }

  /** 64-bit audio fingerprint — the audio analog of [[dHash64]]: total
    * |amplitude| per window over 65 equal time windows, one bit per
    * consecutive-window energy DELTA (`e(w+1) > e(w)`). All-integer
    * accumulation (Long sums of |sample|), so the signature is
    * bit-deterministic; the delta form makes it invariant to uniform
    * GAIN (scaling every sample scales every window sum by the same
    * factor — comparisons unchanged short of clipping), the audio
    * counterpart of dHash's brightness invariance. Returns None unless
    * the bytes are well-formed 8/16-bit PCM WAV.
    */
  private[graft] def wavEnergyHash64(content: Array[Byte]): Option[Long] =
    wavPcm(content).map { case (_, _, bits, dataOff, dataLen) =>
      val bytesPerSample = bits / 8
      val n = dataLen / bytesPerSample
      val win = 65
      val e = new Array[Long](win)
      var i = 0
      while (i < n) {
        val v =
          if (bits == 16) wavLe16(content, dataOff + i * 2).toShort.toInt
          else (content(dataOff + i) & 0xFF) - 128
        // i*win stays far under Long overflow for any 32-bit data chunk
        e((i.toLong * win / n).toInt) += math.abs(v)
        i += 1
      }
      var hash = 0L
      var w = 0
      while (w < win - 1) {
        if (e(w + 1) > e(w)) hash |= 1L << w
        w += 1
      }
      hash
    }

  /** Per-audio 64-bit fingerprints — the WAV signature table audio
    * near-dedup runs on (same contract as [[imageHashes]]: undecodable
    * bytes fall back to a flagged deterministic content fold so exact
    * byte-dups still pair; row-local, only (id, 8-byte hash) rows leave
    * the scan). */
  def audioHashes(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      wavEnergyHash64(m.content) match {
        case Some(hs) => ImageHash(m.doc_id, m.media_type, hs, decoded = true)
        case None =>
          var f = 1125899906842597L
          m.content.foreach(b => f = f * 31 + b)
          ImageHash(m.doc_id, m.media_type, f, decoded = false)
      }
    })
  }

  /** Audio near-dup pairs: energy-delta fingerprints into the generic
    * 4×16-bit pigeonhole Hamming join — the third consumer of the
    * banding machinery after text SimHash and image dHash, capped +
    * decoded-partitioned per [[flaggedNearDupPairs]]. */
  def audioNearDupPairs(media: Dataset[MediaRow], maxHamming: Int = 3,
      maxBucket: Long = 100000L): DataFrame =
    flaggedNearDupPairs(audioHashes(media).toDF(), maxHamming, maxBucket)

  /** Shared ACROSS tail of [[imageNearDupPairsAcross]] /
    * [[audioNearDupPairsAcross]] — [[flaggedNearDupPairs]]' delivery-
    * time form over a PERSISTED corpus signature table (the
    * [[ImageHash]] schema as parquet): the corpus's media were decoded
    * ONCE when the index was built; a delivery decodes only itself,
    * band-joins the stored signatures
    * ([[graft.operators.Dedup.hamming64PairsAcross]]) and never
    * re-pairs the corpus. The decoded-flag partition discipline is the
    * self-form's: decoded rows pair at `maxHamming`, fallback
    * content-folds only at Hamming 0 (the only relation a fold
    * attests). The delivery hash table is persisted so the two flag
    * splits don't decode the delivery twice. */
  private def flaggedNearDupPairsAcross(corpusHashes: DataFrame,
      batchHashes: DataFrame, maxHamming: Int, maxBucket: Long,
      overCapChunks: Option[DataFrame],
      starKeepers: Option[DataFrame]): DataFrame = {
    val b = graft.CacheRegistry.persist(batchHashes)
    def split(dec: Boolean, mh: Int): DataFrame =
      graft.operators.Dedup.hamming64PairsAcross(
        corpusHashes.filter(col("decoded") === dec),
        b.filter(col("decoded") === dec),
        "doc_id", "dhash", mh, maxBucket,
        overCapChunks = overCapChunks.map(_
          .filter(col("decoded") === dec).select("chunk", "cval")),
        starKeepers = starKeepers.map(_
          .filter(col("decoded") === dec).select("sig", "corpus_id")))
    split(dec = true, maxHamming).unionByName(split(dec = false, 0))
  }

  /** Flag-aware over-cap chunk list of a flagged signature table —
    * the cap bookkeeping [[imageNearDupPairsAcross]] /
    * [[audioNearDupPairsAcross]] otherwise re-aggregate per delivery:
    * materialize ONCE when the signature index is built (the q102b
    * sign-time discipline). Tiny by construction. */
  def flaggedOverCapChunks(hashes: DataFrame,
      maxBucket: Long = 100000L): DataFrame =
    graft.operators.Dedup.signatureChunkCounts(
        hashes.select(col("decoded"), col("dhash").as("sig")))
      .filter(col("n") > maxBucket)
      .select("decoded", "chunk", "cval")

  /** Flag-aware star-keeper table — `(decoded, sig, corpus_id =
    * min doc_id)` per distinct signature within its flag space,
    * materialized at sign time next to [[flaggedOverCapChunks]]. */
  def flaggedSignatureKeepers(hashes: DataFrame): DataFrame =
    hashes.groupBy(col("decoded"), col("dhash").as("sig"))
      .agg(min(col("doc_id")).as("corpus_id"))

  /** Image near-dup pairs ACROSS a delivery and a stored dHash index
    * (p17b): `corpusHashes` is a persisted [[imageHashes]] table;
    * only the delivery's images are decoded. `overCapChunks` /
    * `starKeepers` serve the cap's bookkeeping from the index build
    * ([[flaggedOverCapChunks]] / [[flaggedSignatureKeepers]]) so a
    * delivery never aggregates the corpus; omitted, both are computed
    * in-query. Returns `(corpus_id, batch_id, hamming)`. */
  def imageNearDupPairsAcross(corpusHashes: DataFrame,
      delivery: Dataset[MediaRow], maxHamming: Int = 3,
      maxBucket: Long = 100000L,
      overCapChunks: Option[DataFrame] = None,
      starKeepers: Option[DataFrame] = None): DataFrame =
    flaggedNearDupPairsAcross(corpusHashes, imageHashes(delivery).toDF(),
      maxHamming, maxBucket, overCapChunks, starKeepers)

  /** Audio near-dup pairs ACROSS a delivery and a stored fingerprint
    * index (p18b): `corpusHashes` is a persisted [[audioHashes]]
    * table; the gain-invariant fingerprint pairs a re-normalized
    * re-delivery at Hamming 0 without re-decoding the corpus. Served
    * bookkeeping as in [[imageNearDupPairsAcross]]. */
  def audioNearDupPairsAcross(corpusHashes: DataFrame,
      delivery: Dataset[MediaRow], maxHamming: Int = 3,
      maxBucket: Long = 100000L,
      overCapChunks: Option[DataFrame] = None,
      starKeepers: Option[DataFrame] = None): DataFrame =
    flaggedNearDupPairsAcross(corpusHashes, audioHashes(delivery).toDF(),
      maxHamming, maxBucket, overCapChunks, starKeepers)

  /** Rescale every 16-bit PCM sample by `num/den` (clipped) — the
    * "re-normalized re-delivery" transform p18 uses to exercise the
    * fingerprint's gain invariance on realistic data. Non-WAV bytes
    * pass through unchanged. */
  private[graft] def scaleWavGain(content: Array[Byte], num: Int,
      den: Int): Array[Byte] =
    wavPcm(content) match {
      case Some((_, _, 16, dataOff, dataLen)) =>
        val out = content.clone()
        var i = 0
        while (i + 1 < dataLen) {
          val s = wavLe16(content, dataOff + i).toShort.toInt
          val v = math.max(-32768, math.min(32767, s * num / den))
          out(dataOff + i) = (v & 0xFF).toByte
          out(dataOff + i + 1) = ((v >> 8) & 0xFF).toByte
          i += 2
        }
        out
      case _ => content
    }

  /** Batched per-partition audio featurization over WAV binary rows;
    * non-WAV rows are dropped (a production pipeline routes them to the
    * codec that owns them). Same mapPartitions batch shape as
    * [[imageFeatures]].
    */
  def audioFeatures(media: Dataset[MediaRow], batchSize: Int = 32): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { m =>
          decodeWav(m.content).map { case (ch, rate, bits, nFrames, rms) =>
            AudioFeatures(m.doc_id, m.media_type, ch, rate, bits, nFrames,
              nFrames * 1000L / rate, rms)
          }
        }
      }
    }
  }

  /** Deterministic frame sampling stub for OPAQUE video binary columns
    * (containers without a pure-JVM codec, e.g. MP4/H.264): one "frame"
    * digest per `frameBytes` chunk, every `everyN`-th kept. Row-local
    * (explode), no shuffle. MJPEG-in-AVI has a REAL decode path —
    * [[videoFeatures]] — because both layers (RIFF container, JPEG
    * frames) ship with the JDK. */
  def sampleFrames(video: DataFrame, contentCol: String = "content",
      everyN: Int = 2, frameBytes: Int = 1024): DataFrame = {
    val nFrames = ceil(length(col(contentCol)) / frameBytes)
    video.withColumn("frame_idx",
        explode(sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(everyN))))
      .withColumn("frame_digest",
        xxhash64(col(contentCol), col("frame_idx")))
  }

  // ------------------------------------------------------- video decode

  /** Real AVI container parse: RIFF walk (same chunk grammar as
    * [[decodeWav]] — AVI is RIFF too) into `(width, height,
    * usPerFrame, frames)`, where `frames` are the raw `00dc`/`00db`
    * stream-0 payloads (JPEG images for an MJPEG AVI). Dimensions come
    * from the `avih` main header inside `LIST hdrl`; frame payloads
    * from `LIST movi`, including nested `LIST rec ` groupings. The
    * optional `idx1` index is deliberately ignored — the movi walk is
    * self-sufficient and index-less AVIs are legal. Returns None unless
    * the bytes are RIFF/`AVI ` with a well-formed header.
    */
  private[graft] def decodeAvi(content: Array[Byte]): Option[(Int, Int, Int, Vector[Array[Byte]])] = {
    def le16(o: Int): Int = (content(o) & 0xFF) | ((content(o + 1) & 0xFF) << 8)
    def le32(o: Int): Int = le16(o) | (le16(o + 2) << 16)
    def fourcc(o: Int): String =
      new String(content, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (content.length < 24) return None
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    var usPerFrame = 0; var width = 0; var height = 0
    val frames = Vector.newBuilder[Array[Byte]]
    def walk(start: Int, end: Int): Unit = {
      var off = start
      var ok = true
      while (ok && off + 8 <= end) {
        val id = fourcc(off)
        val len = le32(off + 4)
        if (len < 0) {
          // corrupt/malicious length field: a negative len would make the
          // word-aligned advance regress (or stall) and loop forever —
          // abandon this walk level instead of trusting it
          ok = false
        } else {
          val dataOff = off + 8
          val dataEnd = math.min(dataOff.toLong + len, end.toLong).toInt
          if (id == "LIST" && dataOff + 4 <= end) {
            val listType = fourcc(dataOff)
            if (listType == "hdrl" || listType == "movi" || listType == "rec ")
              walk(dataOff + 4, dataEnd)
          } else if (id == "avih" && dataOff + 40 <= end) {
            usPerFrame = le32(dataOff)
            width = le32(dataOff + 32)
            height = le32(dataOff + 36)
          } else if ((id == "00dc" || id == "00db") && dataEnd > dataOff) {
            frames += java.util.Arrays.copyOfRange(content, dataOff, dataEnd)
          }
          // chunks are word-aligned; advance in Long space so a huge len
          // saturates at `end` rather than overflowing Int into a
          // negative offset
          val next = dataOff.toLong + len + (len & 1)
          if (next <= off) ok = false
          else off = math.min(next, end.toLong).toInt
        }
      }
    }
    walk(12, content.length)
    if (width <= 0 || height <= 0) None
    else Some((width, height, usPerFrame, frames.result()))
  }

  /** Batched per-partition video featurization over MJPEG-in-AVI binary
    * rows: REAL two-layer decode — RIFF container walk
    * ([[decodeAvi]]) then ImageIO JPEG decode per sampled frame
    * ([[decodeImage]]) — emitting one row per kept frame with the same
    * 4x4 luma-grid embedding the image path produces. `everyN` is the
    * temporal sampling stride (decode cost scales with kept frames, not
    * container size, since skipped payloads are never JPEG-decoded).
    * Non-AVI rows are dropped; same mapPartitions batch shape as
    * [[imageFeatures]], so a production frame model slots in per batch.
    */
  def videoFeatures(media: Dataset[MediaRow], everyN: Int = 2,
      batchSize: Int = 32): Dataset[VideoFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { m =>
          decodeAvi(m.content).toSeq.flatMap { case (w, h, usPerFrame, frames) =>
            val durMs = frames.length.toLong * usPerFrame / 1000
            Range(0, frames.length, math.max(1, everyN)).flatMap { i =>
              decodeImage(frames(i)).map { case (_, _, _, emb) =>
                VideoFeatures(m.doc_id, m.media_type, w, h, frames.length,
                  durMs, i, emb)
              }
            }
          }
        }
      }
    }
  }

  // ------------------------------------------------- synthetic encoders

  /** Render text bytes into a REAL grayscale PNG (16px wide, one pixel
    * per byte, row-major). Deterministic: PNG encoding of a fixed
    * raster is byte-stable, and even if an encoder version changed the
    * compression, the DECODED pixels — what [[imageFeatures]] consumes —
    * cannot change. */
  private[graft] def textToPng(text: String): Array[Byte] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val w = 16
    val h = math.max(1, (bytes.length + w - 1) / w)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < w * h) {
      raster.setSample(i % w, i / w, 0, if (i < bytes.length) bytes(i) & 0xFF else 0)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Render text bytes into a REAL 16-bit PCM mono WAV (8 kHz, one
    * sample per byte, centered). */
  private[graft] def textToWav(text: String, rate: Int = 8000): Array[Byte] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val dataLen = bytes.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(dataLen)
    bytes.foreach(b => buf.putShort((((b & 0xFF) - 128) * 256).toShort))
    buf.array()
  }

  /** Wrap a text corpus as real PNG media rows (lets the full
    * encode→decode→featurize path run on the driver's synthetic tables
    * at any scale — p05 exercises the actual ImageIO codec, not the
    * stub). */
  def mediaFromDocuments(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .map { case (id, text, source) =>
        MediaRow(id, "image/png", textToPng(text), Map("source" -> source))
      }
  }

  /** Wrap a text corpus as real PCM WAV media rows (the audio analog of
    * [[mediaFromDocuments]]). */
  def wavFromDocuments(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .map { case (id, text, source) =>
        MediaRow(id, "audio/wav", textToWav(text), Map("source" -> source))
      }
  }

  /** Render text bytes into a REAL MJPEG-in-AVI container: each
    * `frameBytes` slice becomes one 8x8 grayscale frame (one pixel per
    * byte, row-major, zero-padded), JPEG-encoded via ImageIO and laid
    * into a minimal RIFF `AVI `/`hdrl`/`movi` structure that any AVI
    * reader (and [[decodeAvi]]) accepts. Empty text still yields one
    * black frame so every document produces at least one row
    * downstream. JPEG is lossy, so decoded pixels approximate the
    * input — the luma-grid features are stable for a fixed JDK encoder,
    * which is all the rows-only surface needs.
    */
  private[graft] def textToAvi(text: String, frameBytes: Int = 64,
      fps: Int = 4): Array[Byte] = {
    val w = 8; val h = 8
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val chunks: Seq[Array[Byte]] =
      if (bytes.isEmpty) Seq(Array.emptyByteArray)
      else bytes.grouped(frameBytes).toSeq
    val jpegs = chunks.map { c =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var i = 0
      while (i < w * h) {
        raster.setSample(i % w, i / w, 0, if (i < c.length) c(i) & 0xFF else 0)
        i += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    framesToAvi(jpegs, w, h, fps)
  }

  /** Re-containerize an AVI: same JPEG frame payloads, new frame rate —
    * the "same video re-muxed by a different exporter" transform p19
    * uses (byte-different file, identical frame content). Undecodable
    * containers pass through unchanged. */
  private[graft] def remuxAvi(content: Array[Byte], fps: Int): Array[Byte] =
    decodeAvi(content) match {
      case Some((w, h, _, frames)) => framesToAvi(frames, w, h, fps)
      case None => content
    }

  final case class VideoFrameHash(
      doc_id: Long,
      frame_idx: Int,
      fhash: Long,
      decoded: Boolean)

  /** Per-frame 64-bit perceptual hashes of a video corpus: AVI
    * container walk, then [[dHash64]] on each JPEG frame — the
    * signature table video near-dedup runs on. A container no codec
    * opens contributes ONE fallback row (frame_idx −1, content fold,
    * `decoded = false`) so exact byte-dups still pair. Row-local; only
    * (id, idx, 8-byte hash) rows leave the scan. */
  def videoFrameHashes(media: Dataset[MediaRow]): Dataset[VideoFrameHash] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      decodeAvi(m.content) match {
        case Some((_, _, _, frames)) if frames.nonEmpty =>
          frames.iterator.zipWithIndex.map { case (f, i) =>
            // per-frame decoded contract matches ImageHash: a frame
            // whose JPEG payload dHash64 cannot decode is flagged
            // false even when the container walked fine
            val hs = dHash64(f)
            VideoFrameHash(m.doc_id, i,
              hs.getOrElse {
                var g = 1125899906842597L
                f.foreach(b => g = g * 31 + b)
                g
              }, decoded = hs.isDefined)
          }.toSeq
        case _ =>
          var g = 1125899906842597L
          m.content.foreach(b => g = g * 31 + b)
          Seq(VideoFrameHash(m.doc_id, -1, g, decoded = false))
      }
    }
  }

  /** Video near-dup pairs by shared-frame-signature overlap: two videos
    * pair when at least `minShared` DISTINCT frame dHashes coincide —
    * re-muxed / re-timed / re-encoded copies share their frames even
    * when no container byte matches. The inverted-index self-join runs
    * on (8-byte hash, id) rows only; `maxDocFreq` prunes background
    * frames (intros, black frames) shared by more than that many
    * videos — the same stopword-gram discipline as
    * [[graft.operators.Dedup.ngramJaccardPairs]], and the guard against
    * the quadratic candidate blowup a ubiquitous frame causes.
    * Returns (doc_id_a, doc_id_b, shared_frames, frames_a, frames_b).
    */
  def videoNearDupPairs(media: Dataset[MediaRow], minShared: Int = 2,
      maxDocFreq: Long = 20L): DataFrame = {
    import org.apache.spark.sql.functions._
    // persisted: the size aggregate and the bucket kernel both read
    // this frame — re-executing the subtree would re-decode every
    // video
    val hashes = graft.CacheRegistry.persist(
      videoFrameHashes(media).toDF()
        .select(col("doc_id").as("id"), col("fhash")).distinct())
    val sizes = hashes.groupBy("id").agg(count(lit(1)).as("nf"))
    // ONE exchange on the frame hash into the bucket kernel: a
    // frame's bucket is read only up to maxDocFreq+1 videos (the df
    // prune), so a ubiquitous black frame never holds a corpus-scale
    // bucket. Frame counts ride with the ids, so the overlap filter
    // runs DIRECTLY on the pair aggregate — the coincidental
    // 1-shared-frame tail dies before any post-aggregation join.
    graft.operators.Dedup.cappedPairs(hashes.join(sizes, Seq("id")),
        Seq("fhash"), col("id"), col("nf"), maxDocFreq)
      .toDF("doc_id_a", "nfa", "doc_id_b", "nfb")
      .groupBy("doc_id_a", "doc_id_b")
      .agg(count(lit(1)).as("shared_frames"),
        first(col("nfa")).as("frames_a"), first(col("nfb")).as("frames_b"))
      // FULL overlap always pairs regardless of minShared: a pair of
      // single-frame videos — or of undecodable byte-dups, whose one
      // fallback row is their whole signature — shares everything it
      // has, and minShared exists to reject coincidental partial
      // matches, not exact duplicates
      .filter(col("shared_frames") >= minShared ||
        (col("shared_frames") === col("frames_a") &&
         col("shared_frames") === col("frames_b")))
      .select(col("doc_id_a"), col("doc_id_b"), col("shared_frames"),
        col("frames_a"), col("frames_b"))
  }

  /** The PERSISTABLE video near-dup index (p19b): one row per distinct
    * (doc, frame dHash) — [[videoNearDupPairs]]' inverted-index input.
    * Per-doc frame counts and per-frame doc frequencies derive from it
    * at SIGN time ([[videoFrameSizes]] / [[videoFrameDfs]]), so a
    * delivery never aggregates the corpus for them. */
  def videoFrameIndex(media: Dataset[MediaRow]): DataFrame =
    videoFrameHashes(media).toDF()
      .select(col("doc_id").as("id"), col("fhash")).distinct()

  /** Per-doc DISTINCT frame counts of a [[videoFrameIndex]] — the
    * `frames_a` side of the pair report, materialized at sign time. */
  def videoFrameSizes(frames: DataFrame): DataFrame =
    frames.groupBy("id").agg(count(lit(1)).as("nf"))

  /** Per-frame doc frequencies of a [[videoFrameIndex]] — the
    * background-frame prune's bookkeeping (df counts are ADDITIVE, so
    * a delivery adds its own counts to these instead of recounting the
    * corpus — the q117 gram-df discipline for frames). */
  def videoFrameDfs(frames: DataFrame): DataFrame =
    frames.groupBy("fhash").agg(count(lit(1)).as("df"))

  /** Delivery-time video near-dedup — [[videoNearDupPairs]]' ACROSS
    * form over a persisted [[videoFrameIndex]] (+ its sign-time sizes
    * and dfs): pairs BETWEEN a delivery and the stored corpus with
    * EXACTLY the self-form's union semantics — the prune threshold
    * applies to the UNION doc frequency (stored df + the delivery's
    * own), so a background frame that crosses `maxDocFreq` only when
    * the delivery lands is pruned here exactly as the batch operator
    * over the union would prune it. Only the delivery is decoded; the
    * stored tables are SCANNED (df lookup and candidate join both
    * semi-pruned by the broadcast delivery hash set, sizes joined
    * after the delivery-bounded pair aggregate), never re-paired or
    * broadcast. Returns (corpus_id, batch_id, shared_frames,
    * frames_a, frames_b) with the self-form's full-overlap exemption
    * (exact dups — including undecodable byte-dups whose one fallback
    * row is their whole signature — always pair). */
  def videoNearDupPairsAcross(corpusFrames: DataFrame,
      corpusSizes: DataFrame, corpusDfs: DataFrame,
      delivery: Dataset[MediaRow], minShared: Int = 2,
      maxDocFreq: Long = 20L): DataFrame =
    // the delivery's distinct (id, fhash) rows feed the df sum, the
    // candidate join and its own sizes — decode once, persist
    videoPairsFromIndexes(corpusFrames, corpusSizes, corpusDfs,
      graft.CacheRegistry.persist(videoFrameIndex(delivery)),
      minShared, maxDocFreq)

  /** [[videoNearDupPairsAcross]] on an ALREADY-DECODED delivery frame
    * index — the seam the streaming host rides (its batch index is
    * both operator input and state delta, so decoding must not happen
    * twice). `del` should be persisted by the caller. */
  private[graft] def videoPairsFromIndexes(corpusFrames: DataFrame,
      corpusSizes: DataFrame, corpusDfs: DataFrame, del: DataFrame,
      minShared: Int = 2, maxDocFreq: Long = 20L): DataFrame = {
    val delHashes = del.select("fhash").distinct()
    val delSizes = videoFrameSizes(del)
    // union df = stored df (semi-pruned scan — delivery-bounded rows
    // survive) + the delivery's own counts; rare = delivery hashes at
    // or under the threshold. Delivery-sized throughout.
    val rare = videoFrameDfs(del)
      .join(corpusDfs.join(broadcast(delHashes), Seq("fhash"), "left_semi")
          .withColumnRenamed("df", "df_stored"),
        Seq("fhash"), "left")
      .filter(col("df") + coalesce(col("df_stored"), lit(0L)) <= maxDocFreq)
      .select("fhash")
    val pairs = corpusFrames
      .join(broadcast(rare), Seq("fhash"), "left_semi")
      .withColumnRenamed("id", "corpus_id")
      .join(del.join(broadcast(rare), Seq("fhash"), "left_semi")
        .withColumnRenamed("id", "batch_id"), Seq("fhash"))
      .groupBy("corpus_id", "batch_id")
      .agg(count(lit(1)).as("shared_frames"))
    // sizes join AFTER the delivery-bounded aggregate: the pair side
    // broadcasts, the corpus-scale sizes table is scanned
    pairs
      .join(corpusSizes.withColumnRenamed("id", "corpus_id")
        .withColumnRenamed("nf", "frames_a"), Seq("corpus_id"))
      .join(broadcast(delSizes.withColumnRenamed("id", "batch_id")
        .withColumnRenamed("nf", "frames_b")), Seq("batch_id"))
      .filter(col("shared_frames") >= minShared ||
        (col("shared_frames") === col("frames_a") &&
         col("shared_frames") === col("frames_b")))
      .select(col("corpus_id"), col("batch_id"), col("shared_frames"),
        col("frames_a"), col("frames_b"))
  }

  // ------------------------------ video frame index (slotted state)

  /** Persisted video frame-hash index — the ELEVENTH
    * [[graft.state.SlotStore]] client (the q117b lifecycle for video
    * streams): deliveries land as self-committing `vid-delta-<slot>`
    * dirs, compactions as `vid-snap-<slot>`. Each part holds THREE
    * sub-tables: `frames/` (id, fhash — the delivery's surviving
    * frame index), `dfs/` (its [[videoFrameDfs]] — additive, served
    * KEY-PRUNED like the winnow postings dfs because the frame-hash
    * domain is unbounded) and `sizes/` (its [[videoFrameSizes]] — ids
    * unique across parts under first-arrival, so the flat union needs
    * no merge). `frames` should be persisted by the caller. */
  def saveVideoDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, frames: DataFrame, slot: Option[Long] = None,
      snapshot: Boolean = false): Unit = {
    val parts = vidIndexParts(spark, path)
    val next = slot.getOrElse(parts.map(_._2).foldLeft(-1L)(math.max) + 1)
    graft.state.SlotStore.requireNotSuperseded(parts, "vid-snap", next,
      "saveVideoDelta")
    val kind = if (snapshot) "snap" else "delta"
    graft.operators.Dedup.commitPart(spark, s"$path/vid-$kind-$next") {
      dir =>
        frames.write.mode("overwrite").parquet(s"$dir/frames")
        videoFrameDfs(frames).write.mode("overwrite").parquet(s"$dir/dfs")
        videoFrameSizes(frames).write.mode("overwrite")
          .parquet(s"$dir/sizes")
    }
  }

  private def vidIndexParts(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Long, String)] =
    graft.state.SlotStore.committedParts(spark, path,
      Seq("vid-delta", "vid-snap"))

  /** Committed slot numbers — the replay-skip set. */
  def committedVideoSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] =
    vidIndexParts(spark, path).map(_._2)

  /** LIVE slots (latest snapshot + later deltas). */
  def liveVideoSlots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Boolean)] =
    graft.state.SlotStore.liveParts(vidIndexParts(spark, path),
      "vid-delta", "vid-snap")
      .map(p => (p._2, p._1 == "vid-snap"))

  /** The frame index as ONE flat multi-path scan of the live parts'
    * `frames/` sub-tables. */
  def loadVideoIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(vidIndexParts(spark, path),
      "vid-delta", "vid-snap")
    require(parts.nonEmpty, s"no committed video parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/frames"))
  }

  /** Stored per-doc frame counts — flat union of the live `sizes/`
    * sub-tables (ids unique across parts under first-arrival). */
  def loadVideoSizes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(vidIndexParts(spark, path),
      "vid-delta", "vid-snap")
    require(parts.nonEmpty, s"no committed video parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/sizes"))
  }

  /** Stored frame dfs for exactly the given hash set — key-pruned
    * scan + sum of the live `dfs/` sub-tables (delivery-bounded: per
    * part at most one row per hash). */
  def loadVideoDfsFor(spark: org.apache.spark.sql.SparkSession,
      path: String, hashes: DataFrame): DataFrame = {
    val parts = graft.state.SlotStore.liveParts(vidIndexParts(spark, path),
      "vid-delta", "vid-snap")
    require(parts.nonEmpty, s"no committed video parts under $path")
    graft.state.SlotStore.readParts(spark, parts.map(p => s"${p._3}/dfs"))
      .join(broadcast(hashes.select("fhash").distinct()), Seq("fhash"),
        "left_semi")
      .groupBy("fhash").agg(sum(col("df")).as("df"))
  }

  /** Delete parts a snapshot superseded — housekeeping. */
  def sweepVideoIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    graft.state.SlotStore.sweepSuperseded(spark, path, "vid-delta",
      "vid-snap")

  /** Build an MJPEG-in-AVI container around existing JPEG frame
    * payloads — [[textToAvi]]'s tail, shared with [[remuxAvi]]. */
  private[graft] def framesToAvi(jpegs: Seq[Array[Byte]], w: Int, h: Int,
      fps: Int): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer
        .allocate(8 + payload.length + (payload.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(id.getBytes(ascii)).putInt(payload.length).put(payload)
      buf.array()
    }
    def list(listType: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(12 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("LIST".getBytes(ascii)).putInt(4 + payload.length)
        .put(listType.getBytes(ascii)).put(payload)
      buf.array()
    }
    // avih main header: usPerFrame, ..., totalFrames @16, width/height @32/36
    val avih = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avih.putInt(1000000 / fps).putInt(0).putInt(0).putInt(0)
      .putInt(jpegs.length).putInt(0).putInt(1).putInt(0)
      .putInt(w).putInt(h) // trailing reserved dwords stay zero
    // strh stream header: fccType vids, handler MJPG, scale/rate = 1/fps
    val strh = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strh.put("vids".getBytes(ascii)).put("MJPG".getBytes(ascii))
      .putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(1).putInt(fps).putInt(0).putInt(jpegs.length)
    // strf = BITMAPINFOHEADER with biCompression MJPG
    val strf = java.nio.ByteBuffer.allocate(40)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .put("MJPG".getBytes(ascii)).putInt(w * h * 3)
    val hdrl = list("hdrl", chunk("avih", avih.array()) ++
      list("strl", chunk("strh", strh.array()) ++ chunk("strf", strf.array())))
    val movi = list("movi", jpegs.toArray.flatMap(j => chunk("00dc", j)))
    val body = hdrl ++ movi
    val buf = java.nio.ByteBuffer.allocate(12 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes(ascii)).putInt(4 + body.length)
      .put("AVI ".getBytes(ascii)).put(body)
    buf.array()
  }

  /** Wrap a text corpus as real MJPEG-AVI media rows (the video analog
    * of [[mediaFromDocuments]] — p16 exercises the actual RIFF+JPEG
    * codecs, not the digest stub). */
  def aviFromDocuments(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .map { case (id, text, source) =>
        MediaRow(id, "video/avi", textToAvi(text), Map("source" -> source))
      }
  }
}
