package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** One decoded media row produced by the batched decoder. Top-level
  * (not nested/private) so the Dataset encoder's codegen can reach it.
  */
case class DecodedMedia(media_id: Long, kind: Long, width: Long,
    height: Long, n_frames: Long, body_bytes: Long, luma_e4: Long)

/** One REAL-decode summary row ([[BatchedDecode.decodeStats]]): a
  * unified per-format reduction — `fmt` names the decoder that
  * claimed the payload, (w, h) are pixels for images and
  * (sample_rate, 1) for audio, `n_units` counts pixels / samples /
  * fallback body bytes, sum/min/max reduce the decoded values
  * (gray levels; abs-sum and raw extremes for audio), and `wsum_val`
  * is the ORDER-SENSITIVE Σ i * value(i) — the statistic that fails
  * when a decoder recovers the right multiset of values in the wrong
  * positions (bottom-up BMP rows read top-down, a permuting PNG
  * filter bug). 0 for the gm fallback (its body decode is the md5
  * stand-in; there is no value sequence to weight).
  */
case class DecodedStats(media_id: Long, fmt: String, w: Long, h: Long,
    n_units: Long, sum_val: Long, min_val: Long, max_val: Long,
    wsum_val: Long)

/** One perceptual-hash row ([[BatchedDecode.decodeDHash]]): the
  * 64-bit dHash as four 16-bit limbs — [[graft.multimodal.Phash]]'s
  * limb layout, which is also the SimHash banding layout the
  * near-dup join buckets on.
  */
case class DHashRow(media_id: Long, l0: Int, l1: Int, l2: Int, l3: Int)

/** The batched decode path — the Spark-side plumbing a real codec
  * needs, as a typed `mapPartitions` (the JVM analogue of PySpark's
  * `mapInPandas`): payloads stream through each partition in
  * fixed-size batches, one codec handle per batch, never a
  * driver-side collect and never a shuffle of the binary column (the
  * operator is narrow, so nothing exchanges).
  *
  * [[MultimodalOps]] parses headers with codegen'd Column
  * expressions — right for metadata probes. Pixel/sample decode can't
  * stay in codegen: real codecs are native libraries invoked per
  * BUFFER, so the boundary must hand them batches of byte arrays.
  * This file makes that boundary real (batch assembly, header
  * validation on raw bytes, per-batch handle reuse, typed output
  * schema); only the innermost "pixels -> luminance" step is the
  * deterministic ===STUB=== a real decoder replaces.
  */
object BatchedDecode {

  import MultimodalOps.HeaderBytes

  /** Batch size for the decode worker. Real codecs amortize per-call
    * init (JNI crossing, decoder state, GPU transfer) over the batch;
    * 64 payloads of ~1 KB keeps a batch comfortably in L2 while big
    * (multi-MB) media would still be bounded at 64 x payload size.
    */
  val DefaultBatch = 64

  /** Big-endian uint16 at byte offset `off`. */
  private def u16(b: Array[Byte], off: Int): Long =
    (((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)).toLong

  /** The GM container's faked body decode (===STUB===, see
    * [[decodeBatch]]): (first 15 md5 hex digits of the body) % 10000.
    * ONE definition shared by the q59 and q129 paths — the stub
    * formula and the header layout must never diverge between them.
    */
  private def gmLuma(codec: java.security.MessageDigest,
      payload: Array[Byte]): Long = {
    val body = java.util.Arrays.copyOfRange(
      payload, HeaderBytes, payload.length)
    val hex = codec.digest(body).map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16) % 10000
  }

  /** Decode one batch with an already-opened codec handle. Payloads
    * failing the magic check are dropped (a production pipeline would
    * route them to a quarantine sink instead).
    *
    * ===STUB=== the "decode pixels, average luminance" step is faked
    * as (first 15 md5 hex digits of the body) % 10000 — deterministic
    * and portable, so the DuckDB oracle verifies every byte of the
    * surrounding plumbing (header parse, body slicing, batch
    * assembly) end-to-end.
    */
  private def decodeBatch(codec: java.security.MessageDigest,
      batch: Seq[(Long, Array[Byte])]): Iterator[DecodedMedia] = {
    batch.iterator.flatMap { case (id, payload) =>
      if (payload.length < HeaderBytes ||
          payload(0) != 'G' || payload(1) != 'M') Iterator.empty
      else {
        Iterator.single(DecodedMedia(
          media_id = id,
          kind = u16(payload, 2),
          width = u16(payload, 4),
          height = u16(payload, 6),
          n_frames = u16(payload, 8),
          body_bytes = (payload.length - HeaderBytes).toLong,
          luma_e4 = gmLuma(codec, payload)))
      }
    }
  }

  /** Run the batched decoder over a media table (`media_id`,
    * `payload`). Narrow: no shuffle, payloads never leave their input
    * partition, output is the compact typed row.
    *
    * `newCodec` is THE decoder plug-in seam: it is invoked exactly
    * once per batch on the executor and the handle is reused across
    * the batch's items — precisely how a JNI/ffmpeg/imageio context
    * amortizes its open cost (BatchedDecodeSpec counts the calls
    * through an injected probe). The default handle is the md5
    * stand-in behind the ===STUB=== above; a real decoder swaps the
    * factory (and the body of decodeBatch's luminance step) without
    * touching the batching, schema, or partitioning.
    */
  def decodeBatched(media: DataFrame, batchSize: Int = DefaultBatch,
      newCodec: () => java.security.MessageDigest =
        () => java.security.MessageDigest.getInstance("MD5"))
      : Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(
        _.grouped(batchSize).flatMap(b => decodeBatch(newCodec(), b)))
  }

  /** Decode one batch by CONTENT SNIFFING — the real-decoder path.
    * Magic bytes pick the decoder: "P5" -> [[Codecs.decodePgm]]
    * (gray raster math, real), "RIFF" -> [[Codecs.decodeWav]]
    * (PCM16 sample math, real), the 0x89"PNG" signature ->
    * [[Codecs.decodePng]] (CRC'd chunk walk + JDK-zlib inflate +
    * filter reconstruction, real), "BM" -> [[Codecs.decodeBmp]]
    * (BGR/bottom-up/padded-row raster math, real), FF D8 FF ->
    * [[Jpeg.decodeWith]] (the JDK's bundled libjpeg behind ImageIO —
    * Huffman + dequant + IDCT, real, through the reusable per-batch
    * `jpeg` reader handle), "GM" -> the synthetic container, whose
    * body decode remains the md5 stand-in (the documented fallback
    * for formats with no in-sandbox codec — e.g. video — labeled in
    * the output as fmt 'gm'). Unclaimed or malformed payloads are
    * dropped (quarantine sink in production). Both handles are opened
    * once per batch, exactly like `decodeBatch`'s codec — the seam
    * the spec counts.
    */
  private def decodeStatsBatch(fallback: java.security.MessageDigest,
      jpeg: Jpeg.Handle, audio: Audio.Handle, gif: Gif.Handle,
      batch: Seq[(Long, Array[Byte])]): Iterator[DecodedStats] = {
    batch.iterator.flatMap { case (id, p) =>
      if (Gif.sniff(p))
        // GIF via the JDK's bundled ImageIO reader (real LZW +
        // palette mapping, one reader handle per batch)
        Gif.decodeWith(gif, p).map(s => DecodedStats(id, "gif",
          s.width.toLong, s.height.toLong, s.width.toLong * s.height,
          s.sum, s.min.toLong, s.max.toLong, s.wsum)).iterator
      else if (Audio.sniffAiff(p) || Audio.sniffAu(p))
        // AIFF / AU via the JDK's bundled javax.sound readers (one
        // provider-registry scan per batch through the handle)
        Audio.decodeWith(audio, p).map(s => DecodedStats(id,
          if (Audio.sniffAiff(p)) "aif" else "au",
          s.sampleRate.toLong, 1L, s.nSamples.toLong,
          s.sumAbs, s.min.toLong, s.max.toLong, s.wsum)).iterator
      else if (Jpeg.sniff(p))
        Jpeg.decodeWith(jpeg, p).map(s => DecodedStats(id, "jpg",
          s.width.toLong, s.height.toLong, s.width.toLong * s.height,
          s.sum, s.min.toLong, s.max.toLong, s.wsum)).iterator
      else if (p.length >= 2 && p(0) == 'P' && p(1) == '5')
        Codecs.decodePgm(p).map(s => DecodedStats(id, "pgm",
          s.width.toLong, s.height.toLong, s.width.toLong * s.height,
          s.sum, s.min.toLong, s.max.toLong, s.wsum)).iterator
      else if (p.length >= 4 && p(0) == 0x89.toByte && p(1) == 'P' &&
          p(2) == 'N' && p(3) == 'G')
        Codecs.decodePng(p).map(s => DecodedStats(id, "png",
          s.width.toLong, s.height.toLong, s.width.toLong * s.height,
          s.sum, s.min.toLong, s.max.toLong, s.wsum)).iterator
      else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M')
        Codecs.decodeBmp(p).map(s => DecodedStats(id, "bmp",
          s.width.toLong, s.height.toLong, s.width.toLong * s.height,
          s.sum, s.min.toLong, s.max.toLong, s.wsum)).iterator
      else if (p.length >= 4 && p(0) == 'R' && p(1) == 'I' &&
          p(2) == 'F' && p(3) == 'F')
        Codecs.decodeWav(p).map(s => DecodedStats(id, "wav",
          s.sampleRate.toLong, 1L, s.nSamples.toLong,
          s.sumAbs, s.min.toLong, s.max.toLong, s.wsum)).iterator
      else if (p.length >= HeaderBytes && p(0) == 'G' && p(1) == 'M')
        Iterator.single(DecodedStats(id, "gm",
          u16(p, 4), u16(p, 6), (p.length - HeaderBytes).toLong,
          gmLuma(fallback, p), 0L, 0L, 0L))
      else Iterator.empty
    }
  }

  /** The real batched decoder: [[decodeStatsBatch]] over the same
    * batch machinery as [[decodeBatched]] (one fallback digest + one
    * JPEG reader handle per batch, narrow, payloads never shuffled,
    * compact typed output). Each batch is reduced EAGERLY so the JPEG
    * reader — which wraps a native decoder — is disposed as soon as
    * its batch is done rather than leaking until GC; a 64-item batch
    * of stats rows is a few KB, so eagerness costs nothing.
    */
  def decodeStats(media: DataFrame, batchSize: Int = DefaultBatch,
      newCodec: () => java.security.MessageDigest =
        () => java.security.MessageDigest.getInstance("MD5"))
      : Dataset[DecodedStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(batchSize).flatMap { b =>
        val jpeg = new Jpeg.Handle
        val audio = new Audio.Handle
        val gif = new Gif.Handle
        try decodeStatsBatch(newCodec(), jpeg, audio, gif, b).toVector
        finally { jpeg.close(); audio.close(); gif.close() }
      })
  }

  /** Batched perceptual hashing — the decode stage of the image
    * near-dup family (q140/q141): content-sniffed real decode (PGM
    * walked in place, JPEG through the reusable per-batch ImageIO
    * handle) straight to [[graft.multimodal.Phash]]'s 64-bit dHash,
    * emitted as four 16-bit limbs. Unclaimed/malformed payloads drop
    * (quarantine sink in production). Same posture as the stats
    * family: narrow, payloads never shuffled, one handle per batch,
    * compact typed rows out — the raster never leaves the worker.
    */
  def decodeDHash(media: DataFrame, batchSize: Int = DefaultBatch)
      : Dataset[DHashRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(batchSize).flatMap { b =>
        val jpeg = new Jpeg.Handle
        try b.iterator.flatMap { case (id, p) =>
          val limbs =
            if (Jpeg.sniff(p)) Jpeg.dhashWith(jpeg, p)
            else if (p.length >= 2 && p(0) == 'P' && p(1) == '5')
              Phash.dhashPgm(p)
            else None
          limbs.map(l => DHashRow(id, l(0), l(1), l(2), l(3))).iterator
        }.toVector
        finally jpeg.close()
      })
  }
}
