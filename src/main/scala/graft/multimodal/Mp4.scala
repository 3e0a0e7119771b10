package graft.multimodal

/** MP4 / ISO-BMFF container PROBE — the video half of multimodal
  * curation a data pipeline actually runs at scale: duration,
  * timescale, track count, and resolution come from the `moov` box
  * tree without touching a single coded frame, so length/resolution
  * filtering and sampling plans run as metadata passes. Pixel decode
  * stays the documented `fmt='gm'` fallback (no in-JDK video codec);
  * this probe shrinks the stub to exactly that.
  *
  * Box walk: every ISO-BMFF box is (u32 size, 4cc type, body);
  * containers (`moov`, `trak`) nest boxes in their body. The probe
  * walks PRE-ORDER, skipping unknown boxes by size, and reads
  * `ftyp` (major brand), `mvhd` v0 (timescale, duration), each
  * `trak`'s `tkhd` v0 (16.16 fixed-point width/height), and `mdat`
  * (payload length). `wsum_boxes` = Σ i·size(i) over the walk order
  * is the order-sensitive statistic: a traversal that visits the
  * right boxes in the wrong order (or mis-sizes one) hash-fails.
  *
  * Both encoder and decoder are hand-written here (the JDK ships no
  * BMFF parser), so the cross-check is the DuckDB oracle recomputing
  * every field AND the full walk-order size list closed-form from
  * doc_id — the q129/q133 posture. All arithmetic is integer
  * (duration_ms = duration·1000 div timescale).
  *
  * Reference posture: the reference (ngafid_cpat) has no media path;
  * §2.11 multimodal extension (SURVEY.md).
  */
object Mp4 {

  /** MP4 magic: box 1 is `ftyp` (size at 0, type at 4). */
  def sniff(b: Array[Byte]): Boolean =
    b.length >= 8 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
      b(7) == 'p'

  final case class Mp4Meta(media_id: Long, brand: String, timescale: Long,
      duration_ms: Long, n_tracks: Long, w0: Long, h0: Long,
      mdat_bytes: Long, n_boxes: Long, wsum_boxes: Long)

  private def u32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(Array(b(off), b(off + 1), b(off + 2), b(off + 3)),
      "ISO-8859-1")

  /** Probe a payload; None on malformation (bad sizes, truncated
    * boxes, missing ftyp/moov/mvhd). `mediaId` is threaded through so
    * the typed row is complete.
    */
  def probe(mediaId: Long, b: Array[Byte]): Option[Mp4Meta] = {
    if (!sniff(b)) return None
    var brand: String = null
    var timescale = -1L
    var duration = -1L
    var mdat = -1L
    var nTracks = 0L
    var w0 = -1L
    var h0 = -1L
    var nBoxes = 0L
    var wsum = 0L
    // pre-order walk; `end` bounds the current container's body.
    // `depth` is explicit because `end == b.length` does NOT imply
    // top level: a nested scope ends at the file end whenever its
    // container is the last top-level box (moov-last layouts), and
    // size==0 must still be rejected there.
    def walk(start: Int, end: Int, depth: Int): Boolean = {
      var off = start
      while (off < end) {
        if (off + 8 > end) return false
        val size32 = u32(b, off)
        val typ = fourcc(b, off + 4)
        // ISO-BMFF special sizes (14496-12 §4.2): size==1 means a
        // 64-bit largesize follows the type (large mdat); size==0
        // means the box extends to the end of the FILE — §4.2 allows
        // it only for the last TOP-LEVEL box, so it is rejected at
        // any depth > 0: a corrupt mid-scope zero size would
        // otherwise silently swallow its sibling boxes as body
        // (skipping later trak/mvhd, undercounting nTracks) instead
        // of failing the probe. At top level the computed size runs
        // to EOF, which IS the last-box semantics.
        var hdr = 8L
        val size: Long =
          if (size32 == 1L) {
            if (off + 16 > end) return false
            hdr = 16L
            ((u32(b, off + 8) << 32) | u32(b, off + 12))
          } else if (size32 == 0L) {
            if (depth > 0) return false
            (end - off).toLong
          } else size32
        if (size < hdr || off + size > end) return false
        wsum += nBoxes * size
        nBoxes += 1
        val body = (off + hdr).toInt
        typ match {
          case "ftyp" =>
            if (size < hdr + 4) return false
            brand = fourcc(b, body)
          case "moov" | "trak" =>
            if (typ == "trak") nTracks += 1
            if (!walk(body, (off + size).toInt, depth + 1)) return false
          case "mvhd" =>
            // v0: version+flags 4, ctime 4, mtime 4 -> timescale @12
            if (size < hdr + 100 || b(body) != 0) return false
            timescale = u32(b, body + 12)
            duration = u32(b, body + 16)
          case "tkhd" =>
            // v0 body: ... width 16.16 @76, height @80
            if (size < hdr + 84 || b(body) != 0) return false
            if (w0 < 0) { w0 = u32(b, body + 76) >> 16
              h0 = u32(b, body + 80) >> 16 }
          case "mdat" =>
            mdat = size - hdr
          case _ => () // skip unknown boxes by size
        }
        off += size.toInt
      }
      true
    }
    if (!walk(0, b.length, 0)) return None
    if (brand == null || timescale <= 0 || duration < 0) return None
    Some(Mp4Meta(mediaId, brand, timescale,
      duration * 1000L / timescale, nTracks, math.max(w0, 0L),
      math.max(h0, 0L), math.max(mdat, 0L), nBoxes, wsum))
  }

  /** Hand-written minimal-but-valid BMFF layout: ftyp + moov(mvhd +
    * n·trak(tkhd)) + mdat. Track k gets width/height from `trackDims`.
    */
  def encode(brand: String, timescale: Long, duration: Long,
      trackDims: Seq[(Int, Int)], mdatLen: Int): Array[Byte] = {
    require(brand.length == 4, s"brand must be a 4cc: '$brand'")
    val moovSize = 8 + 108 + trackDims.size * 100
    val total = 24 + moovSize + 8 + mdatLen
    val out = new Array[Byte](total)
    var off = 0
    def p32(v: Long): Unit = {
      out(off) = ((v >> 24) & 0xff).toByte
      out(off + 1) = ((v >> 16) & 0xff).toByte
      out(off + 2) = ((v >> 8) & 0xff).toByte
      out(off + 3) = (v & 0xff).toByte
      off += 4
    }
    def cc(s: String): Unit = {
      (0 until 4).foreach(i => out(off + i) = s.charAt(i).toByte)
      off += 4
    }
    // ftyp: size 24 = header 8 + brand 4 + minor 4 + 2 compat brands 8
    p32(24); cc("ftyp"); cc(brand); p32(0x200)
    cc("isom"); cc("mp41")
    // moov
    p32(moovSize); cc("moov")
    // mvhd v0: 8 + 100
    p32(108); cc("mvhd"); p32(0) // version 0 + flags
    p32(0); p32(0) // ctime, mtime
    p32(timescale); p32(duration)
    p32(0x10000) // rate 1.0
    p32(0x01000000) // volume 1.0 + reserved
    p32(0); p32(0) // reserved
    Seq(0x10000L, 0L, 0L, 0L, 0x10000L, 0L, 0L, 0L, 0x40000000L)
      .foreach(p32) // unity matrix
    (1 to 6).foreach(_ => p32(0)) // pre_defined
    p32(trackDims.size + 1L) // next_track_id
    trackDims.zipWithIndex.foreach { case ((w, h), k) =>
      p32(100); cc("trak")
      p32(92); cc("tkhd"); p32(0) // v0 + flags
      p32(0); p32(0) // ctime, mtime
      p32(k + 1L) // track_id
      p32(0) // reserved
      p32(duration)
      p32(0); p32(0) // reserved
      p32(0) // layer + alternate_group
      p32(0) // volume + reserved
      Seq(0x10000L, 0L, 0L, 0L, 0x10000L, 0L, 0L, 0L, 0x40000000L)
        .foreach(p32)
      p32(w.toLong << 16); p32(h.toLong << 16)
    }
    // mdat (deterministic body bytes; the probe reads only the size)
    p32(8L + mdatLen); cc("mdat")
    var i = 0
    while (i < mdatLen) { out(off + i) = (i % 251).toByte; i += 1 }
    out
  }
}
