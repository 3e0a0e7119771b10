package graft.multimodal

/** Perceptual image hashing — dHash (difference hash), the
  * LAION-style image near-dup primitive: downscale the gray raster to
  * a 9x8 grid of box averages, then emit one bit per horizontal
  * gradient (bit set iff cell > right neighbor), 8 bits x 8 rows = 64
  * bits. Robust to uniform brightness shifts (gradients are
  * order-preserved under +c) and to small local edits (each cell
  * averages a pixel box, and one changed cell flips at most 2 bits) —
  * exactly the invariances image dedup needs, where exact byte/digest
  * dedup (q30's posture) sees nothing.
  *
  * The hash is returned as FOUR 16-bit limbs (limb l = bits
  * 16l..16l+15, bit b = cy*8+cx with cy = b/8, cx = b%8): the same
  * limb layout the 64-bit text SimHash (q49) bands on, so the banded
  * Hamming self-join downstream reuses the identical bucketing
  * machinery — and every engine-visible integer stays within 16 bits,
  * dodging BIGINT sign traps in both Spark and the DuckDB oracle.
  *
  * Box binning is the standard integer grid map: pixel x lands in
  * cell floor(x*9/w) (resp. floor(y*8/h)), and the gradient compare
  * is EXACT cross-multiplication of (sum, count) pairs — no floats
  * anywhere, so the oracle replays the hash bit-for-bit. For rasters
  * whose dimensions are multiples of the grid (the planted 36x16
  * fixtures: 4x2 boxes), every box has equal count and the compare
  * degenerates to sum > sum.
  *
  * Reference posture: the reference (ngafid_cpat) has no media path;
  * this is §2.11 multimodal x dedup (SURVEY.md).
  */
object Phash {

  /** dHash grid: 9 columns of box averages -> 8 horizontal gradients
    * per row, 8 rows.
    */
  val GridW = 9
  val GridH = 8

  /** 64-bit dHash over a gray raster accessor (`gray(i)` = row-major
    * top-down pixel i, 0..255), as 4 16-bit limbs. None when the
    * raster is smaller than the grid (no box may be empty) or exceeds
    * the [[Codecs.MaxStatPixels]] walk bound.
    */
  def dhashLimbs(w: Int, h: Int, gray: Int => Int): Option[Array[Int]] = {
    if (w < GridW || h < GridH) return None
    if (w.toLong * h > Codecs.MaxStatPixels) return None
    val sums = new Array[Long](GridW * GridH)
    val cnts = new Array[Long](GridW * GridH)
    var y = 0
    while (y < h) {
      val cy = (y.toLong * GridH / h).toInt
      val rowBase = cy * GridW
      var x = 0
      while (x < w) {
        val c = rowBase + (x.toLong * GridW / w).toInt
        sums(c) += gray(y * w + x)
        cnts(c) += 1
        x += 1
      }
      y += 1
    }
    val limbs = new Array[Int](4)
    var b = 0
    while (b < 64) {
      val c = (b / 8) * GridW + (b % 8)
      // avg(c) > avg(c+1)  <=>  sums(c)·cnts(c+1) > sums(c+1)·cnts(c)
      // (counts are positive; products bounded by 255·MaxStatPixels²
      // per box pair — boxes hold at most ~pixels/72 each, far inside
      // Long)
      if (sums(c) * cnts(c + 1) > sums(c + 1) * cnts(c))
        limbs(b / 16) |= 1 << (b % 16)
      b += 1
    }
    Some(limbs)
  }

  /** dHash of a binary PGM payload — header parse shared with
    * [[Codecs.decodePgm]], pixels walked in place (never
    * re-materialized, per the family's compact-rows-out posture).
    */
  def dhashPgm(b: Array[Byte]): Option[Array[Int]] =
    Codecs.pgmHeader(b).flatMap { case (w, h, raster) =>
      dhashLimbs(w, h, i => b(raster + i) & 0xff)
    }

  /** Hamming distance between two limb quadruples (spec/tool
    * convenience; the query path computes it as codegen'd
    * bit_count(xor) columns).
    */
  def hamming(a: Array[Int], b: Array[Int]): Int = {
    var d = 0
    var l = 0
    while (l < 4) { d += Integer.bitCount(a(l) ^ b(l)); l += 1 }
    d
  }
}
