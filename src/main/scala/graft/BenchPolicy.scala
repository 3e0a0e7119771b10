package graft

import scala.util.control.NonFatal

/** Pure decision logic for [[Bench]]: how a run is timed, how the
  * floor file is read, and when a window or a query counts as
  * contended. Kept out of the main so every rule is unit-testable.
  *
  * Two refusal layers, both driven by the committed per-query floor
  * file (bench-expect.json, quiet-window best-of-2 on this tree):
  *
  *   1. WINDOW refusal — while the floor-ratio MEDIAN across the
  *      suite exceeds [[WindowMedianMax]], the whole suite re-runs
  *      (the box is loaded; one quiet stretch fixes every min).
  *   2. PER-QUERY refusal — any query whose best-of-passes still
  *      exceeds [[SuspectRatio]] x its floor (with an absolute-excess
  *      guard so sub-second floors don't churn) gets individual
  *      re-runs, worst offender first. At 3x, per-query outliers of
  *      2.2-2.4x shipped silently inside a "quiet" capture; 2x
  *      matches the per-query gate envelope the bench is judged by.
  */
object BenchPolicy {

  /** Full-suite re-pass threshold on the floor-ratio median. */
  val WindowMedianMax = 1.2

  /** Per-query targeted re-run threshold (x floor). */
  val SuspectRatio = 2.0

  /** A suspect must also exceed its floor by this many SECONDS —
    * a 0.1 s floor at 2.5x is scheduler jitter, not a signal worth
    * burning re-run budget on.
    */
  val SuspectAbsExcess = 0.3

  /** A query whose successful runs spread by more than [[SpreadRatio]]
    * (max/min) AND [[SpreadAbsExcess]] seconds is reported contended;
    * the absolute floor keeps micro-query jitter from being flagged.
    */
  val SpreadRatio = 2.0
  val SpreadAbsExcess = 0.2

  /** Seconds taken by `body`, and whether it completed. A non-fatal
    * throw records a failed run: its (short) abort duration must never
    * win the min over a successful run's time. Fatal errors (OOM and
    * other VM errors) propagate — a broken JVM must not keep timing.
    */
  def timedRun(body: => Unit): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch { case NonFatal(_) => false }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  /** The floor file's `"query": seconds` entries. The file is a flat
    * JSON object of numbers, so a pair regex reads it completely.
    */
  def parseExpect(json: String): Map[String, Double] =
    """"([^"]+)"\s*:\s*([0-9.Ee+-]+)""".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** Per-query best/floor ratios, in `best`'s order, for the queries
    * that have a positive floor.
    */
  def floorRatios(best: Seq[(String, Double)], expect: Map[String, Double])
      : Seq[(String, Double)] =
    best.flatMap { case (n, t) =>
      expect.get(n).filter(_ > 0).map(e => n -> t / e)
    }

  /** Median of the per-query best/floor ratios; -1 when no query has
    * an applicable floor.
    */
  def ratioMedian(ratios: Seq[Double]): Double = {
    val s = ratios.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The artifact's "window" label: "contended" when the floors apply
    * and the final ratio median still exceeds [[WindowMedianMax]].
    */
  def window(expectApplicable: Boolean, ratioMedian: Double): String =
    if (expectApplicable && ratioMedian > WindowMedianMax) "contended"
    else "quiet"

  /** True iff a query's successful run times spread wide enough to
    * say the window, not the code, set its best time.
    */
  def spreadContended(good: Seq[Double]): Boolean =
    good.nonEmpty &&
      good.max / math.max(good.min, 1e-9) > SpreadRatio &&
      good.max - good.min > SpreadAbsExcess

  /** True iff this (best, floor) pair warrants a targeted re-run. */
  def isSuspect(best: Double, floor: Double): Boolean =
    floor > 0 && best / floor > SuspectRatio &&
      best - floor > SuspectAbsExcess

  /** Queries needing targeted re-runs, worst ratio first. `best` maps
    * each SUCCEEDED query to its best-of-passes seconds (failed
    * queries re-run through the failure path, not this one).
    */
  def suspects(best: Map[String, Double], expect: Map[String, Double])
      : Seq[String] =
    best.toSeq
      .flatMap { case (n, t) =>
        expect.get(n).filter(isSuspect(t, _)).map(f => (n, t / f))
      }
      .sortBy { case (n, r) => (-r, n) }
      .map(_._1)
}
