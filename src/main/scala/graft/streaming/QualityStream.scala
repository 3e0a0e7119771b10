package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming compression-quality monitor — the streaming twin of the
  * q132 batch signal (`TextQueries.q132`): per (window, source)
  * counts of documents whose DEFLATE ratio flags them repetitive.
  *
  * Why this shape streams: the flag is map-only per document (the
  * codegen'd `deflate_len` native — document bytes never enter
  * state), and the monitored quantity is (window, source ->
  * n, n_flagged), counts that ADD — associative, commutative,
  * replay-idempotent — so the monitor is a plain watermarked window
  * groupBy with state bounded by |sources| per open window (the
  * SkewStream decomposition). The RATE and the alert threshold are
  * finisher work over source-cardinality-sized rows, never the
  * document stream.
  *
  * Production use: a crawl source flipping to boilerplate (listing
  * pages, error templates, nav spam) shows up as its repetitive rate
  * crossing the alert line WHILE it happens — the standing-dashboard
  * form of the batch curation signal, same flag definition
  * (`raw_len >= 3 * deflate_len`, q132's threshold) so batch and
  * stream never disagree on what "repetitive" means.
  */
object QualityStream {

  /** q132's flag, BY REFERENCE: the one definition lives in
    * [[graft.text.TextOps.repetitiveFlag]] (UTF-8 bytes >= 3x the
    * DEFLATE length) and both the batch signal and this monitor call
    * it — a re-spelled predicate here already diverged once (chars vs
    * bytes: a CJK document flags differently under the two).
    */
  def repetitiveFlag(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.text.TextOps.repetitiveFlag(text)

  /** Streaming per-(window, source) totals and repetitive counts:
    * tumbling `windowLen` windows over `tsCol`, watermarked. The
    * deflate runs in the scan projection of each micro-batch; each
    * batch shuffles one partial-count row per (window, source, task).
    */
  def repetitiveCounts(docs: DataFrame, tsCol: String,
      sourceCol: String, textCol: String,
      windowLen: String = "1 hour", watermark: String = "2 hours")
      : DataFrame = {
    docs.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen),
        col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n"),
        count(when(repetitiveFlag(col(textCol)), 1)).as("n_rep"))
  }

  /** Batch finisher: per-(window, source) repetitive rate (integer
    * e6, divide-first) and the alert flag. Runs on
    * source-cardinality-sized count rows.
    */
  def rateReadout(counts: DataFrame,
      alertRateE6: Long = 500000L): DataFrame =
    counts.select(col("window"), col("source"), col("n"), col("n_rep"),
        expr("n_rep * 1000000L div n").as("rate_e6"))
      .withColumn("alert",
        (col("rate_e6") >= alertRateE6).cast("int"))
      .orderBy(col("window"), col("source"))
}
