package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The HDR-histogram quantile sketch geometry — ONE definition shared
  * by the batch query (`Relational.q89`), the streaming twin
  * (`streaming.SketchStream`) and the specs, so the published decade
  * numbers and the streaming parity always describe the code that
  * runs.
  *
  * Geometry: positive longs bucket as (scale, mantissa) with
  * s = max(bitlen-1-6, 0) and m = n >> s — the value's top 7 bits,
  * i.e. 64 sub-buckets per octave, relative bucket width <= 1/64,
  * midpoint-estimate relative error <= 1/128. Every op is integer
  * bit arithmetic (bitlen via length(bin(n)), column shifts): no
  * libm anywhere, so Spark and a SQL oracle agree to the bit, and
  * bucket counts merge by ADDITION — partitioning-, replay-, and
  * streaming-safe.
  */
object QuantileSketch {

  /** Adds the bucket key columns `s` (int) and `m` (long) for the
    * positive long expression `n`.
    */
  private[graft] def withBuckets(df: DataFrame, n: Column): DataFrame = {
    val e = (length(bin(n)) - 1).cast("long")
    df.withColumn("s", greatest(e - 6, lit(0L)).cast("int"))
      .withColumn("m", call_function("shiftright", n, col("s")))
  }

  /** Batch bucket histogram: occupied (keys..., s, m) buckets with
    * counts — the sketch state. Map-only assignment; the agg's
    * partial phase collapses each partition to its occupied buckets
    * before the one exchange.
    */
  def bucketHistogram(df: DataFrame, value: Column,
      keys: Seq[String]): DataFrame =
    withBuckets(df, value)
      .groupBy(keys.map(col) :+ col("s") :+ col("m"): _*)
      .agg(count(lit(1)).as("c"))

  /** Percentile estimates from a bucket table (keys..., s, m, c):
    * order buckets by lower bound (disjoint ranges, so that IS the
    * value order), walk the cumulative counts to rank ceil(p*n) —
    * integer form (n*p+99) DIV 100 — and report the bucket midpoint.
    * Output: keys..., p, total, rank, est. The windows run over the
    * bounded bucket table, never over data rows.
    */
  def quantiles(buckets: DataFrame, keys: Seq[String],
      ps: Seq[Int]): DataFrame = {
    val k = keys.map(col)
    val wCum = Window.partitionBy(k: _*).orderBy(col("lo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(k: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    buckets
      .withColumn("lo", call_function("shiftleft", col("m"), col("s")))
      .withColumn("hi",
        call_function("shiftleft", col("m") + 1, col("s")) - 1)
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("total", sum(col("c")).over(wAll))
      .select(k :+ col("cum") :+ col("total") :+
        ((col("lo") + col("hi")).cast("long")).as("lohi") :+
        explode(array(ps.map(p => lit(p.toLong)): _*)).as("p"): _*)
      .withColumn("rank", expr("(total * p + 99) DIV 100"))
      .filter(col("cum") >= col("rank"))
      .groupBy(k :+ col("p") :+ col("total") :+ col("rank"): _*)
      .agg(min(expr("lohi DIV 2")).as("est"))
  }
}
