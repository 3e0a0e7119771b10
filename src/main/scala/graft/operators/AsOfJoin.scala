package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal) join: every left row picks up the payload of the
  * LATEST right row with the same key whose time is <= the left row's
  * time — the standard enrichment shape for "state as of this event"
  * (latest config change, latest quote before a trade, latest
  * threshold revision before a flight).
  *
  * Spark has no native as-of operator; the scalable composition is
  * NOT a join at all but tag-union + running window:
  *
  *   1. union the two sides, right rows tagged 0 / left rows tagged 1;
  *   2. one hash shuffle on the key, sort within partitions by
  *      (time, tag, payload);
  *   3. running `last(payload, ignoreNulls)` over the sorted stream —
  *      every left row reads the most recent right payload at or
  *      before its time;
  *   4. keep the left rows.
  *
  * 100 TB posture: exactly ONE shuffle of left+right (no join, no
  * broadcast, no per-row probing); the window is a single sorted scan
  * per key group. Skew is bounded by the hottest key's row count —
  * the same bound a sorted merge as-of join would have. This beats
  * the non-equi-join formulation (`left JOIN right ON key AND r.time
  * <= l.time` + argmax), which Spark can only plan as a broadcast
  * nested loop or a cross-product-per-key.
  */
object AsOfJoin {

  /** Left rows enriched with struct column `out` = the payload of the
    * latest right row (same `key`, `right.time <= left.time`), or NULL
    * if no such row. Both inputs must carry `key` and `time` columns
    * (same names); `payload` names right-side columns.
    *
    * Tie rule: a right row AT the left row's exact time is visible
    * (<=, right-before-left at equal time); among right rows tied on
    * (key, time) the one with the greatest payload struct wins — pass
    * a unique leading payload column (an id) for determinism.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: Seq[String],
      time: String, payload: Seq[String], out: String = "asof"): DataFrame = {
    // loud, not corrupting: a left column named `out` would be fused
    // with the right payloads by the running last() below
    require(!left.columns.contains(out) && !left.columns.contains("__side"),
      s"left input must not already contain a '$out' or '__side' column")
    val rightU = right
      // SQL as-of semantics: a NULL right time satisfies no `<= t`
      // predicate — drop such rows rather than letting nulls-first
      // ordering make their payload visible to every left row
      .filter(col(time).isNotNull)
      .select(key.map(col) ++ Seq(col(time),
        struct(payload.map(col): _*).as(out)): _*)
      .withColumn("__side", lit(0))
    val u = left.withColumn("__side", lit(1))
      .unionByName(rightU, allowMissingColumns = true)
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(time).asc, col("__side").asc, col(out).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn(out, last(col(out), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side")
  }

  /** FORWARD as-of: every left row picks up the payload of the
    * EARLIEST right row with the same key whose time is >= the left
    * row's time — "next action after this event" (next maintenance
    * after a fault, next fill after an order, next calibration after
    * a flight). Same non-join single-shuffle composition as
    * [[asofJoin]], mirrored: the running window looks FORWARD
    * (`first(payload)` over [current row, unbounded following]), with
    * right rows sorted after left rows at equal time so a right row
    * AT the left row's exact time is visible (>=). Among right rows
    * tied on (key, time) the LEAST payload struct wins — pass a
    * unique leading payload column (an id) for determinism.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: Seq[String],
      time: String, payload: Seq[String],
      out: String = "asof_next"): DataFrame = {
    require(!left.columns.contains(out) && !left.columns.contains("__side"),
      s"left input must not already contain a '$out' or '__side' column")
    val rightU = right
      .filter(col(time).isNotNull)
      .select(key.map(col) ++ Seq(col(time),
        struct(payload.map(col): _*).as(out)): _*)
      .withColumn("__side", lit(0))
    val u = left.withColumn("__side", lit(1))
      .unionByName(rightU, allowMissingColumns = true)
    // side DESC: at equal time the left row (1) precedes the right
    // rows (0), so the forward frame starting at the left row sees
    // the equal-time mark
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(time).asc, col("__side").desc, col(out).asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    u.withColumn(out, first(col(out), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side")
  }

  /** Skew-hardened [[asofJoin]] — identical semantics for workloads
    * where one key's row count dwarfs the rest (the plain form's
    * per-partition bound is the hottest key's TOTAL row count, the
    * same bound a sorted merge as-of has). Left rows are split across
    * `salts` sub-groups by a deterministic hash of the whole row;
    * right rows are REPLICATED into every sub-group, so each
    * (key, salt) window carries all boundary state of its key and
    * every left row resolves locally — one shuffle, zero joins, no
    * cross-salt resolve pass. Costs and bounds:
    *
    *   - right side travels `salts` times through the exchange — in
    *     enrichment workloads right (config changes, quotes,
    *     thresholds) is orders of magnitude smaller than left, which
    *     is exactly when this trades well;
    *   - per-partition sort bound drops from `left_k + right_k` to
    *     `left_k / salts + right_k` for the hottest key k;
    *   - pick `salts` ~ the hot key's left count over the average
    *     partition budget; salts=1 degenerates to [[asofJoin]]'s
    *     exact plan shape.
    *
    * Left columns must be hashable by `xxhash64` (no map columns) —
    * any salt assignment is semantically correct, the hash only fixes
    * determinism across runs.
    */
  def asofJoinSalted(left: DataFrame, right: DataFrame, key: Seq[String],
      time: String, payload: Seq[String], salts: Int,
      out: String = "asof"): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    require(!left.columns.contains(out) && !left.columns.contains("__side") &&
      !left.columns.contains("__salt"),
      s"left input must not already contain a '$out', '__side' or '__salt' column")
    val rightU = right
      .filter(col(time).isNotNull)
      .select(key.map(col) ++ Seq(col(time),
        struct(payload.map(col): _*).as(out)): _*)
      .withColumn("__side", lit(0))
      // every sub-group sees the full right history of its key
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    val leftU = left.withColumn("__side", lit(1))
      .withColumn("__salt",
        pmod(xxhash64(left.columns.map(col): _*), lit(salts.toLong)).cast("int"))
      .unionByName(rightU, allowMissingColumns = true)
    val w = Window.partitionBy((key.map(col) :+ col("__salt")): _*)
      .orderBy(col(time).asc, col("__side").asc, col(out).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    leftU.withColumn(out, last(col(out), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__salt")
  }

  /** Profile-driven [[asofJoinSalted]] — q139's measure-then-salt
    * posture applied to the as-of family, with the fan-out AND the
    * hot set coming from a [[Skew.SkewProfile]] instead of a
    * caller-chosen constant. Only measured-HOT keys fan out: cold
    * keys keep one sub-group, so the right side's replication applies
    * to the hot keys' history only (|hotRight|·salts extra exchange
    * rows, not |right|·salts — the [[Skew.saltedJoinFor]] bound, here
    * without any join at all). An empty hot set or salts == 1 returns
    * the PLAIN [[asofJoin]]: measurement said salting buys nothing,
    * so the plan shouldn't pay the salt column either. Results are
    * identical to the plain form in every case (AsOfJoinSpec proves
    * it on the 90%-hot-key distribution).
    *
    * Single-column key, castable to long (the profile's hot-key
    * `isin` literal — [[Skew.saltedJoinFor]]'s requirement).
    */
  def asofJoinSaltedFor(profile: Skew.SkewProfile, left: DataFrame,
      right: DataFrame, key: String, time: String, payload: Seq[String],
      out: String = "asof"): DataFrame = {
    if (profile.hotKeys.isEmpty || profile.salts <= 1)
      return asofJoin(left, right, Seq(key), time, payload, out)
    require(!left.columns.contains(out) && !left.columns.contains("__side") &&
      !left.columns.contains("__salt"),
      s"left input must not already contain a '$out', '__side' or '__salt' column")
    val salts = profile.salts
    val isHot = col(key).isin(profile.hotKeys: _*)
    val rightU = right
      .filter(col(time).isNotNull)
      .select(col(key), col(time), struct(payload.map(col): _*).as(out))
      .withColumn("__side", lit(0))
      // hot keys: full right history into every sub-group; cold keys:
      // the single sub-group 0
      .withColumn("__salt",
        explode(when(isHot, sequence(lit(0), lit(salts - 1)))
          .otherwise(sequence(lit(0), lit(0)))))
    val leftU = left.withColumn("__side", lit(1))
      .withColumn("__salt",
        when(isHot,
          pmod(xxhash64(left.columns.map(col): _*), lit(salts.toLong))
            .cast("int"))
          .otherwise(lit(0)))
      .unionByName(rightU, allowMissingColumns = true)
    val w = Window.partitionBy(col(key), col("__salt"))
      .orderBy(col(time).asc, col("__side").asc, col(out).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    leftU.withColumn(out, last(col(out), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__salt")
  }

  /** The composed measure-then-salt as-of: scout the LEFT side's key
    * distribution ([[Skew.measureSkew]] — one map-side-combined
    * aggregate), then run the as-of with exactly the fan-out the
    * measurement derived, instead of a hand-picked salt count.
    */
  def asofJoinMeasured(left: DataFrame, right: DataFrame, key: String,
      time: String, payload: Seq[String], out: String = "asof",
      hotRatioX1000: Long = 5000, maxSalts: Int = 64): DataFrame = {
    val profile = Skew.measureSkew(left, key, hotRatioX1000,
      maxSalts = maxSalts)
    asofJoinSaltedFor(profile, left, right, key, time, payload, out)
  }

  /** [[asofJoin]] with a maximum lookback: a right row older than
    * `left.time - tolerance` does NOT match (the standard bounded
    * as-of — a quote from last week shouldn't enrich today's trade).
    * `time` must be a numeric column (e.g. the raw-nanosecond
    * convention); `tolerance` is in the same units, inclusive
    * (`right.time >= left.time - tolerance` matches).
    *
    * Same single-shuffle plan: the right time rides inside the payload
    * struct through the running window, and staleness is a post-window
    * projection — no extra exchange, no join. The matched right time
    * survives as `out.<time>` (callers usually want the match's age).
    */
  def asofJoinTolerance(left: DataFrame, right: DataFrame,
      key: Seq[String], time: String, payload: Seq[String],
      tolerance: Long, out: String = "asof"): DataFrame = {
    require(!payload.contains(time),
      s"payload must not name the time column '$time' (it is added)")
    val enriched = asofJoin(left, right, key, time, payload :+ time, out)
    // tolerance check against the time the window carried along; the
    // payload-struct tie rule is unchanged because the appended time
    // field only orders rows already tied on every payload column
    enriched.withColumn(out,
      when(col(s"$out.$time") >= col(time) - lit(tolerance), col(out)))
  }
}
