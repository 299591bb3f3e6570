package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join: for each left row, attach the most recent
  * right row with the same key and rightTs ≤ leftTs. The operator Spark
  * lacks natively (SURVEY.md §7.3 "as-of join → union+window trick").
  *
  * Implementation is the union+window formulation, chosen over a range
  * join for scale: both sides are tagged and unioned, shuffled ONCE by
  * key, sorted within each key partition by (time, side, tie-break), and
  * the right payload is carried forward with `last(_, ignoreNulls)` over
  * an unbounded-preceding frame. Cost is one shuffle + one sort —
  * exactly a sort-merge join's shape — versus the quadratic blowup of a
  * non-equi range join (BroadcastNestedLoop) on dense keys.
  *
  * Correctness notes:
  *  - the carried value is ONE STRUCT per right row (non-null even when
  *    every payload field is null), so genuinely-NULL payload values
  *    survive, fields of different right rows can never mix, and the
  *    inner-match filter tests "was there a right row at all";
  *  - NULL keys and NULL timestamps are dropped on both sides first,
  *    matching join-equality semantics (NULL never equals NULL) — the
  *    window partition would otherwise group NULL keys together;
  *  - right rows sort before left rows at equal timestamps (inclusive
  *    match), and `tieBreak` orders equal-timestamp right rows; provide
  *    a unique tie-break or project only columns functionally determined
  *    by (key, rightTs).
  */
object AsofJoin {

  /** @param tolerance optional maximum lookback as an interval literal
    *   (e.g. "7 days"): a right row only matches if
    *   `leftTs - tolerance <= rightTs <= leftTs` — pandas merge_asof's
    *   `tolerance`. Implemented as a filter on the carried right
    *   timestamp, so the plan shape (one shuffle + one sort) is
    *   unchanged; stale carries just fail the final predicate.
    * @param bucketSeconds optional hot-key skew mitigation: when set, the
    *   window partitions by (key, floor(ts / bucketSeconds)) instead of
    *   key alone, so a single hot key's rows spread across many reducers
    *   instead of serializing onto one. Rows whose bucket has no earlier
    *   right row take their match from a per-(key, bucket) carry-in table
    *   (one row per non-empty bucket — the last right row of each bucket,
    *   runningly carried forward by a window over buckets), joined back on
    *   (key, bucket). Extra cost: one narrow shuffle of the tiny bucket
    *   table + an equi-join that reuses the main side's (key, bucket)
    *   partitioning. Result rows are identical to the unbucketed form
    *   (AsofJoinSpec proves it; SCALE.md item 10 records the skew win
    *   on a 1M-row hot key). Pick a width that yields 100–10k buckets
    *   over the hot key's time span. */
  def asofJoin(
      left: DataFrame, leftTs: String, leftKey: String,
      right: DataFrame, rightTs: String, rightKey: String,
      payload: Seq[String], tieBreak: Seq[String] = Nil,
      tolerance: Option[String] = None,
      bucketSeconds: Option[Long] = None): DataFrame = {
    require(payload.nonEmpty, "asofJoin requires at least one payload column " +
      "(for existence-only semantics pass the right key or timestamp)")

    val (unioned, order, leftCols) = unionSides(
      left, leftTs, leftKey, right, rightTs, rightKey, payload, tieBreak)
    val filled = bucketSeconds match {
      case None =>
        val w = Window.partitionBy(col("__graft_k")).orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        unioned.withColumn("__graft_m",
          last(col("__graft_p"), ignoreNulls = true).over(w))
      case Some(width) =>
        require(width > 0, s"bucketSeconds must be positive, got $width")
        // equal timestamps land in the same bucket, so the inclusive
        // right-before-left tie rule is untouched by bucket boundaries
        val withBucket = unioned.withColumn("__graft_b",
          floor(col("__graft_t").cast("double") / width.toDouble).cast("long"))
        val w1 = Window.partitionBy(col("__graft_k"), col("__graft_b"))
          .orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val inBucket = withBucket.withColumn("__graft_m1",
          last(col("__graft_p"), ignoreNulls = true).over(w1))
        // Per-(key, bucket) last right row, then carried forward from
        // strictly earlier buckets. max_by's (t, tieBreak...) struct key
        // matches the window's ascending order (same unique-tie-break
        // contract as the object Scaladoc).
        val tbKey = struct(
          (col("__graft_t") +: tieBreak.map(c => col(s"__graft_tb_$c"))): _*)
        val bucketLast = withBucket.filter(col("__graft_side") === 0)
          .groupBy(col("__graft_k"), col("__graft_b"))
          .agg(max_by(col("__graft_p"), tbKey).as("__graft_bl"))
        val wCarry = Window.partitionBy(col("__graft_k"))
          .orderBy(col("__graft_b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val carryIn = withBucket.select(col("__graft_k"), col("__graft_b")).distinct()
          .join(bucketLast, Seq("__graft_k", "__graft_b"), "left")
          .withColumn("__graft_ci",
            last(col("__graft_bl"), ignoreNulls = true).over(wCarry))
          .select(col("__graft_k"), col("__graft_b"), col("__graft_ci"))
        inBucket.join(carryIn, Seq("__graft_k", "__graft_b"))
          .withColumn("__graft_m", coalesce(col("__graft_m1"), col("__graft_ci")))
    }
    // inner as-of semantics: left rows with no preceding right row drop;
    // the struct is non-null iff some right row preceded, regardless of
    // null payload field values
    val inTolerance = tolerance
      .map(t => col("__graft_m.__graft_rt") >= col("__graft_t") - expr(s"interval $t"))
      .getOrElse(lit(true))
    filled
      .filter(col("__graft_side") === 1 && col("__graft_m").isNotNull && inTolerance)
      .select(leftCols.map(col) ++
        payload.map(c => col(s"__graft_m.$c").as(s"asof_$c")): _*)
  }

  /** Tagged-union plumbing shared by [[asofJoin]] and [[asofNearest]]:
    * both sides filtered null-key/null-ts, the right payload packed into
    * one non-null struct (plus the right timestamp), left columns
    * null-padded onto the right side. Returns (unioned frame, window
    * order — (t, side, tieBreaks), the left's original columns). */
  private def unionSides(
      left: DataFrame, leftTs: String, leftKey: String,
      right: DataFrame, rightTs: String, rightKey: String,
      payload: Seq[String], tieBreak: Seq[String])
      : (DataFrame, Seq[Column], Seq[String]) = {
    val leftCols = left.columns.toSeq
    val sideL = left
      .filter(col(leftKey).isNotNull && col(leftTs).isNotNull)
      .withColumn("__graft_k", col(leftKey))
      .withColumn("__graft_t", col(leftTs))
      .withColumn("__graft_side", lit(1))
    val payloadStruct =
      struct(payload.map(col) :+ col(rightTs).as("__graft_rt"): _*)
    val sideR0 = right
      .filter(col(rightKey).isNotNull && col(rightTs).isNotNull)
      .select(
        (col(rightKey).as("__graft_k") +: col(rightTs).as("__graft_t") +:
          lit(0).as("__graft_side") +: payloadStruct.as("__graft_p") +:
          tieBreak.map(c => col(c).as(s"__graft_tb_$c"))): _*)
    val payloadType = sideR0.schema("__graft_p").dataType
    val withNullPayloadL = sideL.withColumn("__graft_p", lit(null).cast(payloadType))
    val withTbL = tieBreak.foldLeft(withNullPayloadL) { (df, c) =>
      df.withColumn(s"__graft_tb_$c", lit(null).cast(right.schema(c).dataType))
    }
    val withNullLeftR = leftCols.foldLeft(sideR0) { (df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val unioned = withTbL.unionByName(withNullLeftR.select(withTbL.columns.map(col): _*))
    val order: Seq[Column] =
      col("__graft_t") +: col("__graft_side") +: tieBreak.map(c => col(s"__graft_tb_$c"))
    (unioned, order, leftCols)
  }

  /** NEAREST-direction as-of join (pandas merge_asof
    * `direction='nearest'`): each left row takes the same-key right row
    * minimizing |leftTs − rightTs|, and BACKWARD WINS TIES — an
    * exact-timestamp match is a backward match at distance 0, and
    * equal-distance candidates on both sides resolve backward. Same
    * union+window machinery as [[asofJoin]] — one shuffle, one sort —
    * with the backward carry (`last` over unbounded-preceding) and the
    * forward carry (`first` over current-row→unbounded-following)
    * riding ONE WindowExec (same (partition, order) spec — the q69
    * single-operator rule; only the frames differ). Right rows sort
    * before left rows at equal timestamps, so exact matches land in the
    * backward frame and the forward frame holds strictly-later right
    * rows. Within an equal-timestamp right group the backward pick is
    * the LAST (t, tieBreak) row and the forward pick the FIRST — supply
    * a unique tie-break for determinism. Distances compare in integer
    * microseconds. Inner semantics: left rows whose key has no right
    * row at all drop. */
  def asofNearest(
      left: DataFrame, leftTs: String, leftKey: String,
      right: DataFrame, rightTs: String, rightKey: String,
      payload: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    require(payload.nonEmpty, "asofNearest requires at least one payload column")
    bothCarries(left, leftTs, leftKey, right, rightTs, rightKey,
      payload, tieBreak, "nearest") { (lt, bt, ft) =>
      when(col("__graft_mb").isNull, col("__graft_mf"))
        .when(col("__graft_mf").isNull, col("__graft_mb"))
        .when(lt - bt <= ft - lt, col("__graft_mb"))
        .otherwise(col("__graft_mf"))
    }
  }

  /** FORWARD-direction as-of join (pandas merge_asof
    * `direction='forward'`): each left row takes the FIRST same-key
    * right row with rightTs ≥ leftTs (inclusive). Exact-timestamp
    * matches resolve through the backward carry (right rows sort before
    * left at equal timestamps, so the forward frame holds only
    * strictly-later rows) — at equal timestamps the pick is the LAST
    * (t, tieBreak) right row of the group, strictly later it is the
    * FIRST; supply a unique tie-break for determinism. Same
    * one-WindowExec two-carry plan as [[asofNearest]]. */
  def asofForward(
      left: DataFrame, leftTs: String, leftKey: String,
      right: DataFrame, rightTs: String, rightKey: String,
      payload: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    require(payload.nonEmpty, "asofForward requires at least one payload column")
    bothCarries(left, leftTs, leftKey, right, rightTs, rightKey,
      payload, tieBreak, "fwd") { (lt, bt, ft) =>
      when(col("__graft_mb").isNotNull && bt === lt, col("__graft_mb"))
        .otherwise(col("__graft_mf"))
    }
  }

  /** The two-carry tail shared by [[asofNearest]] and [[asofForward]]:
    * backward and forward payload carries over one (partition, order)
    * spec — ONE WindowExec, frames differ — then `choose` picks the
    * match from (left, backward, forward) microsecond timestamps. */
  private def bothCarries(
      left: DataFrame, leftTs: String, leftKey: String,
      right: DataFrame, rightTs: String, rightKey: String,
      payload: Seq[String], tieBreak: Seq[String], prefix: String)(
      choose: (Column, Column, Column) => Column): DataFrame = {
    val (unioned, order, leftCols) = unionSides(
      left, leftTs, leftKey, right, rightTs, rightKey, payload, tieBreak)
    val spec = Window.partitionBy(col("__graft_k")).orderBy(order: _*)
    val wB = spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = spec.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = unioned
      .withColumn("__graft_mb", last(col("__graft_p"), ignoreNulls = true).over(wB))
      .withColumn("__graft_mf", first(col("__graft_p"), ignoreNulls = true).over(wF))
    def micros(c: Column): Column = unix_micros(c.cast("timestamp"))
    filled
      .filter(col("__graft_side") === 1)
      .withColumn("__graft_m", choose(micros(col("__graft_t")),
        micros(col("__graft_mb.__graft_rt")),
        micros(col("__graft_mf.__graft_rt"))))
      .filter(col("__graft_m").isNotNull)
      .select(leftCols.map(col) ++
        payload.map(c => col(s"__graft_m.$c").as(s"${prefix}_$c")): _*)
  }
}
