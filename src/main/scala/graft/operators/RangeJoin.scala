package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range (interval) join: match left rows whose `value` falls in a right
  * interval [lo, hi).
  *
  * The naive plan for `l JOIN r ON l.v >= r.lo AND l.v < r.hi` is a
  * broadcast-nested-loop (O(|L|·|R|)). This operator turns it into an
  * EQUI-join by bucketing: intervals are exploded to the fixed-width
  * buckets they cover, points map to their bucket, the join key is the
  * bucket id, and the residual range predicate filters the few candidates
  * sharing a bucket. Work becomes O(|L| + |R|·intervalWidth/bucket) with a
  * shuffle on the bucket id — the standard trick interval-join engines use
  * and the shape that survives scale.
  */
object RangeJoin {

  /** @param left      point side (column `valueCol`)
    * @param right     interval side (columns `loCol`, `hiCol`; hi exclusive)
    * @param bucketWidth bucket size in value units — pick ≈ median interval
    *                    width so each interval covers O(1) buckets
    */
  def bucketedRangeJoin(left: DataFrame, valueCol: String,
      right: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Double): DataFrame = {
    val lb = left.withColumn("__bkt", floor(col(valueCol) / bucketWidth).cast("long"))
    // Explode through floor(hi/width) inclusive: when hi sits exactly on a
    // bucket edge this adds one spurious candidate bucket, which the
    // residual v < hi filter discards — an epsilon-subtraction here would
    // instead DROP matches whenever hi lands within the epsilon above an
    // edge. Degenerate intervals (hi <= lo) are filtered out rather than
    // letting sequence() descend.
    val rb = right
      .filter(col(loCol) < col(hiCol))
      .withColumn("__bkt",
        explode(sequence(
          floor(col(loCol) / bucketWidth).cast("long"),
          floor(col(hiCol) / bucketWidth).cast("long"))))
    lb.join(rb, Seq("__bkt"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__bkt")
  }

  /** Time-interval join: each left row matched to right rows sharing `keys`
    * with `rightTs` in the inclusive window [`leftTs` - lookback, `leftTs`]
    * — the batch shape of a stream-stream interval join.
    *
    * Same bucketing trick as [[bucketedRangeJoin]], specialized to a
    * trailing window: bucket width = the lookback itself, so each left row
    * probes EXACTLY two buckets (its own and the previous — for any W,
    * ts-W lands in floor(ts/W)-1 or floor(ts/W)) while right rows key by
    * their own bucket once. The join is a pure equi-join on
    * (keys…, bucket) with the residual time predicate filtering the ≤2W
    * span of candidates — never a theta join, and the shuffle key includes
    * the time bucket, so hot keys spread across time instead of landing on
    * one reducer for the whole history.
    *
    * Bucket arithmetic runs on integer microseconds (`unix_micros`) —
    * dividing through double would corrupt µs at 1.7e18 (> 2^53). `DIV`
    * truncates toward zero rather than flooring, which only shifts bucket
    * boundaries in the pre-epoch range, identically on both sides; the
    * two-bucket probe still covers the window there (the truncation
    * "wide bucket" around 0 is probed via the same arithmetic on both
    * sides), and the residual predicate keeps semantics exact regardless.
    */
  def trailingWindowJoin(left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      keys: Seq[String], lookbackSec: Long): DataFrame = {
    require(lookbackSec > 0, "lookback must be positive")
    val w = lookbackSec * 1000000L
    val lb = left.withColumn("__bkt",
      explode(array(
        expr(s"unix_micros($leftTs) DIV $w - 1"),
        expr(s"unix_micros($leftTs) DIV $w"))))
    val rb = right.withColumn("__bkt", expr(s"unix_micros($rightTs) DIV $w"))
    lb.join(rb, keys :+ "__bkt")
      .filter(col(rightTs) <= col(leftTs) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookbackSec SECOND"))
      .drop("__bkt")
  }

  /** Forward twin of [[trailingWindowJoin]]: right rows with `rightTs` in
    * the EXCLUSIVE-start window (`leftTs`, `leftTs` + horizon] — the label
    * window of a point-in-time-correct training-example builder (outcomes
    * strictly AFTER the decision point; an inclusive start would leak the
    * triggering event into its own label). Same two-bucket probe, mirrored
    * forward: each left row probes its own and the NEXT bucket.
    */
  def leadingWindowJoin(left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      keys: Seq[String], horizonSec: Long): DataFrame = {
    require(horizonSec > 0, "horizon must be positive")
    val w = horizonSec * 1000000L
    val lb = left.withColumn("__bkt",
      explode(array(
        expr(s"unix_micros($leftTs) DIV $w"),
        expr(s"unix_micros($leftTs) DIV $w + 1"))))
    val rb = right.withColumn("__bkt", expr(s"unix_micros($rightTs) DIV $w"))
    lb.join(rb, keys :+ "__bkt")
      .filter(col(rightTs) > col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $horizonSec SECOND"))
      .drop("__bkt")
  }
}
