package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal lookup) join: for each left row, attach the latest right
  * row whose time is ≤ the left row's time, within the same key.
  *
  * No reference instance (SURVEY §2.3 J5 declares it as engine surface); the
  * composition follows the classic sort-based merge-as-of design used by
  * time-series engines, expressed with Spark built-ins:
  *
  *  1. tag both inputs with a side marker and union them on (key, time),
  *  2. one shuffle on the key, sort within partition by
  *     (time, side, tie-break) — right rows sort *before* left rows at equal
  *     time, making the join boundary inclusive,
  *  3. running `last(payload, ignoreNulls)` window carries the most recent
  *     right payload forward onto each left row,
  *  4. keep left rows only.
  *
  * Scale posture: cost is one shuffle + per-partition sort over |L|+|R| rows
  * — the same class as a sort-merge join, with **no** intermediate
  * left×right explosion (a naive `join + row_number` materializes every
  * qualifying pair first). Hot keys are a window-skew concern: pre-split by
  * time-bucketing the key if one key dominates.
  */
object AsOfJoin {

  /** @param rightPayload columns of `right` to carry onto matches (others dropped)
    * @param rightTieBreak unique right column ordering ties at equal time —
    *        backward takes the max, forward the min; deterministic either way
    * @param forward false (default): latest right row with time ≤ left time
    *        (lookup "as of"); true: earliest right row with time ≥ left time
    *        (the "next event" join) — same single shuffle + sort, with the
    *        window frame and the side ordering at equal time mirrored. */
  def apply(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      leftTime: Column,
      rightTime: Column,
      rightPayload: Seq[String],
      rightTieBreak: Column,
      forward: Boolean = false): DataFrame = {

    val payload = struct(rightPayload.map(right(_)): _*)
    val payloadType = right.select(payload).schema.head.dataType
    // keep the tie-break's own (orderable) type — a cast to long would
    // silently null out string keys and reintroduce nondeterminism
    val tieBreakType = right.select(rightTieBreak).schema.head.dataType

    val leftCols = left.columns.toSeq
    val rTagged = right.select(
      rightKey.as("_k"), rightTime.as("_t"), lit(0).as("_side"),
      rightTieBreak.as("_tb"), payload.as("_payload"))
    val lTagged = left.select(
      (Seq(leftKey.as("_k"), leftTime.as("_t"), lit(1).as("_side"),
        lit(null).cast(tieBreakType).as("_tb"),
        lit(null).cast(payloadType).as("_payload")) ++
        leftCols.map(left(_))): _*)

    val unioned = rTagged
      .select((rTagged.columns.toSeq.map(col) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
      .unionByName(lTagged)

    // Both directions run the O(n) incremental [unboundedPreceding,
    // currentRow] frame + last(): forward simply reverses the time and
    // tie-break sort, so "earliest right at-or-after" becomes "nearest
    // preceding right row" of the reversed ordering. (A literal
    // (currentRow, unboundedFollowing) + first() frame has the same
    // semantics but Spark re-evaluates shrinking frames from scratch per
    // row — O(rows-per-key²) on hot keys.) Right rows sort before left
    // rows at equal time either way, keeping the boundary inclusive; the
    // reversed _tb makes last() pick the min right key forward (max
    // backward), deterministic in both directions.
    val ordered = Window.partitionBy(col("_k")).orderBy(
      (if (forward) col("_t").desc else col("_t").asc),
      col("_side"),
      (if (forward) col("_tb").desc else col("_tb").asc))
    val framed = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    unioned
      .withColumn("_match",
        last(col("_payload"), ignoreNulls = true).over(framed))
      .filter(col("_side") === 1)
      .select(leftCols.map(col) :+ col("_match"): _*)
  }
}
