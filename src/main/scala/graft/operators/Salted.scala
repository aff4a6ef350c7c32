package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling patterns (SURVEY §4 / the 100 TB posture): salting splits a
  * hot key across `saltFactor` sub-keys so no single reducer owns it.
  *
  * AQE's skew-join splitting handles the *join* case at runtime; salting is
  * the plan-level tool for skewed **aggregations** (AQE does not split a
  * skewed groupBy key) and for engines/paths where AQE is off. The two-stage
  * shape below is semantics-preserving for any associative aggregate —
  * which is exactly why the gate query's oracle is the plain single-stage
  * GROUP BY.
  */
object Salted {

  /** Two-stage salted aggregation: stage 1 aggregates on (key, salt) —
    * spreading each key over `saltFactor` reducers — stage 2 merges the
    * partials per key. Aggregates must be given in partial/merge form:
    * each entry is (partialAgg, mergeAgg, outName). */
  def aggregate(
      df: DataFrame,
      key: Column,
      saltFactor: Int,
      aggs: Seq[(Column, String => Column, String)]): DataFrame = {

    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltFactor)))

    val partial = salted
      .groupBy(key.as("__key"), col("__salt"))
      .agg(aggs.head._1.as(s"__p_${aggs.head._3}"),
        aggs.tail.map(a => a._1.as(s"__p_${a._3}")): _*)

    partial
      .groupBy(col("__key"))
      .agg(aggs.head._2(s"__p_${aggs.head._3}").as(aggs.head._3),
        aggs.tail.map(a => a._2(s"__p_${a._3}").as(a._3)): _*)
  }
}
