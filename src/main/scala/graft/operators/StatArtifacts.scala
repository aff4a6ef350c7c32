package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared, build-once robust-statistics artifacts (round 15 — the
  * [[GraphArtifacts]] economics applied to the percentile family).
  *
  * Three gate queries (q_mad, q_robust_outliers, q_winsorize) each ran
  * the exact-DISC percentile machinery over the SAME (l_returnflag,
  * l_extendedprice) projection: q_mad and q_robust_outliers build the
  * identical median AND MAD threshold tables twice over, q_winsorize its
  * 5/95 cut points — ~2 s of duplicated rank-frame work per gate at
  * sf0.1, and at 100 TB three redundant corpus passes per robust-metrics
  * session. The thresholds are ≤|groups|-row model artifacts, exactly the
  * write-once dimension a production metrics job materializes alongside
  * the corpus; here they memoize per (application, corpus) as
  * checkpointed leaves.
  *
  * Semantics are IDENTICAL to the per-gate builds these replace — the
  * same [[Percentiles.exactDisc]] calls on the same projection; only the
  * redundant recomputation is gone. Memoization delegates to the unified
  * [[Artifacts.memo]] (keyed (applicationId, dir, kind), dead-app sweep).
  */
object StatArtifacts {

  private def memo(s: SparkSession, dir: String, kind: String)
      (build: => DataFrame): DataFrame =
    Artifacts.memo(s, dir, "stat:" + kind)(build)

  /** The shared (g, v) projection: returnflag, extendedprice. */
  def prices(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))

  /** (g, m): exact-DISC median price per return flag. */
  def priceMedians(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "price-med") {
      Percentiles.exactDisc(prices(s, dir), col("g"), col("v"),
          Seq((1, 2)), Seq("m"))
        .select(col("group").as("g"), col("m"))
        .localCheckpoint()
    }

  /** (g, mad): exact-DISC median absolute deviation from [[priceMedians]]
    * per return flag. */
  def priceMads(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "price-mad") {
      val dev = prices(s, dir)
        .join(broadcast(priceMedians(s, dir)), Seq("g"))
        .select(col("g"), abs(col("v") - col("m")).as("dv"))
      Percentiles.exactDisc(dev, col("g"), col("dv"), Seq((1, 2)), Seq("mad"))
        .select(col("group").as("g"), col("mad"))
        .localCheckpoint()
    }

  /** (g, lo_t, hi_t): exact-DISC 5th/95th percentile price per return
    * flag — the winsorization cut points. */
  def priceWinsorCuts(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "price-wins") {
      Percentiles.exactDisc(prices(s, dir), col("g"), col("v"),
          Seq((1, 20), (19, 20)), Seq("lo_t", "hi_t"))
        .select(col("group").as("g"), col("lo_t"), col("hi_t"))
        .localCheckpoint()
    }
}
