package graft

import org.apache.spark.sql.functions._
import graft.operators.Percentiles

/** The distributed sort-based exact percentile must return the built-in
  * `percentile` aggregate's values exactly — same interpolation formula,
  * same group set (including all-null groups), different plan
  * (value-bucketed parallel sort + rank picks instead of one all-values
  * aggregation buffer per group).
  */
class PercentilesSpec extends SparkSpec {
  import spark.implicits._

  private def builtinVsDistributed(df: org.apache.spark.sql.DataFrame,
      g: String, v: String, ps: Seq[Double]): Unit = {
    val names = ps.indices.map(i => s"p$i")
    def read(r: org.apache.spark.sql.Row) = r.get(0) ->
      names.indices.map(i =>
        if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1))).toVector
    val fast = Percentiles.exactInterpolated(df, col(g), col(v), ps, names)
      .collect().map(read).toMap
    val aggExprs = ps.zip(names).map { case (p, n) =>
      expr(s"percentile($v, $p)").as(n) }
    val builtin = df.groupBy(col(g)).agg(aggExprs.head, aggExprs.tail: _*)
      .collect().map(read).toMap
    assert(fast.keySet == builtin.keySet,
      s"group sets differ: ${fast.keySet} vs ${builtin.keySet}")
    builtin.foreach { case (key, exp) =>
      val got = fast(key)
      exp.indices.foreach { i =>
        (exp(i), got(i)) match {
          case (None, None) =>
          case (Some(e), Some(a)) =>
            assert(math.abs(a - e) < 1e-9,
              s"group $key p=${ps(i)}: distributed $a vs builtin $e")
          case other =>
            fail(s"group $key p=${ps(i)}: null mismatch $other")
        }
      }
    }
  }

  test("distributed exact percentiles ≡ built-in percentile on the corpus") {
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    builtinVsDistributed(li, "l_returnflag", "l_extendedprice",
      Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0))
  }

  test("edges: single-value, all-tied, all-null groups, nulls ignored, " +
      "NULL group key") {
    val df = Seq[(String, java.lang.Double)](
      ("one", 42.0),
      ("tied", 7.0), ("tied", 7.0), ("tied", 7.0),
      ("two", 1.0), ("two", 2.0),
      ("withnull", 5.0), ("withnull", null), ("withnull", 15.0),
      ("allnull", null), ("allnull", null),
      // a NULL group KEY is a group of its own (built-in semantics); both
      // internal joins must be null-safe or its percentiles silently vanish
      (null, 10.0), (null, 20.0), (null, null))
      .toDF("g", "v")
    builtinVsDistributed(df, "g", "v", Seq(0.0, 0.5, 1.0))
  }

  test("exactDisc ≡ built-in percentile_disc: value at rank ⌈p·n⌉, " +
      "including edge groups") {
    val df = Seq[(String, java.lang.Double)](
      ("one", 42.0),
      ("tied", 7.0), ("tied", 7.0), ("tied", 7.0),
      ("two", 1.0), ("two", 2.0),
      ("withnull", 5.0), ("withnull", null), ("withnull", 15.0),
      ("allnull", null), ("allnull", null),
      (null, 10.0), (null, 20.0), (null, null))
      .toDF("g", "v")
      .union(graft.sources.Tables.load(spark, sf, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice")))
    val ratios = Seq((1, 20), (1, 2), (19, 20), (1, 1))
    val names = ratios.map { case (n, d) => s"d${n}_$d" }
    def read(r: org.apache.spark.sql.Row) = r.get(0) ->
      names.indices.map(i =>
        if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1))).toVector
    val fast = Percentiles.exactDisc(df, col("g"), col("v"), ratios, names)
      .collect().map(read).toMap
    val aggExprs = ratios.zip(names).map { case ((n, d), nm) =>
      expr(s"percentile_disc(${n.toDouble / d}) WITHIN GROUP (ORDER BY v)")
        .as(nm) }
    val builtin = df.groupBy(col("g")).agg(aggExprs.head, aggExprs.tail: _*)
      .collect().map(read).toMap
    assert(fast.keySet == builtin.keySet)
    builtin.foreach { case (key, exp) =>
      assert(fast(key) == exp, s"group $key: disc ${fast(key)} vs $exp")
    }
  }

  test("eager variant: same rows, and the input checkpoint is released " +
      "after the action") {
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val ps = Seq(0.25, 0.5, 0.75)
    val names = Seq("p25", "p50", "p75")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val eager = Percentiles.exactInterpolatedEager(li, col("l_returnflag"),
      col("l_extendedprice"), ps, names)
    val newIds = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    // only the (one row per group) RESULT checkpoint may remain pinned —
    // the (group, value) input copy must be unpersisted before return
    val resultId = eager.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    assert(newIds == Set(resultId),
      s"expected only the result checkpoint $resultId pinned, got $newIds")
    val lazyRows = Percentiles.exactInterpolated(li, col("l_returnflag"),
        col("l_extendedprice"), ps, names)
      .collect().map(r => r.getString(0) ->
        (1 to 3).map(r.getDouble).toVector).toMap
    val eagerRows = eager.collect().map(r => r.getString(0) ->
      (1 to 3).map(r.getDouble).toVector).toMap
    assert(eagerRows == lazyRows)
  }

  test("the sort is value-bucketed, not one task per group") {
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val p = Percentiles.exactInterpolated(li, col("l_returnflag"),
        col("l_extendedprice"), Seq(0.5), Seq("p50"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the rank window partitions by (group, bucket) — buckets come from
    // the data, never from spark_partition_id over a re-materializable
    // exchange (census and ranks must agree without relying on reuse)
    val windowed = p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("__g") && l.contains("__b"))
    assert(windowed, s"expected a (group, bucket)-partitioned sort:\n$p")
    assert(!p.contains("SPARK_PARTITION_ID"),
      "bucketing must not depend on physical partition ids")
  }
}
