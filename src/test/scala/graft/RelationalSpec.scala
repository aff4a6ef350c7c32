package graft

import org.apache.spark.sql.Row

class RelationalSpec extends SparkSpec {

  test("driver smoke contract: entry(spark) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows on sf0.001") {
    // read off the one gate pass (GateSweep): one collect per gate; a gate
    // that throws is reported with the rest instead of aborting the test
    val violations = GateSweep.report(GateSweep.Rows)
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("every query with an oracle has matching column names") {
    // The driver sorts columns by name before hashing; a misnamed alias is
    // an automatic mismatch. Cheap structural guard: oracle keys ⊆ queries.
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet.diff(qs)
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
    // a typo'd oracle key silently downgrades the query to a rows-only
    // check — every query now carries an oracle (the former four
    // engine-specific ones emit exact values + in-envelope booleans the
    // oracle pins to `true`), so the rows-only set must stay EMPTY
    val rowsOnly = qs.diff(SparkEntry.oracleSql.keySet)
    assert(rowsOnly.isEmpty,
      s"unexpected rows-only queries (oracle missing?): $rowsOnly")
  }

  test("approx sketch queries report every group inside the envelope") {
    // the gate oracle pins these booleans to `true`; assert locally too so
    // a sketch regression fails fast in `sbt test`, not only at gate time
    Seq("q_approx_quantile", "q_approx_distinct").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, sf).collect()
      assert(rows.nonEmpty, s"$q returned no rows")
      rows.foreach { r =>
        assert(r.getBoolean(2), s"$q out of envelope: $r")
      }
    }
  }

  test("q1_agg aggregates are stable across repartitioning") {
    // Decimal-routed sums must not depend on partitioning (Parity.dsum).
    val a = SparkEntry.queries("q1_agg")(spark, sf).collect()
    val li = graft.sources.Tables.load(spark, sf, "lineitem").repartition(13)
    li.createOrReplaceTempView("lineitem_r13")
    val b = SparkEntry.queries("q1_agg")(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("q_topk returns exactly 10 rows in order") {
    val rows: Array[Row] = SparkEntry.queries("q_topk")(spark, sf).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getDouble(2))
    assert(prices.sameElements(prices.sortBy(-(_: Double))))
  }
}
