package graft

import org.apache.spark.sql.functions._

/** Semantics for the round-12 robust-trend/anomaly tranche
  * ([[graft.queries.StatOps8]]): scalar brute-force replays of the
  * Theil-Sen pairwise-slope median (explicit O(span²) pair walk), the
  * Grubbs cells (direct max-deviation scan with the lexical tie rule),
  * and the runs count (direct sign walk) — each independent of the
  * distributed census/fold plans, plus statistic-level sanity bands.
  */
class StatOps8Spec extends SparkSpec {
  import spark.implicits._

  private def daily(): Array[(Long, Long)] =
    graft.sources.Tables.load(spark, sf, "lineitem")
      .select(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
        .as("day"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
      .as[(Long, Long)].collect().sortBy(_._1)

  private def lowerMedian(xs: collection.Seq[Long]): Long = {
    val s = xs.sorted
    s(((s.length + 1) / 2) - 1)
  }

  test("q_theil_sen equals the explicit pairwise-slope walk over the " +
      "365-day window and the slope agrees in sign with Mann-Kendall") {
    val all = daily()
    val d = all.filter(_._1 > all.map(_._1).max - 365)
    val slopes = for {
      i <- d.indices; j <- d.indices if d(j)._1 > d(i)._1
    } yield (BigInt(1000000) * (d(j)._2 - d(i)._2) /
      (d(j)._1 - d(i)._1)).toLong // positive denom: / == trunc here
    val slope = lowerMedian(slopes)
    val icepts = d.map { case (day, c) =>
      (BigInt(c) * 1000000 - BigInt(slope) * day).toLong }
    val row = SparkEntry.queries("q_theil_sen")(spark, sf).collect().head
    assert(row.getAs[Long]("n_days") == d.length.toLong)
    assert(row.getAs[Long]("n_pairs") ==
      (d.length.toLong * (d.length - 1)) / 2)
    // published cells are milli-cents (div 10³ trunc-toward-zero; the
    // sf1 probe caught intercept_micro at 0.94·2⁵³) — medians inside
    // the gate still select on full micro resolution
    assert(row.getAs[Long]("slope_milli") == slope / 1000)
    assert(row.getAs[Long]("intercept_milli") == lowerMedian(icepts) / 1000)
    // Mann-Kendall agreement: sign(slope) == sign(S) when |S| is clear
    val sgn = (for {
      i <- d.indices; j <- d.indices if j > i
    } yield math.signum((d(j)._2 - d(i)._2).toDouble)).sum
    if (math.abs(sgn) > d.length)
      assert(math.signum(slope.toDouble) == math.signum(sgn))
  }

  test("q_theil_sen slope truncation: BigInt / matches trunc-toward-zero " +
      "for the negative slopes the fixture contains") {
    val all = daily()
    val d = all.filter(_._1 > all.map(_._1).max - 365)
    val deltas = for {
      i <- d.indices; j <- d.indices if d(j)._1 > d(i)._1
    } yield (d(j)._2 - d(i)._2, d(j)._1 - d(i)._1)
    // the replay above used BigInt./ which truncates toward zero like
    // Spark div and DuckDB // — pin that the fixture exercises BOTH signs
    assert(deltas.exists(_._1 < 0) && deltas.exists(_._1 > 0))
  }

  test("q_grubbs equals the direct max-deviation scan (lexical tie rule) " +
      "and G sits in the sane band for a bounded fixture") {
    val xs = graft.sources.Tables.load(spark, sf, "orders")
      .select((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as[Long].collect()
    val n = xs.length
    val s = xs.map(BigInt(_)).sum
    val ssw = xs.map(x => BigInt(x) * x).sum - s * s / n
    val s2 = ssw / (n - 1)
    val keyed = xs.map(x => ((BigInt(x) * n - s).abs, x))
    val (maxdev, outlier) = keyed.max
    val row = SparkEntry.queries("q_grubbs")(spark, sf).collect().head
    assert(row.getAs[Long]("n_orders") == n.toLong)
    assert(row.getAs[Long]("outlier_cents") == outlier)
    assert(BigInt(row.getAs[Long]("dev_micro")) == BigInt(1000000) * maxdev / n)
    assert(BigInt(row.getAs[Long]("s2_c2")) == s2)
    val g = row.getAs[Double]("g")
    assert(math.abs(g - (BigInt(1000000) * maxdev / n).toDouble / 1e6 /
      math.sqrt(s2.toDouble)) < 1e-6)
    // a bounded uniform-ish price distribution: the extreme sits a few
    // sigmas out but never at the heavy-tail extremes (G < sqrt(n))
    assert(g > 1.0 && g * g < n)
  }

  test("q_runs_test equals the direct above/below-median walk and z sits " +
      "in the N(0,1)-plausible band (the labeling under which WW applies)") {
    val d = daily()
    val med = lowerMedian(d.map(_._2))
    val signs = d.map(p => if (p._2 > med) 1 else -1)
    val np = signs.count(_ == 1).toLong
    val nm = signs.count(_ == -1).toLong
    val runs =
      1L + signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))
    val row = SparkEntry.queries("q_runs_test")(spark, sf).collect().head
    assert(row.getAs[Long]("n_days") == d.length.toLong)
    assert(row.getAs[Long]("median_cents") == med)
    assert(row.getAs[Long]("n_plus") == np)
    assert(row.getAs[Long]("n_minus") == nm)
    assert(row.getAs[Long]("n_runs") == runs)
    val mu = 2.0 * np * nm / (np + nm) + 1.0
    val sig2 = 2.0 * np * nm * (2.0 * np * nm - np - nm) /
      ((np + nm).toDouble * (np + nm) * (np + nm - 1))
    assert(math.abs(row.getAs[Double]("z") - (runs - mu) / math.sqrt(sig2))
      < 1e-6)
    // exchangeable labels under the i.i.d. null: |z| in the honest
    // normal band (the difference-sign labeling this test replaced read
    // +17 on the same data — anti-persistence, not signal)
    assert(math.abs(row.getAs[Double]("z")) < 6.0)
  }
}
