package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.KsTest

class KsTestSpec extends SparkSpec {
  import spark.implicits._

  private def row(df: org.apache.spark.sql.DataFrame) =
    df.select("n_a", "n_b", "d_num").as[(Long, Long, Long)].head()

  test("identical samples give D = 0") {
    val vs = (1 to 500).map(i => ((i * 7919) % 101).toDouble)
    val df = (vs.zipWithIndex.map { case (v, i) => (1, v, i.toLong) } ++
      vs.zipWithIndex.map { case (v, i) => (0, v, 10000L + i) })
      .toDF("side", "v", "id")
    val (na, nb, dnum) = row(
      KsTest.twoSample(df, col("side") === 1, col("v")))
    assert(na == 500 && nb == 500 && dnum == 0L)
  }

  test("disjoint supports give D = 1 (d_num = n*m)") {
    val df = ((1 to 40).map(i => (1, i.toDouble, i.toLong)) ++
      (1 to 60).map(i => (0, 1000.0 + i, 100L + i)))
      .toDF("side", "v", "id")
    val (na, nb, dnum) = row(
      KsTest.twoSample(df, col("side") === 1, col("v")))
    assert(na == 40 && nb == 60 && dnum == 40L * 60L)
  }

  test("matches the value-level brute force under heavy cross-side ties") {
    // deterministic pseudo-random values on a tiny domain → many ties,
    // including cross-side ties, the case mid-block prefixes would inflate
    val a = (0 until 300).map(i => ((i * 2654435761L) % 13).toDouble)
    val b = (0 until 200).map(i => ((i * 40503L + 7) % 13).toDouble)
    val df = (a.zipWithIndex.map { case (v, i) => (1, v, i.toLong) } ++
      b.zipWithIndex.map { case (v, i) => (0, v, 1000L + i) })
      .toDF("side", "v", "id")
    val (na, nb, dnum) = row(
      KsTest.twoSample(df, col("side") === 1, col("v")))

    val n = a.size.toLong
    val m = b.size.toLong
    val expected = (a ++ b).distinct.map { v =>
      val i = a.count(_ <= v).toLong
      val j = b.count(_ <= v).toLong
      math.abs(i * m - j * n)
    }.max
    assert(na == n && nb == m && dnum == expected)
  }

  /** Statistic of the same day numbers as sides A/B, with `asDay` mapping
    * the int day column to the value column under test. */
  private def overDays(asDay: Column => Column) = {
    val a = (0 until 120).map(i => (i * 37) % 90)
    val b = (0 until 80).map(i => 30 + (i * 11) % 90)
    val df = (a.map(d => (1, d)) ++ b.map(d => (0, d))).toDF("side", "day")
    row(KsTest.twoSample(df, col("side") === 1, asDay(col("day"))))
  }
  private def asDate(day: Column) =
    date_add(lit("2024-01-01").cast("date"), day)

  test("a DATE value column gives the same statistic as its day numbers") {
    val days = overDays(identity)
    assert(overDays(asDate) == days && days._3 > 0)
  }

  test("a TIMESTAMP_NTZ value column gives the same statistic as its day " +
      "numbers") {
    val days = overDays(identity)
    assert(overDays(d => asDate(d).cast("timestamp_ntz")) == days &&
      days._3 > 0)
  }

  test("keyed KS equals the unkeyed test run per key (incl. keys with " +
    "ties and skewed sizes)") {
    val rnd = new scala.util.Random(11)
    val rows = for {
      (key, n) <- Seq(("a", 300), ("b", 40), ("c", 700)); i <- 0 until n
    } yield (key, rnd.nextInt(2), (rnd.nextInt(25) * 3).toDouble,
      (key.hashCode.toLong << 20) + i)
    val df = rows.toDF("key", "side", "v", "id")
    val keyed = KsTest.twoSampleByKey(df, col("key"), col("side") === 1,
        col("v"))
      .select(col("key"), col("n_a"), col("n_b"), col("d_num"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (k, a, b, d) => k -> ((a, b, d)) }.toMap
    for (k <- Seq("a", "b", "c")) {
      val single = row(KsTest.twoSample(df.filter(col("key") === k),
        col("side") === 1, col("v")))
      assert(keyed(k) == single, s"key $k: keyed ${keyed(k)} != $single")
    }
  }
}
