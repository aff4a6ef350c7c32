package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed two-sample Kolmogorov–Smirnov test — the distribution-drift
  * screen a 100 TB corpus needs when a new ingest batch may have silently
  * shifted a feature (price, document length, quality score) relative to
  * the reference population.
  *
  * D = sup over values v of |F_A(v) − F_B(v)| is computed EXACTLY and in
  * pure integer arithmetic: with i(v) = #{A ≤ v}, j(v) = #{B ≤ v}, the
  * numerator is max |i(v)·m − j(v)·n| over distinct v (n = |A|, m = |B|),
  * and only the closing division to D itself is IEEE — so the statistic
  * carries a bit-exact cross-engine oracle.
  *
  * Round 17 (optimization; guide §2.3 "aggregate before you shuffle"):
  * the prefix counts now come from a per-distinct-VALUE census instead of
  * two per-ROW rank frames. The classical KS evaluation points are the
  * ends of tied-value blocks, and at a block end the prefix pair
  * (i(v), j(v)) is exactly the inclusive cumulative of the per-value side
  * counts — so ONE map-side-combined `groupBy(value)` census plus the
  * repo's bucketed-cumsum discipline (range-derived buckets, partitioned
  * windows, O(buckets²) offset merge — the q_conformal/RangeBuckets
  * shape, never a single-partition global sort) replaces: two
  * value-bucketed rank frames over every row, their two eager
  * localCheckpoints and boundary sketches, and a corpus-sized 4-key
  * sort-merge join to glue them together. Everything after the census is
  * value-cardinality-sized. The statistic and output schema are
  * bit-identical (same max |i·m − j·n| over the same evaluation points;
  * the old per-row tie-break id only ordered ranks WITHIN a value block
  * and never influenced the block-end prefix, which is why it could be
  * dropped from the API).
  *
  * The reject decision uses the large-sample critical value
  * c(α)·sqrt((n+m)/(n·m)) with c(0.05) = 1.358 (Smirnov's asymptotic
  * table). sqrt is IEEE-correctly-rounded, so the boolean is also
  * cross-engine stable.
  */
object KsTest {

  /** The census-cumsum core buckets by a NUMERIC image of the value
    * (floor over its range) whose order must agree with the column's own
    * sort order — true for numerics and date/time types, FALSE for
    * strings ('9' > '10' lexically but 9 < 10 cast) — so a string value
    * column would silently misplace bucket offsets and corrupt the
    * statistic (r17 ADVICE, medium). Rejected loudly here instead. */
  private def requireBucketable(df: DataFrame, valueCol: Column): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.select(valueCol).schema.head.dataType
    require(dt.isInstanceOf[NumericType] || dt == DateType ||
      dt == TimestampType || dt == TimestampNTZType || dt == BooleanType,
      s"KsTest needs a numeric/date/timestamp value column (bucket order " +
        s"must match sort order); got ${dt.catalogString}")
  }

  /** One-row result: (n_a, n_b, d_num, d, crit, drift) for the two-sample
    * KS test between rows where `sideCol` is true (sample A) and false
    * (sample B). */
  def twoSample(df: DataFrame, sideCol: Column, valueCol: Column)
      : DataFrame = {
    requireBucketable(df, valueCol)
    val base = df
      .select(lit(0L).as("__k"), sideCol.cast("int").as("__side"),
        valueCol.as("__v"))
      .filter(col("__v").isNotNull)

    val (cum, census) = cumPrefix(base, keyed = false)
    // 1-row global counts off the census leaf — a global aggregate still
    // yields the single null-celled row on empty input that the old
    // rank-frame form produced, and the source is never scanned twice.
    val counts = census.agg(
      sum(col("__ca")).cast("long").as("n_a"),
      sum(col("__cb")).cast("long").as("n_b"))

    val nm = (col("n_a") * col("n_b")).cast("double")
    cum
      .crossJoin(broadcast(counts))
      .select(abs(col("i") * col("n_b") - col("j") * col("n_a")).as("dv"))
      .agg(max(col("dv")).cast("long").as("d_num"))
      .crossJoin(broadcast(counts))
      .select(col("n_a"), col("n_b"), col("d_num"),
        (col("d_num").cast("double") / nm).as("d"),
        (lit(1.358) *
          sqrt((col("n_a") + col("n_b")).cast("double") / nm)).as("crit"))
      .withColumn("drift", col("d") > col("crit"))
  }

  /** Keyed two-sample KS — one test per `keyCol` group, the per-feature /
    * per-slice DRIFT MONITOR form ("which event types shifted between
    * weeks?"). Same integer-exact statistic and the same census-cumsum
    * machinery as [[twoSample]], with the key folded into the census and
    * the window partitioning (so no per-key single-partition window
    * exists even when one key holds most of the corpus).
    *
    * Output: one row per key — (key, n_a, n_b, d_num, d, crit, drift).
    * Keys where either side is empty produce d = NULL via the 0-product
    * guard rather than a division error. */
  def twoSampleByKey(df: DataFrame, keyCol: Column, sideCol: Column,
      valueCol: Column): DataFrame = {
    requireBucketable(df, valueCol)
    val base = df
      .select(keyCol.as("__k"), sideCol.cast("int").as("__side"),
        valueCol.as("__v"))
      .filter(col("__v").isNotNull)

    val (cum, census) = cumPrefix(base, keyed = true)
    val counts = census.groupBy(col("__k")).agg(
      sum(col("__ca")).cast("long").as("n_a"),
      sum(col("__cb")).cast("long").as("n_b"))

    val nm = (col("n_a") * col("n_b")).cast("double")
    cum
      .join(counts, Seq("__k"))
      .groupBy(col("__k"))
      .agg(max(abs(col("i") * col("n_b") - col("j") * col("n_a")))
        .cast("long").as("d_num"))
      .join(counts, Seq("__k"))
      .select(col("__k").as("key"), col("n_a"), col("n_b"), col("d_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("d_num").cast("double") / nm).as("d"),
        when(col("n_a") > 0 && col("n_b") > 0, lit(1.358) *
          sqrt((col("n_a") + col("n_b")).cast("double") / nm)).as("crit"))
      .withColumn("drift", col("d") > col("crit"))
  }

  /** The shared census-cumsum core: from (__k, __side, __v) rows to
    * (prefix frame, census) — the prefix frame holds one row per
    * DISTINCT (key, value) with the inclusive tie-aware prefixes
    * i = #{side A ≤ v}, j = #{side B ≤ v} within the key — the classical
    * KS evaluation points. Shape: one map-side-combined census shuffle,
    * per-(key, bucket) partitioned windows over range-derived buckets
    * (≤ [[RangeBuckets.DefaultTarget]] + 1 per key at ANY value range),
    * one O(|keys|·buckets²) offset-merge theta join — census-sized
    * everywhere after the first aggregate. The bucket key only needs to
    * be MONOTONE in the value (it never reaches output), so the
    * double-arithmetic bucketing below is safe: x ↦ (x−mn)/width is
    * non-decreasing under IEEE for width > 0, and floor preserves that;
    * NaN values (which Spark groups as equal and sorts last) are pinned
    * to the top bucket explicitly. */
  private def cumPrefix(base: DataFrame, keyed: Boolean)
      : (DataFrame, DataFrame) = {
    val target = RangeBuckets.DefaultTarget
    // the census is the fan-out point — bounds, window, bucket totals,
    // offset merge and the side counts all read it. A LAZY localCheckpoint
    // materializes it once on first read (no standalone job), so the
    // SOURCE is scanned exactly once per test; everything downstream is
    // value-cardinality-sized block reads.
    val census = base.groupBy(col("__k"), col("__v"))
      .agg(sum(col("__side")).cast("long").as("__ca"),
        (count(lit(1)) - sum(col("__side"))).cast("long").as("__cb"))
      .localCheckpoint(eager = false)
    // DateType has no numeric cast under ANSI — bucket it by its day
    // number instead (monotone in the date); every other accepted type
    // casts directly.
    val vd =
      if (base.schema("__v").dataType ==
          org.apache.spark.sql.types.DateType)
        unix_date(col("__v")).cast("double")
      else col("__v").cast("double")
    // Per-KEY bounds, NaN excluded (r17 ADVICE, low): global bounds let
    // one key's census collapse into a single (key, bucket) window
    // partition whenever another key dominates the value range, and a
    // single NaN turned max() into NaN, sending every real value to
    // bucket 0. Bounds now come off a per-key aggregate of the census
    // (map-side combined, census-sized) joined back broadcast — the
    // keyed form is the per-feature/per-slice drift monitor, so the key
    // census is slice-cardinality — and NaN rows pin to the TOP bucket
    // explicitly (Spark sorts NaN last, so the bucket key stays monotone
    // per key). Bucket ids never reach output; only the partitioning
    // improves.
    val withBounds =
      if (keyed)
        census.join(broadcast(census.groupBy(col("__k")).agg(
            min(when(!isnan(vd), vd)).as("__mn"),
            max(when(!isnan(vd), vd)).as("__mx"))), Seq("__k"))
      else // constant key: per-key ≡ global — keep the cheaper 1-row
        // bounds crossJoin (a keyed join here measured ×1.2 on q_ks_test)
        census.crossJoin(broadcast(census.agg(
          min(when(!isnan(vd), vd)).as("__mn"),
          max(when(!isnan(vd), vd)).as("__mx"))))
    val bucketed = withBounds
      .withColumn("__b",
        when(vd.isNaN || col("__mn").isNull, lit(target))
          .when(col("__mx") <= col("__mn"), lit(0))
          .otherwise(least(
            floor((vd - col("__mn")) /
              ((col("__mx") - col("__mn")) / target)),
            lit(target.toLong)).cast("int")))
      .drop("__mn", "__mx")
    val w = Window.partitionBy(col("__k"), col("__b")).orderBy(col("__v"))
    val loc = bucketed
      .withColumn("__cuma", sum(col("__ca")).over(w))
      .withColumn("__cumb", sum(col("__cb")).over(w))
    val bt = bucketed.groupBy(col("__k"), col("__b"))
      .agg(sum(col("__ca")).as("__ba"), sum(col("__cb")).as("__bb"))
    val off = bt.as("a")
      .join(bt.as("o"),
        col("a.__k") <=> col("o.__k") && col("o.__b") < col("a.__b"),
        "left")
      .groupBy(col("a.__k").as("__k"), col("a.__b").as("__b"))
      .agg(coalesce(sum(col("o.__ba")), lit(0L)).as("__offa"),
        coalesce(sum(col("o.__bb")), lit(0L)).as("__offb"))
    (loc.join(broadcast(off), Seq("__k", "__b"))
      .select(col("__k"), col("__v"),
        (col("__offa") + col("__cuma")).as("i"),
        (col("__offb") + col("__cumb")).as("j")), census)
  }
}
