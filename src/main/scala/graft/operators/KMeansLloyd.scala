package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration distributed Lloyd k-means with the arithmetic kept
  * exact (SURVEY §2.14 — the full-corpus companion to
  * [[Similarity.ivfTrainKMeans]], which trains on a driver-side SAMPLE;
  * here every ASSIGNMENT pass runs distributed over the whole corpus and
  * only the K×dim centroid table ever reaches the driver).
  *
  * Like [[PageRank]], the float formulation is not cross-engine
  * reproducible (partial-sum order changes ulps, and centroids feed back
  * through iterations), so everything is integer:
  *
  *  - components are quantized to 2⁻²⁰ units once up front;
  *  - distance = Σ_d (v_d − c_d)² in exact long arithmetic;
  *  - ties pick the SMALLEST centroid id (first-min position ≡ the
  *    oracle's `ORDER BY dist, cid` rank-1);
  *  - the update is an integer floor mean per (centroid, dim) —
  *    truncation toward zero, identical to DuckDB `//`;
  *  - empty clusters keep their previous centroid.
  *
  * Scale shape per iteration: ONE narrow scan of the checkpointed
  * (id, vq) frame with the centroid literals fused into codegen (no
  * join — K×dim longs live in the plan), then ONE (K × dim)-key
  * aggregate; the collected update is a K×dim model artifact (a few KB),
  * the [[Similarity.ivfTrainKMeans]] pattern. Nothing driver-side grows
  * with the corpus. Per-dim sums run through DECIMAL(38,0)
  * UNCONDITIONALLY — a long sum would wrap silently past ~2⁴¹ members
  * per cluster (|members| · 2²² per-dim magnitude) while the oracle's
  * HUGEINT stays exact, returning wrong centroids with a green-looking
  * plan; the decimal route is exact to 10³⁸ and costs nothing on a
  * K×dim aggregate.
  */
object KMeansLloyd {

  /** @param vectors (idCol, vecCol: array<float>) corpus
    * @param k       cluster count; initial centroids are the k smallest
    *                ids' vectors (deterministic, oracle-replayable)
    * @param iters   assign+update rounds (≥ 1)
    * @return (final-round assignment (id, vq, cid) with the 2⁻²⁰-quantized
    *         vector kept for downstream integer geometry (SemDeDup),
    *         centroids AFTER the final update, indexed by cid) — the
    *         assignment is the one the last update was computed FROM, so
    *         the pair replays exactly */
  def fit(vectors: DataFrame, idCol: Column, vecCol: Column,
      k: Int, iters: Int): (DataFrame, Array[Array[Long]]) = {
    require(k >= 1 && iters >= 1, "need k >= 1 and iters >= 1")
    val q = vectors
      .select(idCol.cast("long").as("id"),
        transform(vecCol, x => round(x.cast("double") * lit(1048576L))
          .cast("long")).as("vq"))
      .localCheckpoint()

    var cents: Array[Array[Long]] = q.orderBy(col("id")).limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    require(cents.length == k, s"corpus has fewer than $k vectors")
    val dim = cents.head.length

    def assigned(): DataFrame = {
      val dists = array(cents.toSeq.map(cv =>
        aggregate(zip_with(col("vq"), lit(cv), (x, c) => (x - c) * (x - c)),
          lit(0L), (acc, x) => acc + x)): _*)
      q.withColumn("__d", dists)
        .withColumn("cid",
          (array_position(col("__d"), array_min(col("__d"))) - 1L)
            .cast("long"))
        .select(col("id"), col("vq"), col("cid"))
    }

    // Superseded checkpoint rounds are released eagerly (the [[PageRank]]
    // discipline) — GC-deferred cleanup would pin O(iters) corpus-sized
    // block sets in executor storage for the whole job.
    def releaseBlocks(df: DataFrame): Unit =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }

    var last: DataFrame = null
    (1 to iters).foreach { _ =>
      val prev = last
      last = assigned().localCheckpoint()
      if (prev != null) releaseBlocks(prev)
      val upd = last
        .select(col("cid"), posexplode(col("vq")).as(Seq("dim", "v")))
        .groupBy(col("cid"), col("dim"))
        .agg(sum(col("v").cast(
          org.apache.spark.sql.types.DecimalType(38, 0))).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      upd.foreach { r =>
        // BigInt '/' truncates toward zero — identical to DuckDB `//`
        // (verified incl. negatives); the decimal sum is exact to 10³⁸
        // where a long would have wrapped at ~2⁴¹ members per cluster
        val s = r.getDecimal(2).toBigInteger
        next(r.getLong(0).toInt)(r.getInt(1)) =
          s.divide(java.math.BigInteger.valueOf(r.getLong(3))).longValueExact()
      }
      cents = next
    }
    // the returned assignment derives from `last` only; the quantized
    // projection's blocks are no longer needed
    releaseBlocks(q)
    (last.select(col("id"), col("vq"), col("cid")), cents)
  }

  /** Gate-shaped summary: (cid, n_members, centroid csv of integer
    * micro-components) over the final round, empty clusters included. */
  def summary(vectors: DataFrame, idCol: Column, vecCol: Column,
      k: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val (assign, cents) = fit(vectors, idCol, vecCol, k, iters)
    val centDf = cents.zipWithIndex
      .map { case (cv, i) => (i.toLong, cv.mkString(",")) }.toSeq
      .toDF("cid", "centroid")
    val counts = assign.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
    centDf.join(counts, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("n_members"), lit(0L)).as("n_members"),
        col("centroid"))
      .orderBy(col("cid"))
  }
}
