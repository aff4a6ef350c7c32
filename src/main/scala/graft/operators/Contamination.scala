package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.wordNgramsNative

/** Benchmark decontamination — the train/eval overlap check every serious
  * training-data pipeline runs before a corpus ships: a training document
  * that shares enough contiguous n-grams with an evaluation benchmark leaks
  * the benchmark into the weights, so contaminated docs are flagged (and
  * usually dropped or span-scrubbed).
  *
  * Semantics (the widely published recipe, e.g. the GPT-3/PaLM appendix
  * method): build the distinct word-n-gram set of the eval corpus; a
  * training doc's contamination count is how many of ITS distinct n-grams
  * appear in that set.
  *
  * Scale shape: eval benchmarks are small by construction (MBs against the
  * corpus's TBs), so the eval n-gram set is a broadcast dimension — the
  * corpus side stays a narrow scan → one-pass native shingler
  * ([[graft.plans.WordNgramsExpr]], codegen'd) → explode → broadcast-hash
  * semi-probe, with NO corpus-wide shuffle of grams. The only exchange
  * carries (doc_id, partial count) pairs for the final per-doc sum —
  * partial-aggregated map-side, a few bytes per doc. At 100 TB the corpus
  * scan is the whole cost, which is the floor for any overlap check, and
  * the corpus arrives with more partitions than cores, so nothing else is
  * added. A corpus with fewer partitions than cores (a one-split file) is
  * first [[Spread]]: one round-robin of its rows into a lazy local
  * checkpoint, which the shingler runs over on every core and which
  * [[scrub]]'s overlap and left-anti both read, so the input is computed
  * once.
  */
object Contamination {

  /** Per-doc overlap against the eval set: (id, n_overlap) for every
    * training doc sharing ≥ `minOverlap` distinct `n`-grams with
    * `evalDocs`. Docs below the threshold are absent (the common case —
    * emitting a zero row per clean doc would shuffle the whole corpus id
    * space for no information).
    *
    * `corpus` and `evalDocs` both expose `textCol`; `idCol` names corpus
    * docs. The eval side is deduplicated and broadcast. */
  def ngramOverlap(corpus: DataFrame, evalDocs: DataFrame,
      textCol: Column, idCol: Column, n: Int = 5,
      minOverlap: Long = 1L): DataFrame = {
    require(n >= 1, s"n-gram size must be positive, got $n")
    require(minOverlap >= 1, s"minOverlap must be positive, got $minOverlap")
    val evalGrams = evalDocs
      .select(explode(array_distinct(wordNgramsNative(textCol, n))).as("gram"))
      .distinct()
    Spread(corpus)
      .select(idCol.as("id"),
        explode(array_distinct(wordNgramsNative(textCol, n))).as("gram"))
      // inner join ≡ semi-join here (evalGrams is distinct), but keeps the
      // count: each surviving row is one overlapping distinct gram.
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** [[ngramOverlap]] with a Bloom pre-filter — the scale path when the
    * eval-gram set outgrows comfortable broadcast-hash-join territory: the
    * filter costs ~1.2 bytes/gram at 1% fpp (vs tens of bytes/gram in a
    * broadcast hash set), probes as a NARROW codegen'd predicate fused
    * into the corpus scan ([[graft.plans.BloomMightContainExpr]]), and
    * its false positives are removed by the exact join running over the
    * tiny surviving stream — so the result is IDENTICAL to
    * [[ngramOverlap]] (spec-asserted), the filter only subtracts work.
    * The filter itself is built DISTRIBUTED (`df.stat.bloomFilter`, a
    * treeAggregate of per-partition filters): the driver never holds the
    * gram set, only the final ~1.2 bytes/gram filter — so the path stays
    * honest precisely in its advertised regime, an eval-gram set too big
    * to broadcast-hash comfortably. */
  def ngramOverlapBloom(corpus: DataFrame, evalDocs: DataFrame,
      textCol: Column, idCol: Column, n: Int = 5,
      minOverlap: Long = 1L, fpp: Double = 0.01): DataFrame = {
    require(n >= 1, s"n-gram size must be positive, got $n")
    require(minOverlap >= 1, s"minOverlap must be positive, got $minOverlap")
    require(fpp > 0 && fpp < 1, s"fpp must lie in (0, 1), got $fpp")
    val evalGrams = evalDocs
      .select(explode(array_distinct(wordNgramsNative(textCol, n))).as("gram"))
      .distinct()
    // Sizing pass first (a count of the already-distinct gram stream), then
    // the distributed build: each partition fills a local filter, the
    // driver receives only the OR-merged result. No row ever leaves the
    // executors.
    val nGrams = math.max(evalGrams.count(), 1L)
    val bloom = evalGrams.stat.bloomFilter("gram", nGrams, fpp)
    import org.apache.spark.sql.graft.ColumnBridge
    val mightContain = ColumnBridge.column(
      graft.plans.BloomMightContainExpr(
        ColumnBridge.expression(col("gram")), bloom))
    Spread(corpus)
      .select(idCol.as("id"),
        explode(array_distinct(wordNgramsNative(textCol, n))).as("gram"))
      .filter(mightContain)
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Decontaminate: `corpus` minus every doc contaminated at
    * (`n`, `minOverlap`) — the apply step, an anti-join against the
    * flagged ids (ids only shuffle, text never does). The corpus is
    * [[Spread]] once and that one frame feeds both the overlap and the
    * anti-join, so a narrow input is read once, not once per side. */
  def scrub(corpus: DataFrame, evalDocs: DataFrame,
      textCol: Column, idCol: Column, n: Int = 5,
      minOverlap: Long = 1L): DataFrame = {
    val spread = Spread(corpus)
    val flagged = ngramOverlap(spread, evalDocs, textCol, idCol, n, minOverlap)
      .select(col("id"))
    spread.join(flagged, idCol === flagged("id"), "left_anti")
  }
}
