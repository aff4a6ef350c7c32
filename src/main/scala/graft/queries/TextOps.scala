package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.Dedup
import graft.sources.Tables

/** Text-analysis + dedup surface over the `documents` table (SURVEY §2.11):
  * token/char statistics, quality scoring, language ID, fingerprinting,
  * exact dedup, MinHash signatures and the full LSH near-dup pipeline.
  *
  * The near-dup queries synthesize their duplicates (each doc unioned with a
  * one-word-appended mutant at id+1000000): the corpus itself has no
  * near-dups, and an LSH pipeline that finds nothing proves nothing — the
  * mutants guarantee a known, deterministic duplicate set in both engines.
  */
object TextOps extends QueryPack {

  private def docs(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents")

  /** documents ∪ mutated copy (id+1000000, text + " zzmutant"). */
  private def withMutants(d: DataFrame): DataFrame = {
    // shared row-level injectivity guard (Parity.guardedVariantId)
    val guardedId = Parity.guardedVariantId(col("doc_id"))
    d.select(guardedId.as("doc_id"), col("text"))
      .unionByName(d.select(
        (guardedId + Parity.VariantOffset).as("doc_id"),
        concat(col("text"), lit(" zzmutant")).as("text")))
  }

  private val sqlWithMutants =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000000000 AS doc_id, text || ' zzmutant' AS text
      | FROM documents)""".stripMargin

  /** BPE merge rounds for `q_bpe_merges` (shared with the unrolled
    * oracle). */
  private val BpeRounds = 5

  /** Production-depth merge rounds for `q_bpe_merges32` (round 17, r16
    * verdict #4): 32 crosses the trainer's CheckpointEvery = 8 threshold,
    * so the gate itself exercises the periodic re-checkpoint path (at
    * rounds 8/16/24) that keeps training O(rounds) — if the O(rounds²)
    * replay regression ever returns it is bench-visible here, and the
    * unrolled oracle grows only linearly. */
  private val BpeRounds32 = 32

  /** Shared build-once (doc_id, component) labeling of the mutant corpus
    * (round 15, the GraphArtifacts memo economics): q_dedup_cluster and
    * q_dedup_canonical each ran the SAME minhashPairs → connected-
    * components chain — the O(log n) star rounds twice over per bench
    * sweep, and at 100 TB two redundant LSH+CC passes per cleaning
    * session. The labeling is the write-once cluster-assignment table a
    * pipeline materializes between its detect and apply stages; here it
    * memoizes per (application, corpus) as a checkpointed leaf via the
    * unified [[graft.operators.Artifacts.memo]].
    * Semantics identical to the per-gate builds this replaces. */
  private[queries] def mutantClusters(s: SparkSession, dir: String): DataFrame =
    graft.operators.Artifacts.memo(s, dir, "text:mutant-clusters") {
      val d = withMutants(docs(s, dir))
      val pairs = Dedup.minhashPairs(d, col("text"), col("doc_id"),
        shingleSize = 3, k = 16, bands = 4, threshold = 0.5)
      graft.operators.Components.connectedComponents(
          pairs.select(col("id_a"), col("id_b")),
          d.select(col("doc_id")))
        .select(col("id").as("doc_id"), col("component"))
        .localCheckpoint()
    }

  /** The BPE word census (one corpus scan): distinct normalized word →
    * corpus frequency. Shared by q_bpe_merges (train) and q_bpe_encode
    * (train + apply). */
  private def bpeCensus(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(tokens(normalizeText(col("text")))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  override def defs: Map[String, Q] = Map[String, Q](
    // Distributed BPE tokenizer training (Sennrich et al. 2016, round
    // 15): learn the first 5 merges from the WORD CENSUS — the corpus
    // is scanned once for word counts; every round is an explode +
    // weighted aggregate over the vocab-sized census plus a 1-row
    // argmax collect (the KMeansLloyd model-artifact pattern). Symbols
    // travel as |s1||s2||…| so the merge is a boundary-safe LITERAL
    // replace with canonical left-to-right non-overlap — see
    // [[graft.operators.BpeTrainer]] for why a space-joined encoding
    // would silently skip adjacent merges. Oracle unrolls the identical
    // 5 rounds.
    "q_bpe_merges" -> ((s, dir) =>
      graft.operators.BpeTrainer.merges(bpeCensus(s, dir),
        col("w"), col("n"), rounds = BpeRounds)),

    // Production-depth BPE training (round 17): the same trainer at 32
    // merge rounds — a realistic (if small) vocab build that drives the
    // CheckpointEvery = 8 re-checkpoint path inside the GATE (rounds
    // 8/16/24 re-anchor the chained symbol frame, superseded checkpoint
    // released), so the O(rounds) cost contract is what the bench
    // measures, not a code path only a spec touches. Per-round cost is
    // one explode + one weighted aggregate over the vocab-sized census
    // + a 1-row argmax — training depth never multiplies corpus scans
    // (still the single census pass). Oracle = the identical 32 rounds
    // unrolled, m_i/s_i MATERIALIZED against exponential inlining.
    "q_bpe_merges32" -> ((s, dir) =>
      graft.operators.BpeTrainer.merges(bpeCensus(s, dir),
        col("w"), col("n"), rounds = BpeRounds32)),

    // Apply the trained BPE (round 16, r15 verdict #5): the production
    // tokenize step — train the merges, then read the encoded census off
    // training's FINAL SYMBOL STATE (round 18: trainLoop's final state
    // IS encode(merges(census)) — the identical literal replaces in the
    // identical order, BpeSpec pins the equivalence — so the old second
    // corpus scan + re-encode fold is gone; documents budget 2 scans
    // → 1). Token ids: merged symbols get 1000 + first-learn-round (the
    // vocab id convention: base alphabet then merges in learn order),
    // single chars their codepoint; the id vocab is a ≤5-row broadcast.
    // Oracle re-derives the same merges via the unrolled rounds and
    // replays the identical fold. n_words counts distinct census words
    // containing the token (the encoded string is injective in the
    // word — replaces preserve the underlying character sequence).
    "q_bpe_encode" -> ((s, dir) => {
      val (learned, state) = graft.operators.BpeTrainer
        .trainState(bpeCensus(s, dir), col("w"), col("n"),
          rounds = BpeRounds)
      val vocab = learned
        .map { case (round, pair, _) => (pair.replace(" ", ""), round) }
        .groupBy(_._1).toSeq
        .map { case (tok, rs) => (tok, 1000L + rs.map(_._2).min) }
      import s.implicits._
      val vdf = vocab.toDF("token", "merge_id")
      state
        .select(col("n"), col("s"),
          explode(graft.operators.BpeTrainer.symbolTokens(col("s")))
            .as("token"))
        .join(broadcast(vdf), Seq("token"), "left")
        .groupBy(col("token"),
          coalesce(col("merge_id"), ascii(col("token")).cast("long"))
            .as("token_id"))
        .agg(sum(col("n")).as("n_occ"),
          count_distinct(col("s")).as("n_words"))
        .orderBy(col("n_occ").desc, col("token"))
        .limit(30)
    }),

    // Per-language readability profile: mean sentence length (tokens per
    // terminator run, approximated by terminator CHARS — a pure length
    // difference, no split-semantics disagreement between engines) and a
    // vowel-run syllable proxy, both as exact integer milli-ratios. One
    // narrow projection, one tiny aggregation — readability scoring at
    // scan speed.
    "q_readability" -> ((s, dir) => {
      val norm = normalizeText(col("text"))
      docs(s, dir).select(col("lang"),
          tokenCount(col("text")).cast("long").as("n_tok"),
          greatest(length(col("text")) -
            length(regexp_replace(col("text"), "[.!?]", "")), lit(1))
            .cast("long").as("n_sent"),
          (length(regexp_replace(norm, "[aeiou]+", "#")) -
            length(regexp_replace(norm, "[aeiou]+", "")))
            .cast("long").as("n_vruns"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST((1000 * sum(n_tok)) div sum(n_sent) AS BIGINT)")
            .as("sent_len_milli"),
          expr("CAST((1000 * sum(n_vruns)) div sum(n_tok) AS BIGINT)")
            .as("syll_per_tok_milli"))
        .orderBy(col("lang"))
    }),

    // Token counting + basic stats (whitespace tokenizer; the BPE-ish
    // subword variant is q_subword below — its matcher pattern is
    // lookaround-free, so the same regex oracles under DuckDB's RE2).
    // Staged: n_tokens computed once in its own projection — the HOF token
    // pipeline is CodegenFallback, and inlining it per reference re-runs
    // normalize+split per output column (the round-1 staging lesson).
    "q_text_stats" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), col("text"),
          length(normalizeText(col("text"))).as("n_chars_norm"),
          tokenCount(col("text")).as("n_tokens"))
        .select(
          col("doc_id"),
          col("n_chars_norm"),
          col("n_tokens"),
          round(length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
            col("n_tokens").cast("double"), 6).as("avg_token_len"),
          punctCount(col("text")).as("n_punct"))
        .orderBy(col("doc_id"))),

    // Quality scoring: length band + punctuation density + stopword density
    // — the standard heuristics pre-filter of a training-data pipeline.
    // Staged: every multiply-referenced ratio is materialized once — the
    // one-projection form re-inlined the token pipeline per reference
    // (~6× per row through stopword_ratio + quality_score).
    "q_text_quality" -> ((s, dir) => {
      val staged = docs(s, dir)
        .select(col("doc_id"), col("n_chars"),
          tokens(normalizeText(col("text"))).as("__toks"),
          (punctCount(col("text")).cast("double") /
            length(col("text")).cast("double")).as("__punct_ratio"))
        .select(col("doc_id"), col("n_chars"), col("__punct_ratio"),
          (stopwordCount(col("__toks"), langProfiles.head._2).cast("double") /
            size(col("__toks")).cast("double")).as("__stop_ratio"))
      val lenOk = col("n_chars").between(100, 2000)
      staged.select(
        col("doc_id"),
        round(col("__stop_ratio"), 6).as("stopword_ratio"),
        round(col("__punct_ratio"), 6).as("punct_ratio"),
        lenOk.as("len_ok"),
        round(
          when(lenOk, lit(0.5)).otherwise(lit(0.0)) +
            least(col("__stop_ratio") * 2.0, lit(0.3)) +
            when(col("__punct_ratio") < 0.05, lit(0.2)).otherwise(lit(0.0)),
          6).as("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // Language ID (stopword-profile argmax + CJK charset check). The corpus
    // text carries no real language signal — the heuristic is the operator
    // under test, and the oracle runs the identical scoring. Staged
    // projections: tokens → score array → argmax (a one-projection fold
    // re-inlines the token pipeline per profile per comparison).
    "q_lang_id" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), col("lang"), col("text"),
          tokens(normalizeText(col("text"))).as("__toks"))
        .select(col("doc_id"), col("lang"), col("text"),
          langScores(col("__toks")).as("__scores"))
        .select(
          col("doc_id"), col("lang").as("labeled_lang"),
          langFromScores(col("__scores"), col("text")).as("predicted_lang"))
        .orderBy(col("doc_id"))),

    // Content fingerprint + exact-dedup groups over the mutant corpus
    // (mutants differ → distinct fingerprints; the group-by is the operator).
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(
          withMutants(docs(s, dir))
            .unionByName(docs(s, dir).select(col("doc_id"), col("text"))), // originals twice
          col("text"), col("doc_id"))
        .orderBy(col("fingerprint"))),

    // Per-doc MinHash signature (k=8 for output compactness; the pipeline
    // below uses k=16). Via the two-projection signature builder — a
    // single-projection form would inline the md5 shingle array k times.
    "q_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(docs(s, dir), col("text"), col("doc_id"),
          shingleSize = 3, k = 8)
        .select(col("id").as("doc_id"), array_join(col("sig"), ",").as("sig"))
        .orderBy(col("doc_id"))),

    // SimHash sketch per doc (token hashes materialized once, not 32×).
    "q_simhash" -> ((s, dir) =>
      Dedup.simhashSketches(docs(s, dir), col("text"), col("doc_id"))
        .select(col("id").as("doc_id"), col("simhash"))
        .orderBy(col("doc_id"))),

    // Full MinHash+LSH near-dup pipeline over the mutant corpus: shingle →
    // sign → band → bucket-join → estimate → threshold. Every (doc, mutant)
    // pair must surface.
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(withMutants(docs(s, dir)),
          col("text"), col("doc_id"),
          shingleSize = 3, k = 16, bands = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // Sketch-calibration audit (round 12): for every LSH candidate pair,
    // compare the MinHash ESTIMATE against the EXACT shingle-set Jaccard
    // — the audit a pipeline runs before trusting the sketch's θ-curve
    // at 100 TB. Grouped by the signature agreement count m (an exact
    // integer — no float binning), it reports the estimate each m implies
    // (est_ppm = m·10⁶/16), the measured exact mean, the signed mean
    // error (positive = the sketch overestimates) and the worst case.
    // ALL integer arithmetic: est·16 recovers m exactly (dyadic), exact
    // Jaccard stages as ⌊10⁶·|∩|/|∪|⌋ integer division, signed means
    // via the shared trunc-toward-zero div. Scale: the pair set is the
    // (already capped) LSH candidate stream; the gram join is two keyed
    // equi-joins against the doc gram sets.
    "q_minhash_calibration" -> ((s, dir) => {
      val d = withMutants(docs(s, dir))
      val pairs = Dedup.minhashPairs(d, col("text"), col("doc_id"),
          shingleSize = 3, k = 16, bands = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          (col("est_jaccard") * 16).cast("long").as("m"))
      // round 18: gram sets sorted once per doc; the exact overlap is the
      // native string merge-scan kernel and |∪| = |A|+|B|−|∩| — the same
      // integers as the old array_intersect/array_union pair, without
      // two per-pair hash-set builds (guide §4)
      val grams = d.select(col("doc_id").as("gid"),
        array_sort(array_distinct(wordNgramsNative(col("text"), 3)))
          .as("grams"))
        // round 18: gram leaf — both verify-join sides re-tokenized the
        // mutant corpus otherwise (ScanCount: documents 6x at sf0.01)
        .localCheckpoint(eager = false)
      val ic = org.apache.spark.sql.graft.ColumnBridge.column(
        graft.plans.SortedIntersectCountStrExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("ga")),
          org.apache.spark.sql.graft.ColumnBridge.expression(col("gb"))))
      pairs
        .join(grams.select(col("gid").as("id_a"), col("grams").as("ga")),
          Seq("id_a"))
        .join(grams.select(col("gid").as("id_b"), col("grams").as("gb")),
          Seq("id_b"))
        .withColumn("__ic", ic)
        .select(col("m"), expr(
          """CAST((1000000 * __ic)
            | div (size(ga) + CAST(size(gb) AS BIGINT) - __ic) AS BIGINT)"""
            .stripMargin.replaceAll("\\s+", " ")).as("exact_ppm"))
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("exact_ppm")).as("sum_exact"),
          sum(col("m") * 62500L - col("exact_ppm")).as("sum_err"),
          max(abs(col("m") * 62500L - col("exact_ppm")))
            .as("max_abs_err_ppm"))
        .select(col("m").as("n_agree"), col("n_pairs"),
          (col("m") * 62500L).as("est_ppm"),
          expr("sum_exact div n_pairs").as("mean_exact_ppm"),
          expr("sum_err div n_pairs").as("mean_err_ppm"),
          col("max_abs_err_ppm"))
        .orderBy(col("n_agree"))
    }),

    // SimHash near-dup within Hamming ≤ 4 over the mutant corpus —
    // pigeonhole banding is an exact candidate generator, so the banded
    // result must equal the oracle's all-pairs popcount join row for row.
    // The skew cap is sized above the corpus: the oracle is UNCAPPED, so
    // a dropped bucket would read as an opaque parity failure (the cap
    // path is spec-tested separately with `drops` observability).
    "q_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(withMutants(docs(s, dir)),
          col("text"), col("doc_id"), maxHamming = 4, maxBucket = 1 << 20)
        .orderBy(col("id_a"), col("id_b"))),

    // Exact n-gram Jaccard verification on the known candidate pairs.
    "q_ngram_jaccard" -> ((s, dir) => {
      val d = withMutants(docs(s, dir))
      val pairs = docs(s, dir)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + Parity.VariantOffset).as("id_b"))
      Dedup.ngramJaccard(pairs, d, "text", "doc_id", n = 3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"))
    }),

    // EXACT Jaccard τ≥0.5 self-join with prefix filtering (AllPairs/PPJoin):
    // the guaranteed-recall complement to the probabilistic LSH path. Spark
    // explodes only each doc's df-rarest shingle prefix; the oracle answers
    // by full inverted-index self-join — a different exact algorithm, same
    // pair set. Integer milli-thresholds keep both engines bit-identical.
    "q_jaccard_selfjoin" -> ((s, dir) =>
      Dedup.jaccardSelfJoin(docs(s, dir), col("text"), col("doc_id"),
          n = 3, tauMilli = 500)
        .orderBy(col("id_a"), col("id_b"))),

    // The capstone composition: a full training-data cleaning pass. Mutant
    // corpus → MinHash+LSH near-dup pairs → drop the higher-id member of
    // every pair → per-bucket corpus statistics of what survives. One
    // oracle over the WHOLE pipeline: dedup, anti-join application, and
    // token accounting agree end to end.
    "q_pipeline_dedup" -> ((s, dir) => {
      // round 18: mutant-corpus leaf — the LSH pair subtree and the
      // anti-join side each re-ran the union + text concat (ScanCount:
      // documents 6x at sf0.01)
      val d = withMutants(docs(s, dir)).localCheckpoint(eager = false)
      val dupIds = Dedup.minhashPairs(d, col("text"), col("doc_id"),
          shingleSize = 3, k = 16, bands = 4, threshold = 0.5)
        .select(col("id_b").as("doc_id")).distinct()
      d.join(dupIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), tokenCount(col("text")).as("__nt"),
          length(col("text")).as("__nc"))
        .groupBy((col("doc_id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nt")).as("total_tokens"),
          sum(col("__nc")).as("total_chars"))
        .orderBy(col("bucket"))
    }),

    // Token-budget packing: docs accumulate chars per language in doc_id
    // order; pack boundary at each budget multiple (docs never split,
    // ≤1-doc overflow). One window cumsum — no sequential fold — so the
    // oracle replays the identical rule. Output: per-pack accounting.
    "q_pack_budget" -> ((s, dir) =>
      graft.operators.Packing.byBudget(
          docs(s, dir), Seq(col("lang")), col("doc_id"), col("n_chars"),
          budget = 20000L)
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("pack_chars"))
        .orderBy(col("lang"), col("pack_id"))),

    // Deterministic stratified sampling: portable-hash gate per doc_id
    // with per-language rates (cap English, oversample zh) — reproducible
    // across runs/partitionings/ENGINES, which is exactly what the oracle
    // checks: DuckDB recomputes the same md5-derived gate in SQL and must
    // select the identical member set (counts + char sums per stratum).
    "q_sample_stratified" -> ((s, dir) => {
      val sampled = graft.operators.Sampling.stratifiedHashSample(
        docs(s, dir), col("doc_id"), col("lang"),
        Map("en" -> 0.5, "zh" -> 0.9), defaultRate = 0.25)
      sampled.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("source"))
    }),

    // Duplicate-cluster labeling: near-dup PAIRS (LSH) → connected
    // components (alternating large-star/small-star, O(log n) rounds) →
    // one (doc_id, component) label per doc, component = min doc id in
    // the cluster. The step between pair generation and "keep one per
    // cluster" in a corpus-cleaning pipeline; oracled against a DuckDB
    // recursive-CTE transitive closure over the SAME SQL-derived pairs.
    "q_dedup_cluster" -> ((s, dir) =>
      // round 15: the labeling is the shared mutantClusters artifact
      // (built once per session/corpus, reused by q_dedup_canonical)
      mutantClusters(s, dir).orderBy(col("doc_id"))),

    // Boilerplate-prefix removal (round 9): 3 of every 4 docs get a
    // per-source crawler banner glued on in-engine; the operator must
    // detect each source's dominant 5-token prefix (75% coverage ≥ the
    // 60% bar), strip exactly the bannered docs, and leave the clean
    // quarter alone. The oracle replays detection + strip in SQL.
    "q_boilerplate" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        when(col("doc_id") % 4 =!= 0,
          concat(lit("terms of service for "), col("source"), lit(" "),
            col("text"))).otherwise(col("text")).as("text"))
      graft.operators.Boilerplate.stripCommonPrefix(d, col("source"),
          col("doc_id"), col("text"), k = 5, minCoverMilli = 600)
        .select(col("grp").as("source"), col("id").as("doc_id"),
          col("stripped"), col("n_tokens_after"))
        .orderBy(col("doc_id"))
    }),

    // Canonical-representative selection (round 9): the dedup output
    // stage a pipeline actually ships — per near-dup cluster keep ONE
    // document (longest text, ties to the smallest id) and account for
    // the rest. Window is PARTITIONED by component (never global);
    // everything upstream is the oracled cluster machinery.
    "q_dedup_canonical" -> ((s, dir) => {
      val d = withMutants(docs(s, dir))
      // round 15: shared mutantClusters artifact (see q_dedup_cluster)
      val comp = mutantClusters(s, dir)
      val sized = comp.join(
        d.select(col("doc_id"), length(col("text")).as("nc")), "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("nc").desc, col("doc_id"))
      sized
        .withColumn("__rn", row_number().over(w))
        .withColumn("n_docs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("component"))))
        .filter(col("__rn") === 1)
        .select(col("component"), col("doc_id").as("canonical_id"),
          col("nc").cast("long").as("n_chars"), col("n_docs"))
        .orderBy(col("component"))
    }),

    // Training-mix capstone: the full corpus-to-batches pipeline under ONE
    // oracle — stratified hash-gate sampling (per-language rates) → LSH
    // near-dup drop on the SAMPLE → token-budget packing per language →
    // per-pack accounting. Composes this round's Sampling/Packing with the
    // bounded LSH stage; every stage is individually oracled elsewhere,
    // this pins their composition.
    "q_pipeline_mix" -> ((s, dir) => {
      val d0 = docs(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val d = d0.unionByName(d0.select(
        (col("doc_id") + Parity.VariantOffset).as("doc_id"),
        concat(col("text"), lit(" zzmutant")).as("text"), col("lang")))
      // round 18: sampled-stage leaf — the LSH pair subtree and the
      // anti-join side each re-ran the mutant-union + hash gate
      // (ScanCount: documents 6x at sf0.01)
      val sampled = graft.operators.Sampling.stratifiedHashSample(
        d, col("doc_id"), col("lang"), Map("en" -> 0.5, "zh" -> 0.9),
        defaultRate = 0.25).localCheckpoint(eager = false)
      val dupIds = Dedup.minhashPairs(sampled, col("text"), col("doc_id"),
          shingleSize = 3, k = 16, bands = 4, threshold = 0.5)
        .select(col("id_b").as("doc_id")).distinct()
      val kept = sampled.join(dupIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), length(col("text")).as("__nc"))
      graft.operators.Packing.byBudget(kept, Seq(col("lang")),
          col("doc_id"), col("__nc"), budget = 20000L)
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nc")).as("pack_chars"))
        .orderBy(col("lang"), col("pack_id"))
    }),

    // Winnowing fingerprint (rolling local fingerprints, Schleimer et al.):
    // sorted distinct window-min shingle hashes per doc — the
    // partial-overlap detector between exact dedup and MinHash. Staged:
    // the fingerprint array materializes once for both output columns.
    "q_fingerprint_winnow" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          winnowFingerprint(col("text"), k = 5, w = 4).as("__fp"))
        .select(col("doc_id"),
          array_join(col("__fp"), ",").as("fp"),
          size(col("__fp")).as("n_fp"))
        .orderBy(col("doc_id"))),

    // Vocabulary building: corpus-wide token frequencies, top-100 — the
    // explode → count → top-k pass every tokenizer-training pipeline runs.
    "q_vocab" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(tokens(normalizeText(col("text")))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(100)),

    // TF-IDF top-3 terms per document: per-doc term counts × corpus
    // document frequencies (distinct-token explode), idf = ln((N+1)/(df+1)),
    // per-doc top-k by (score desc, token asc). Staged so the token
    // pipeline runs once; every fractional value rounds at 6.
    "q_tfidf" -> ((s, dir) => {
      val d = docs(s, dir)
      // N as a lazy broadcast aggregate (no driver-side count job), and df
      // derived FROM tf (tf already has one row per (doc, token), so its
      // per-token row count IS the document frequency) — the token
      // pipeline and explode run exactly once.
      val nDf = d.agg(count(lit(1)).as("__n"))
      val tf = d.select(col("doc_id"),
          explode(tokens(normalizeText(col("text")))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      tf.join(df, "token")
        .crossJoin(broadcast(nDf))
        .withColumn("score",
          round(col("tf") * log((col("__n") + 1.0) / (col("df") + 1.0)), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("token"), col("score"),
          col("rank").cast("int").as("rank"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // BPE-ish subword token count. Oracled: the pretokenizer pattern is
    // lookaround-free by construction (TextFunctions.subwordPattern), so
    // the SAME regex runs under DuckDB's RE2 in the oracle below.
    "q_subword" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(subwordTokens(col("text"))).as("n_subwords"))
        .orderBy(col("doc_id"))),

    // Native Catalyst expression (plans/Hash32Expr, doGenCode) through the
    // SQL registration path — the §2.9 scalar surface under the oracle gate.
    "q_native_hash" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      docs(s, dir).createOrReplaceTempView("nh_docs")
      s.sql("""SELECT doc_id, graft_hash32(text) AS h32
              |FROM nh_docs ORDER BY doc_id""".stripMargin)
    }),

    // Per-source language diversity via the Gini–Simpson index — the
    // log-free diversity statistic (Shannon entropy would hinge on ln,
    // which is not cross-engine bit-stable): collision probability
    // λ = Σnᵢ(nᵢ−1) / N(N−1) is a PURE INTEGER rational, diversity is
    // 1 − λ. Flags near-monolingual sources in a corpus-composition
    // audit with exact integer evidence alongside the IEEE ratio.
    "q_diversity" -> ((s, dir) => {
      val c = docs(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      c.groupBy(col("source"))
        .agg(sum(col("n")).cast("long").as("tot"),
          sum(col("n") * (col("n") - 1)).cast("long").as("num"))
        .select(col("source"), col("tot"), col("num"),
          (col("num").cast("double") /
            (col("tot") * (col("tot") - 1)).cast("double")).as("simpson"),
          (lit(1.0) - col("num").cast("double") /
            (col("tot") * (col("tot") - 1)).cast("double"))
            .as("diversity"))
        .orderBy(col("source"))
    }),

    // Token-weighted length percentiles per language — "the document a
    // TOKEN experiences", the right length profile when the consumer is
    // a training loader (long docs dominate the token stream; the
    // unweighted median underestimates what the model sees). Exact
    // integer thresholds on the weighted rank frame — see
    // [[graft.operators.WeightedPercentiles]].
    "q_weighted_median" -> ((s, dir) =>
      graft.operators.WeightedPercentiles.exactDisc(
          docs(s, dir).filter(col("n_chars").isNotNull),
          col("lang"), col("n_chars"), tokenCount(col("text")),
          Seq((1, 2), (9, 10)), Seq("w_p50", "w_p90"))
        .select(col("group").as("lang"), col("w_p50"), col("w_p90"))
        .orderBy(col("lang")))
  ) ++ Map[String, Q](

    // LM-coverage quality score (round 10): per-doc fraction of token
    // bigrams that are COMMON in the corpus (global count ≥ 3) — the
    // model-based quality signal of the curation stack (a doc whose
    // transitions the corpus LM has never seen is noise or novelty;
    // either way it is flagged before training). Log-free by design:
    // coverage is a pure count ratio in milli-units, so the gate stays
    // bit-exact where a real NLL score would drown in cross-engine float
    // logs. Shape: one bigram explode, one global count agg, one shuffle
    // join back on the bigram key, one per-doc agg — all key-partitioned.
    "q_lm_score" -> ((s, dir) => {
      // round 17 (optimization): the bigram explode feeds both the corpus
      // census and the join side — without a materialization the text is
      // tokenized twice. Lazy checkpoint: one tokenization pass, block
      // reads after (no standalone job).
      val bg = docs(s, dir).select(col("doc_id"),
          explode(tokenBigrams(col("text"))).as("b"))
        .select(col("doc_id"), col("b.t1").as("t1"), col("b.t2").as("t2"))
        .localCheckpoint(eager = false)
      val counts = bg.groupBy(col("t1"), col("t2"))
        .agg(count(lit(1)).as("c"))
      bg.join(counts, Seq("t1", "t2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("c") >= 3, 1L).otherwise(0L)).as("n_common"))
        .select(col("doc_id"), col("n_bigrams"), col("n_common"),
          expr("(1000 * n_common) div n_bigrams").as("coverage_milli"))
        .orderBy(col("doc_id"))
    }),

    // Phrase search (round 10): find every document containing the
    // corpus's MOST FREQUENT two-word phrase, with occurrence counts —
    // the positional-index probe an IR stack runs for quoted queries
    // (adjacency, not bag-of-words; q_inverted_index is the term-level
    // sibling). The probe phrase is derived in-query (top bigram by
    // count, ties lexicographic) so the gate needs no corpus knowledge;
    // its top-1 plans as TakeOrderedAndProject and broadcasts.
    "q_phrase_search" -> ((s, dir) => {
      // round 17 (optimization): same one-tokenization-pass lazy
      // checkpoint as q_lm_score (the probe derivation and the probe
      // join both consume the bigram frame).
      val bg = docs(s, dir).select(col("doc_id"),
          explode(tokenBigrams(col("text"))).as("b"))
        .select(col("doc_id"), col("b.t1").as("t1"), col("b.t2").as("t2"))
        .localCheckpoint(eager = false)
      val top = bg.groupBy(col("t1"), col("t2"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t1"), col("t2"))
        .limit(1)
        .select(col("t1"), col("t2"))
      bg.join(broadcast(top), Seq("t1", "t2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("doc_id"))
    })
  )

  private def sqlToks(expr: String) = sqlTokens(expr)
  private def sqlNorm(expr: String) = sqlNormalizeText(expr)

  /** The unrolled-round DuckDB replay of [[graft.operators.BpeTrainer]]:
    * per round i, pair census over s(i-1) (weighted by word count),
    * argmax with (cnt DESC, pair ASC) tie-break, then the SAME literal
    * `|l||r|` → `|lr|` replace. */
  /** The shared WITH-block body (census, s0, p/m/s per round) the BPE
    * oracles build on — the merges gates select the m_i rows,
    * q_bpe_encode tokenizes from the final s_N state with the
    * m_i-derived vocab. Parameterized by round count (round 17 —
    * q_bpe_merges32 unrolls 32); m_i and s_i are MATERIALIZED: each is
    * referenced 2–3×, and at 32 rounds unmaterialized inlining grows
    * the plan exponentially (the q_kcore oracle lesson). */
  private def sqlBpeRoundsCtes(nRounds: Int): String = {
    def round_(i: Int): String =
      s"""p$i AS (SELECT pr AS pair, CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, unnest(list_transform(
         |      generate_series(1, len(t) - 1),
         |      j -> t[j] || ' ' || t[j + 1])) AS pr
         |    FROM (SELECT n,
         |        string_split(substr(s, 2, length(s) - 2), '||') AS t
         |      FROM s${i - 1}))
         |  GROUP BY pr),
         |m$i AS MATERIALIZED (SELECT pair, cnt FROM p$i
         |  ORDER BY cnt DESC, pair LIMIT 1),
         |s$i AS MATERIALIZED (SELECT replace(s,
         |    '|' || replace((SELECT pair FROM m$i), ' ', '||') || '|',
         |    '|' || replace((SELECT pair FROM m$i), ' ', '') || '|') AS s,
         |    n
         |  FROM s${i - 1})""".stripMargin
    val rounds = (1 to nRounds).map(round_).mkString(",\n")
    s"""census AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(${sqlTokens(sqlNormalizeText("text"))}) AS w
       |        FROM documents)
       |  WHERE length(w) > 0 GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS s, n
       |  FROM census),
       |$rounds""".stripMargin
  }

  private def sqlBpeMerges(nRounds: Int): String = {
    val selects = (1 to nRounds)
      .map(i => s"SELECT $i AS round, pair, cnt AS n_pair FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${sqlBpeRoundsCtes(nRounds)},
       |merged AS ($selects)
       |SELECT round, pair, n_pair FROM merged ORDER BY round""".stripMargin
  }

  /** Encode oracle: re-derive the merges via the unrolled rounds, read
    * the final symbol state s_N, and census the tokens with the same
    * vocab-id convention (1000 + first learn round for merged symbols,
    * codepoint for single chars). */
  private lazy val sqlBpeEncode: String = {
    val vocabRows = (1 to BpeRounds)
      .map(i => s"SELECT $i AS r, replace(pair, ' ', '') AS token FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${sqlBpeRoundsCtes(BpeRounds)},
       |vocab AS (
       |  SELECT token, CAST(1000 + MIN(r) AS BIGINT) AS merge_id
       |  FROM ($vocabRows) GROUP BY token),
       |toks AS (
       |  SELECT n, s, unnest(string_split(substr(s, 2, length(s) - 2),
       |    '||')) AS token
       |  FROM s$BpeRounds)
       |SELECT t.token,
       |  COALESCE(v.merge_id, CAST(ascii(t.token) AS BIGINT)) AS token_id,
       |  CAST(SUM(t.n) AS BIGINT) AS n_occ,
       |  CAST(COUNT(DISTINCT t.s) AS BIGINT) AS n_words
       |FROM toks t LEFT JOIN vocab v ON v.token = t.token
       |GROUP BY 1, 2
       |ORDER BY n_occ DESC, t.token LIMIT 30""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    "q_bpe_merges" -> sqlBpeMerges(BpeRounds),
    "q_bpe_merges32" -> sqlBpeMerges(BpeRounds32),
    "q_bpe_encode" -> sqlBpeEncode,

    "q_readability" ->
      s"""WITH d AS (SELECT lang,
         |    CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tok,
         |    CAST(greatest(length(text) -
         |      length(regexp_replace(text, '[.!?]', '', 'g')), 1)
         |      AS BIGINT) AS n_sent,
         |    CAST(length(regexp_replace(${sqlNorm("text")},
         |        '[aeiou]+', '#', 'g')) -
         |      length(regexp_replace(${sqlNorm("text")},
         |        '[aeiou]+', '', 'g')) AS BIGINT) AS n_vruns
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST((1000 * SUM(n_tok)) // SUM(n_sent) AS BIGINT)
         |    AS sent_len_milli,
         |  CAST((1000 * SUM(n_vruns)) // SUM(n_tok) AS BIGINT)
         |    AS syll_per_tok_milli
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same boundary rule: pack = (cumsum-before-this-doc) // budget,
    // integer division in both engines (// in DuckDB, decimal-routed
    // div engine-side).
    "q_pack_budget" ->
      """SELECT lang, CAST((cum - n_chars) // 20000 AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS pack_chars
        |FROM (
        |  SELECT lang, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
        |  FROM documents)
        |GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin,

    // Portable hash gate: ('0x'||substr(md5(k),1,8))::BIGINT ≡ the native
    // Hash32Expr; FLOOR (not CAST) on the threshold because DuckDB's
    // double→BIGINT cast rounds where Spark's truncates.
    "q_sample_stratified" ->
      s"""SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE ${sqlHash32("CAST(doc_id AS VARCHAR)")} <
        |  CAST(FLOOR((CASE WHEN lang = 'en' THEN 0.5
        |                   WHEN lang = 'zh' THEN 0.9
        |                   ELSE 0.25 END) * 4294967296) AS BIGINT)
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // Same pattern string both engines (Java regex + RE2 agree: no
    // lookarounds); single quotes in SQL take no backslash processing.
    "q_subword" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$subwordPattern')) AS INT)
         |    AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_stats" ->
      s"""SELECT doc_id,
         |  CAST(length(${sqlNorm("text")}) AS INT) AS n_chars_norm,
         |  CAST(len(${sqlToks("text")}) AS INT) AS n_tokens,
         |  round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) /
         |    CAST(len(${sqlToks("text")}) AS DOUBLE), 6) AS avg_token_len,
         |  CAST(${sqlPunctCount("text")} AS INT) AS n_punct
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_quality" -> {
      val toks = sqlToks(sqlNorm("text"))
      val stopRatio = s"(CAST(${sqlStopwordCount(toks, langProfiles.head._2)} AS DOUBLE) / CAST(len($toks) AS DOUBLE))"
      val punctRatio = s"(CAST(${sqlPunctCount("text")} AS DOUBLE) / CAST(length(text) AS DOUBLE))"
      s"""SELECT doc_id,
         |  round($stopRatio, 6) AS stopword_ratio,
         |  round($punctRatio, 6) AS punct_ratio,
         |  n_chars BETWEEN 100 AND 2000 AS len_ok,
         |  round(
         |    (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0.5 ELSE 0.0 END) +
         |    least($stopRatio * 2.0, 0.3) +
         |    (CASE WHEN $punctRatio < 0.05 THEN 0.2 ELSE 0.0 END), 6)
         |    AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q_lang_id" ->
      s"""SELECT doc_id, lang AS labeled_lang,
         |  ${sqlLangId("text")} AS predicted_lang
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      s"""SELECT ${sqlFingerprint("text")} AS fingerprint,
         |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
         |FROM (SELECT * FROM $sqlWithMutants
         |      UNION ALL SELECT doc_id, text FROM documents)
         |GROUP BY 1 ORDER BY fingerprint""".stripMargin,

    "q_minhash_sig" ->
      s"""SELECT doc_id,
         |  array_to_string(${sqlMinhashSignature(sqlWordNgrams("text", 3), 8)}, ',') AS sig
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_simhash" ->
      s"""SELECT doc_id, ${sqlSimhash64(sqlToks(sqlNorm("text")))} AS simhash
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash" -> {
      val sig = sqlMinhashSignature(sqlWordNgrams("text", 3), 16)
      s"""WITH sigs AS (
         |  SELECT doc_id AS id, $sig AS sig FROM $sqlWithMutants),
         |${sqlBandedCandidates(4, 4, "pairs")}
         |SELECT id_a, id_b,
         |  CAST(len(list_filter(list_zip(sig_a, sig_b), s -> s[1] = s[2])) AS DOUBLE)
         |    / 16 AS est_jaccard
         |FROM pairs WHERE est_jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_minhash_calibration" -> {
      val sig = sqlMinhashSignature(sqlWordNgrams("text", 3), 16)
      val grams = s"list_distinct(${sqlWordNgrams("text", 3)})"
      s"""WITH sigs AS (
         |  SELECT doc_id AS id, $sig AS sig FROM $sqlWithMutants),
         |${sqlBandedCandidates(4, 4, "cand")},
         |pairs AS (
         |  SELECT id_a, id_b,
         |    len(list_filter(list_zip(sig_a, sig_b), s -> s[1] = s[2]))
         |      AS m
         |  FROM cand
         |  WHERE len(list_filter(list_zip(sig_a, sig_b),
         |    s -> s[1] = s[2])) >= 8),
         |g AS (
         |  SELECT doc_id, $grams AS grams FROM $sqlWithMutants),
         |cells AS (
         |  SELECT p.m,
         |    (1000000 * len(list_intersect(a.grams, b.grams)))
         |      // len(list_distinct(list_concat(a.grams, b.grams)))
         |      AS exact_ppm
         |  FROM pairs p
         |  JOIN g a ON a.doc_id = p.id_a
         |  JOIN g b ON b.doc_id = p.id_b)
         |SELECT CAST(m AS BIGINT) AS n_agree, COUNT(*) AS n_pairs,
         |  CAST(62500 * m AS BIGINT) AS est_ppm,
         |  CAST(SUM(exact_ppm) // COUNT(*) AS BIGINT) AS mean_exact_ppm,
         |  CAST(SUM(62500 * m - exact_ppm) // COUNT(*) AS BIGINT)
         |    AS mean_err_ppm,
         |  CAST(MAX(ABS(62500 * m - exact_ppm)) AS BIGINT)
         |    AS max_abs_err_ppm
         |FROM cells GROUP BY m ORDER BY n_agree""".stripMargin
    },

    // Transitive closure via recursive CTE over the SQL-rederived LSH
    // pairs: min reachable id per node ≡ the star-contraction labels.
    // Closure size is Σ|component|² — fine at gate scale, which is
    // exactly why the ENGINE side uses O(log n) star contraction instead.
    "q_dedup_cluster" -> {
      val sig = sqlMinhashSignature(sqlWordNgrams("text", 3), 16)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, text FROM $sqlWithMutants),
         |sigs AS MATERIALIZED (
         |  SELECT doc_id AS id, $sig AS sig FROM corpus),
         |${sqlBandedCandidates(4, 4)},
         |pairs AS MATERIALIZED (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b,
         |      CAST(len(list_filter(list_zip(sig_a, sig_b), s -> s[1] = s[2])) AS DOUBLE)
         |        / 16 AS est_jaccard
         |    FROM cand) WHERE est_jaccard >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v)
         |SELECT id AS doc_id, min(r) AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
    },

    "q_boilerplate" -> {
      val toks = graft.functions.TextFunctions.sqlTokens("text")
      s"""WITH d AS (SELECT doc_id, source,
         |    CASE WHEN doc_id % 4 != 0
         |      THEN 'terms of service for ' || source || ' ' || text
         |      ELSE text END AS text
         |  FROM documents),
         |b AS (SELECT doc_id, source,
         |    array_to_string(($toks)[1:5], ' ') AS pfx,
         |    len($toks) AS ntok
         |  FROM d),
         |c AS (SELECT source, pfx, COUNT(*) AS c FROM b GROUP BY 1, 2),
         |t AS (SELECT source, COUNT(*) AS n FROM b GROUP BY 1),
         |ch AS (SELECT source, pfx AS boiler_pfx FROM (
         |    SELECT c.source, c.pfx, c.c, t.n,
         |      ROW_NUMBER() OVER (PARTITION BY c.source
         |        ORDER BY c.c DESC, c.pfx) AS rn
         |    FROM c JOIN t USING (source))
         |  WHERE rn = 1 AND c * 1000 >= n * 600 AND c >= 2)
         |SELECT b.source, b.doc_id,
         |  (ch.boiler_pfx IS NOT NULL AND b.pfx = ch.boiler_pfx)
         |    AS stripped,
         |  CASE WHEN ch.boiler_pfx IS NOT NULL AND b.pfx = ch.boiler_pfx
         |    THEN GREATEST(b.ntok - 5, 0) ELSE b.ntok END
         |    AS n_tokens_after
         |FROM b LEFT JOIN ch USING (source) ORDER BY doc_id""".stripMargin
    },

    // The cluster closure extended one window: representative per
    // component by (longest text, smallest id), cluster size alongside.
    "q_dedup_canonical" -> {
      val sig = sqlMinhashSignature(sqlWordNgrams("text", 3), 16)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT doc_id, text FROM $sqlWithMutants),
         |sigs AS MATERIALIZED (
         |  SELECT doc_id AS id, $sig AS sig FROM corpus),
         |${sqlBandedCandidates(4, 4)},
         |pairs AS MATERIALIZED (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b,
         |      CAST(len(list_filter(list_zip(sig_a, sig_b), s -> s[1] = s[2])) AS DOUBLE)
         |        / 16 AS est_jaccard
         |    FROM cand) WHERE est_jaccard >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
         |comp AS MATERIALIZED (
         |  SELECT id AS doc_id, min(r) AS component
         |  FROM reach GROUP BY id),
         |sized AS (
         |  SELECT c.component, c.doc_id, length(k.text) AS nc
         |  FROM comp c JOIN corpus k USING (doc_id))
         |SELECT component, doc_id AS canonical_id,
         |  CAST(nc AS BIGINT) AS n_chars, n_docs
         |FROM (
         |  SELECT component, doc_id, nc,
         |    ROW_NUMBER() OVER (PARTITION BY component
         |      ORDER BY nc DESC, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY component) AS n_docs
         |  FROM sized)
         |WHERE rn = 1 ORDER BY component""".stripMargin
    },

    // The whole mix pipeline replayed in SQL: hash gate → banded LSH →
    // dup drop → window-cumsum packing. Same building blocks as the
    // per-stage oracles, composed.
    "q_pipeline_mix" -> {
      val sig = sqlMinhashSignature(sqlWordNgrams("text", 3), 16)
      s"""WITH corpus AS MATERIALIZED (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000000 AS doc_id, text || ' zzmutant' AS text, lang
         |  FROM documents),
         |sampled AS MATERIALIZED (
         |  SELECT doc_id, text, lang FROM corpus
         |  WHERE ${sqlHash32("CAST(doc_id AS VARCHAR)")} <
         |    CAST(FLOOR((CASE WHEN lang = 'en' THEN 0.5
         |                     WHEN lang = 'zh' THEN 0.9
         |                     ELSE 0.25 END) * 4294967296) AS BIGINT)),
         |sigs AS MATERIALIZED (
         |  SELECT doc_id AS id, $sig AS sig FROM sampled),
         |${sqlBandedCandidates(4, 4)},
         |dups AS (
         |  SELECT DISTINCT id_b FROM (
         |    SELECT id_b,
         |      CAST(len(list_filter(list_zip(sig_a, sig_b), s -> s[1] = s[2])) AS DOUBLE)
         |        / 16 AS est_jaccard
         |    FROM cand) WHERE est_jaccard >= 0.5),
         |kept AS (
         |  SELECT doc_id, lang, length(text) AS nc FROM sampled
         |  WHERE doc_id NOT IN (SELECT id_b FROM dups)),
         |packed AS (
         |  SELECT lang, CAST((cum - nc) // 20000 AS BIGINT) AS pack_id, nc
         |  FROM (
         |    SELECT lang, nc,
         |      SUM(nc) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
         |    FROM kept))
         |SELECT lang, pack_id, COUNT(*) AS n_docs,
         |  CAST(SUM(nc) AS BIGINT) AS pack_chars
         |FROM packed GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin
    },

    "q_pipeline_dedup" -> {
      val sig = sqlMinhashSignature(sqlWordNgrams("text", 3), 16)
      s"""WITH corpus AS MATERIALIZED (
         |  SELECT doc_id, text FROM $sqlWithMutants),
         |sigs AS MATERIALIZED (
         |  SELECT doc_id AS id, $sig AS sig FROM corpus),
         |${sqlBandedCandidates(4, 4, "pairs")},
         |dups AS (
         |  SELECT DISTINCT id_b FROM (
         |    SELECT id_a, id_b,
         |      CAST(len(list_filter(list_zip(sig_a, sig_b), s -> s[1] = s[2])) AS DOUBLE)
         |        / 16 AS est_jaccard
         |    FROM pairs) WHERE est_jaccard >= 0.5),
         |kept AS (
         |  SELECT doc_id, text FROM corpus
         |  WHERE doc_id NOT IN (SELECT id_b FROM dups))
         |SELECT doc_id % 10 AS bucket,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(len(${sqlToks("text")})) AS BIGINT) AS total_tokens,
         |  CAST(SUM(length(text)) AS BIGINT) AS total_chars
         |FROM kept GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    // the oracle is the O(n²) definition the banded pipeline must equal
    // exactly (pigeonhole recall is 1.0); DuckDB xor() because its ^ is
    // exponentiation
    "q_simhash_neardup" -> {
      val sh = sqlSimhash64(sqlToks(sqlNorm("text")))
      s"""WITH s AS (
         |  SELECT doc_id AS id, $sh AS sh FROM $sqlWithMutants)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         |FROM s a JOIN s b ON a.id < b.id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 4
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_native_hash" ->
      s"""SELECT doc_id, ${sqlHash32("text")} AS h32
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint_winnow" -> {
      // normalized text AND hash array staged in their own CTEs — inlined,
      // DuckDB re-evaluates the normalize per shingle and the whole
      // shingle-hash pipeline per window (O(n²) per doc)
      s"""WITH n AS MATERIALIZED (
         |  SELECT doc_id, ${sqlNormalizeText("text")} AS norm FROM documents),
         |h AS MATERIALIZED (
         |  SELECT doc_id, ${sqlHashedCharShinglesOfNormalized("norm", 5)} AS hs
         |  FROM n),
         |f AS (SELECT doc_id, ${sqlWinnowFromHashes("hs", 4)} AS fparr FROM h)
         |SELECT doc_id, array_to_string(fparr, ',') AS fp,
         |  CAST(len(fparr) AS INT) AS n_fp
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "q_vocab" ->
      s"""SELECT t AS token, COUNT(*) AS freq
         |FROM (SELECT unnest(${sqlToks(sqlNorm("text"))}) AS t FROM documents)
         |GROUP BY 1 ORDER BY freq DESC, token LIMIT 100""".stripMargin,

    "q_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${sqlToks(sqlNorm("text"))}) AS token
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (
         |  SELECT token, COUNT(*) AS df
         |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token,
         |    round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS score
         |  FROM tf JOIN df USING (token), n)
         |SELECT doc_id, token, score, rank FROM (
         |  SELECT doc_id, token, score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, token) AS INT) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_ngram_jaccard" -> {
      val grams = s"list_distinct(${sqlWordNgrams("text", 3)})"
      s"""WITH g AS (SELECT doc_id, $grams AS grams FROM $sqlWithMutants)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6)
         |    AS jaccard
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1000000000000
         |ORDER BY id_a""".stripMargin
    },

    "q_jaccard_selfjoin" -> {
      val grams = s"list_distinct(${sqlWordNgrams("text", 3)})"
      s"""WITH d AS (SELECT doc_id, $grams AS s FROM documents),
         |dd AS (SELECT doc_id, len(s) AS l, s FROM d),
         |e AS (SELECT doc_id, l, unnest(s) AS gr FROM dd),
         |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.l AS la, b.l AS lb, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.gr = b.gr AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, i AS inter, la AS size_a, lb AS size_b,
         |  (1000 * i) // (la + lb - i) AS jac_milli
         |FROM c WHERE 1000 * i >= 500 * (la + lb - i)
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_diversity" ->
      """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1, 2),
        |s AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot,
        |             CAST(SUM(n*(n-1)) AS BIGINT) AS num FROM c GROUP BY 1)
        |SELECT source, tot, num,
        |  CAST(num AS DOUBLE) / CAST(tot*(tot-1) AS DOUBLE) AS simpson,
        |  1.0 - CAST(num AS DOUBLE) / CAST(tot*(tot-1) AS DOUBLE)
        |    AS diversity
        |FROM s ORDER BY source""".stripMargin,

    // Weighted cum over the value order (RANGE frame: ties share their
    // block-end cum), ceil thresholds in integer arithmetic.
    "q_weighted_median" ->
      s"""WITH d AS (SELECT lang, n_chars AS v,
         |    CAST(len(${sqlToks("text")}) AS BIGINT) AS w
         |  FROM documents WHERE n_chars IS NOT NULL),
         |d2 AS (SELECT * FROM d WHERE w > 0),
         |t AS (SELECT lang, CAST(SUM(w) AS BIGINT) AS tw FROM d2
         |      GROUP BY 1),
         |c AS (SELECT lang, v, SUM(w) OVER (PARTITION BY lang ORDER BY v
         |        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
         |      FROM d2)
         |SELECT t.lang,
         |  MIN(v) FILTER (WHERE cw >= (tw * 1 + 1) // 2) AS w_p50,
         |  MIN(v) FILTER (WHERE cw >= (tw * 9 + 9) // 10) AS w_p90
         |FROM c JOIN t USING (lang) GROUP BY 1 ORDER BY 1""".stripMargin,

    // positional bigrams over the same normalized tokenization the
    // engine's tokenBigrams uses; docs with < 2 tokens have no bigram
    // and are absent on both sides by construction
    "q_lm_score" -> {
      val toks = sqlToks(sqlNorm("text"))
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token,
         |             generate_subscripts($toks, 1) AS pos
         |             FROM documents),
         |bg AS (SELECT a.doc_id, a.token AS t1, b.token AS t2
         |       FROM tok a JOIN tok b
         |         ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |c AS (SELECT t1, t2, COUNT(*) AS c FROM bg GROUP BY 1, 2)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CASE WHEN c.c >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common,
         |  CAST((1000 * SUM(CASE WHEN c.c >= 3 THEN 1 ELSE 0 END))
         |    // COUNT(*) AS BIGINT) AS coverage_milli
         |FROM bg JOIN c USING (t1, t2)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_phrase_search" -> {
      val toks = sqlToks(sqlNorm("text"))
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token,
         |             generate_subscripts($toks, 1) AS pos
         |             FROM documents),
         |bg AS (SELECT a.doc_id, a.token AS t1, b.token AS t2
         |       FROM tok a JOIN tok b
         |         ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |top AS (SELECT t1, t2 FROM bg GROUP BY 1, 2
         |        ORDER BY COUNT(*) DESC, t1, t2 LIMIT 1)
         |SELECT doc_id, COUNT(*) AS n_occurrences
         |FROM bg JOIN top USING (t1, t2)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }
  )
}
