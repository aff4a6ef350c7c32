package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.TextFunctions.{hash32, normalizeText, sqlHash32,
  sqlMinhashSignature, sqlBandedCandidates, sqlTokens, tokens}
import graft.operators.{Components, Dedup, Spread}
import graft.sources.Tables

/** ML-pipeline guardrail operators (SURVEY §2.11 extensions): the
  * measurement and split machinery a training-data pipeline runs AROUND
  * the corpus — group-aware fold assignment (near-dup clusters must not
  * straddle a train/eval boundary), inter-labeler agreement (Cohen's κ),
  * supervised feature association (per-token χ² against a label), and
  * random-hyperplane signatures over embeddings (the SimHash analogue for
  * dense vectors, the bucketing step of embedding-space near-dup at scale).
  *
  * All quotients are integer micro-units computed identically in Spark and
  * DuckDB (`div` / `//` both truncate toward zero — verified including
  * negatives); products route through DECIMAL(38,0)/HUGEINT so the same
  * expressions survive corpus sizes where N² overflows a 64-bit long.
  */
object MlOps extends QueryPack {

  private def docs(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents")

  /** documents ∪ mutated copy — the same near-dup fixture as the dedup
    * gates ([[TextOps]]), so fold assignment has real clusters to keep
    * together. */
  private def withMutants(s: SparkSession, dir: String) = {
    val d = docs(s, dir)
    // The +1e6 offset is only injective while every base id is below it;
    // a corpus that grew past the offset would silently alias a REAL
    // document as some other document's mutant (and `% 1000000` would
    // mis-recover the base) — with engine and oracle sharing the
    // convention, parity would stay green while the accounting is wrong.
    // So the base id is guarded row-by-row: growth past the offset fails
    // the job loudly instead. No extra pass — the guard rides the scan.
    val guardedId = Parity.guardedVariantId(col("doc_id"))
    d.select(guardedId.as("doc_id"), col("text"))
      .unionByName(d.select(
        (guardedId + MutantOffset).as("doc_id"),
        concat(col("text"), lit(" zzmutant")).as("text")))
  }

  private val MutantOffset = Parity.VariantOffset

  private val sqlWithMutants =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000000000 AS doc_id, text || ' zzmutant' AS text
      | FROM documents)""".stripMargin

  /** Random ±1 hyperplanes for [[defs q_embed_simhash]]: a tiny
    * deterministic model artifact generated once here and embedded as
    * literals in BOTH the Spark plan and the DuckDB oracle — cross-engine
    * agreement by construction, no shared-hash contract needed. */
  private val SimhashBits = 16
  private val EmbedDim = 64
  private val hyperplanes: IndexedSeq[IndexedSeq[Long]] =
    (0 until SimhashBits).map { j =>
      (0 until EmbedDim).map { i =>
        // Knuth multiplicative scramble of the (plane, dim) index; bit 13
        // is well-mixed. Any fixed formula works — both sides read THIS.
        if ((((j * EmbedDim + i) * 2654435761L) >>> 13 & 1L) == 1L) 1L
        else -1L
      }
    }

  override def defs: Map[String, Q] = Map(
    // Group-aware k-fold assignment: near-duplicate CLUSTERS (not
    // documents) are the split unit — hashing raw doc_ids would put a
    // mutant in fold 2 and its source in fold 4, leaking training text
    // into eval (the contamination q_decontaminate screens for, created
    // by the split itself). Fold = portable hash of the cluster
    // representative, so every member of a component lands together.
    // Scale: the pairs→components machinery is the audited LSH +
    // large-star/small-star path; the fold map adds one narrow projection
    // and a 10-row aggregate.
    "q_fold_assign" -> ((s, dir) =>
      // round 15: the labeling is the shared TextOps.mutantClusters
      // artifact (same corpus construction — MutantOffset ≡
      // Parity.VariantOffset, same mutation, same guard — so the
      // LSH+CC chain builds once per session/corpus for this gate,
      // q_dedup_cluster and q_dedup_canonical)
      TextOps.mutantClusters(s, dir)
        .select(col("doc_id"), col("component"),
          pmod(hash32(concat(lit("fold:"), col("component").cast("string"))),
            lit(5L)).as("fold"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_components"))
        .orderBy(col("fold"))),

    // Cohen's κ between two heuristic labelers (the q_eval_confusion
    // pair: truth = n_chars ≥ 400, pred = token count ≥ 80), per
    // language. κ = (p_o − p_e)/(1 − p_e) in exact integer micro-units:
    // with E = (a+b)(a+c) + (c+d)(b+d), κ_micro = 10⁶(N(a+d) − E) /
    // (N² − E) — numerator/denominator both DECIMAL(38,0), truncating
    // division identical in both engines (also for negative κ).
    "q_cohen_kappa" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"),
          (col("n_chars") >= 400).as("t"),
          (graft.functions.TextFunctions.tokenCount(col("text")) >= 80)
            .as("p"))
        .groupBy(col("lang"))
        .agg(
          sum(when(col("t") && col("p"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("t") && col("p"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("t") && !col("p"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("t") && !col("p"), 1L).otherwise(0L)).as("tn"),
          count(lit(1)).as("n"))
        .withColumn("kappa_micro", expr(
          """CAST((1000000 * (CAST(n AS DECIMAL(38,0)) * (tp + tn)
            |  - (CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
            |     + CAST(fn + tn AS DECIMAL(38,0)) * (fp + tn))))
            | div NULLIF(CAST(n AS DECIMAL(38,0)) * n
            |  - (CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
            |     + CAST(fn + tn AS DECIMAL(38,0)) * (fp + tn)), 0)
            | AS BIGINT)""".stripMargin))
        .select(col("lang"), col("tp"), col("fp"), col("fn"), col("tn"),
          col("kappa_micro"))
        .orderBy(col("lang"))
    }),

    // Supervised feature association: per-token χ² against the lang='en'
    // label over document frequencies (distinct token per doc), top-20.
    // χ²_micro = 10⁶ · N(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)) — the 2×2
    // χ² closed form, exact in DECIMAL(38,0) (N(ad−bc)²·10⁶ overflows
    // long well below 100 TB corpus sizes). Ubiquitous tokens
    // (df = N ⇒ c+d = 0) and rare ones (df < 25) are excluded up front.
    // Plan shape: explode → (token) aggregate → broadcast 1-row totals →
    // top-20 via TakeOrderedAndProject. The aggregate's key space is the
    // vocabulary — bounded and hash-partitioned, never collected.
    "q_token_chi2" -> ((s, dir) => {
      val tot = docs(s, dir).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_pos"),
        count(lit(1)).as("n"))
      docs(s, dir)
        .select((col("lang") === "en").as("pos"),
          explode(array_distinct(tokens(normalizeText(col("text")))))
            .as("token"))
        .groupBy(col("token"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("a"),
          sum(when(!col("pos"), 1L).otherwise(0L)).as("b"))
        .crossJoin(broadcast(tot))
        .filter(col("a") + col("b") >= 25 && col("a") + col("b") < col("n"))
        .select(col("token"), col("a"), col("b"),
          // ad−bc is computed with a DECIMAL factor FIRST, so the products
          // widen before they can wrap a 64-bit long, and the division is
          // STAGED: (ad−bc)² is divided by the document-frequency marginals
          // before the ×10⁶N factor, so no intermediate exceeds
          // DECIMAL(38,0)/HUGEINT until N ≈ 6×10⁹ docs (the unstaged
          // numerator 10⁶·N·(ad−bc)² wrapped at N ≈ 4×10⁶ — far below the
          // 100 TB posture). The inner divisor is > 0 by the df filter
          // (25 ≤ a+b < n); NULLIF guards the degenerate all-one-label
          // corpus where a label marginal is zero (Spark div would NULL,
          // DuckDB // would throw). The staged floor costs < 10⁶·N /
          // (n_pos·(n−n_pos)) micro-units — sub-ppm for any balanced
          // corpus, and the oracle floors identically.
          expr(
            """CAST((1000000 * CAST(n AS DECIMAL(38,0))
              |  * (((CAST(a AS DECIMAL(38,0)) * (n - n_pos - b)
              |       - CAST(b AS DECIMAL(38,0)) * (n_pos - a))
              |      * (CAST(a AS DECIMAL(38,0)) * (n - n_pos - b)
              |         - CAST(b AS DECIMAL(38,0)) * (n_pos - a)))
              |     div (CAST(a + b AS DECIMAL(38,0)) * (n - a - b))))
              | div NULLIF(CAST(n_pos AS DECIMAL(38,0)) * (n - n_pos), 0)
              | AS BIGINT)""".stripMargin).as("chi2_micro"))
        .orderBy(col("chi2_micro").desc, col("token"))
        .limit(20)
    }),

    // Random-hyperplane signatures over embeddings — SimHash for dense
    // vectors: bit j = sign⟨v, h_j⟩ with ±1 hyperplanes. Components are
    // quantized to integer 2⁻²⁰ units FIRST, so every dot product is
    // exact integer arithmetic (a float Σ±vᵢ would be fold-order-
    // sensitive across engines). The signature is the LSH bucket key for
    // embedding-space near-dup at scale: |bucket|² verify work instead of
    // |corpus|², same posture as the MinHash path. Output: each vector's
    // signature + its bucket population (the skew observability number).
    "q_embed_simhash" -> ((s, dir) => {
      // checkpointed: the signature scan feeds both the census and the
      // join probe side — without it the 16-plane pass runs twice
      val signed = signedEmbeddings(s, dir)
        .select(col("vec_id"), col("sig")).localCheckpoint()
      val buckets = signed.groupBy(col("sig"))
        .agg(count(lit(1)).as("bucket_n"))
      signed.join(broadcast(buckets), Seq("sig"))
        .select(col("vec_id"), col("sig"), col("bucket_n"))
        .orderBy(col("vec_id"))
    }),

    // The signature made actionable: multiprobe LSH retrieval of the
    // top-50 candidate pairs by verified cosine. Candidates = signature
    // Hamming distance ≤ 1, generated WITHOUT an all-pairs comparison:
    // the probe side explodes each vector's 17 probe keys (identity +
    // every 1-bit flip) and equi-joins the index side on the exact
    // signature — a keyed shuffle join whose work is Σ|bucket|·probes,
    // not |corpus|²; each unordered pair matches exactly one probe key,
    // so no dedup pass is needed. Verification (exact cosine, rounded
    // micro) runs on candidates only; final top-50 is a bounded heap.
    //
    // Skew cap: vectors in signature buckets larger than [[EmbedMaxBucket]]
    // are excluded from BOTH join sides before candidate generation (the
    // [[graft.operators.Dedup.minhashPairs]] maxBucket discipline) —
    // within-bucket pair work is quadratic in occupancy, and one dense
    // direction cluster at corpus scale would otherwise dominate the whole
    // job. Measured: a 10× clustered corpus grew same-sig pairs ×105; the
    // cap bounds any bucket's pair work at cap²/2. Inactive at gate scale
    // (max observed bucket 51 < 128), so the oracle encodes the same cap.
    "q_embed_neardup_lsh" -> ((s, dir) => {
      val (_, pairs) = cappedSimhashPairs(s, dir, carryEmbedding = true)
      pairs
        .select(col("id_a"), col("id_b"),
          round(graft.operators.Similarity.cosine(col("va"), col("vb")), 6)
            .as("cos6"))
        .orderBy(col("cos6").desc, col("id_a"), col("id_b"))
        .limit(50)
    }),

    "q_ngram_novelty" -> ((s, dir) => ngramNovelty(s, dir)),

    // A/B experiment readout over the events table: users split by a
    // deterministic hash of user_id (the assignment any experimentation
    // system replays), conversion = "power purchaser" (≥ 14 purchase
    // events — a threshold that splits users near the median at every
    // SF, so the 2×2 table is non-degenerate and χ² is defined).
    // Output per variant: exposed users, converters, rate in micro-units
    // — plus the same exact-integer χ² statistic as q_chi2/q_token_chi2
    // on the 2×2 (variant × converted) table, attached to both rows so
    // the readout is one self-contained frame. All integer arithmetic
    // (DECIMAL(38,0)/HUGEINT products); one user-keyed aggregate, one
    // 2-row rollup.
    // Leakage-free target encoding (round 9): the categorical-encoding
    // guardrail — each (category, fold) cell is encoded by the target
    // mean computed EXCLUDING that fold (out-of-fold), so the encoding a
    // fold's eval rows see never contains their own targets. Plus the
    // m=20-smoothed variant pulling sparse categories toward the global
    // prior. All integer milli-units, products through DECIMAL(38,0)/
    // HUGEINT (the chi2 staging discipline); category and global stats
    // are tiny aggregates broadcast back over the (category, fold) grid.
    "q_target_encode" -> ((s, dir) => {
      val d = docs(s, dir).select(col("source"),
        pmod(hash32(concat(lit("fold:"), col("doc_id").cast("string"))),
          lit(5L)).as("fold"),
        col("n_chars"))
      val cf = d.groupBy(col("source"), col("fold"))
        .agg(count(lit(1)).as("n_cf"), sum(col("n_chars")).as("s_cf"))
      val c = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_c"), sum(col("n_chars")).as("s_c"))
      val g = d.agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
      cf.join(broadcast(c), "source").crossJoin(broadcast(g))
        .select(col("source"), col("fold"),
          (col("n_c") - col("n_cf")).as("n_oof"),
          expr("""CAST((1000 * CAST(s_c - s_cf AS DECIMAL(38,0)))
                 | div NULLIF(n_c - n_cf, 0) AS BIGINT)""".stripMargin)
            .as("enc_milli"),
          expr("""CAST((1000 * (CAST(s_c - s_cf AS DECIMAL(38,0)) * n
                 |  + 20 * CAST(s AS DECIMAL(38,0))))
                 | div ((n_c - n_cf + 20) * CAST(n AS DECIMAL(38,0)))
                 | AS BIGINT)""".stripMargin).as("enc_smooth_milli"))
        .orderBy(col("source"), col("fold"))
    }),

    // CUPED variance reduction (round 9): the experiment readout with
    // pre-period covariate adjustment — Y' = Y − θ(X − E[X]) where X is
    // each user's pre-period spend, Y the post-period spend, and
    // θ = cov(X,Y)/var(X) pooled. Everything reduces to per-variant
    // SUMS, so the adjusted means need no second per-user pass:
    // mean_adj_v = Ȳ_v − θ(X̄_v − X̄). Co-moments are exact via the
    // q_corr_regr discipline (per-user x/y are decimal-routed doubles,
    // products cast DECIMAL(38,8) before the order-independent sum,
    // string-routed back); the pre/post split is the integer midpoint of
    // the corpus time range (broadcast 1-row).
    "q_cuped" -> ((s, dir) => {
      val d38 = DecimalType(38, 8)
      def sRoute(c: org.apache.spark.sql.Column) =
        c.cast("string").cast("double")
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
      val mid = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid"))
      val per = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(
          sRoute(sum(when(col("us") < col("mid"), col("value"))
            .otherwise(0.0).cast(DecimalType(18, 4)))).as("x"),
          sRoute(sum(when(col("us") >= col("mid"), col("value"))
            .otherwise(0.0).cast(DecimalType(18, 4)))).as("y"))
        .withColumn("variant", pmod(hash32(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
        // round 18: census leaf (ScanCount: the fan-out re-ran the
        // fact scan per consumer; see OPTIMIZATION_r18.md)
        .localCheckpoint(eager = false)
      val g = per.agg(
        count(lit(1)).as("n"),
        sRoute(sum(col("x").cast(DecimalType(18, 4)))).as("sx"),
        sRoute(sum(col("y").cast(DecimalType(18, 4)))).as("sy"),
        sRoute(sum((col("x") * col("y")).cast(d38))).as("sxy"),
        sRoute(sum((col("x") * col("x")).cast(d38))).as("sxx"))
      val theta = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      per.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"),
          sRoute(sum(col("x").cast(DecimalType(18, 4)))).as("sxv"),
          sRoute(sum(col("y").cast(DecimalType(18, 4)))).as("syv"))
        .crossJoin(broadcast(g))
        .select(col("variant"), col("n_users"),
          round(col("syv") / col("n_users"), 6).as("mean_y"),
          round(col("syv") / col("n_users") -
            theta * (col("sxv") / col("n_users") - col("sx") / col("n")), 6)
            .as("mean_adj"),
          round(theta, 6).as("theta"))
        .orderBy(col("variant"))
    }),

    "q_ab_experiment" -> ((s, dir) => {
      val users = Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) >= 14, 1L).otherwise(0L)
          .as("converted"))
        .select(
          pmod(hash32(concat(lit("ab:"), col("user_id").cast("string"))),
            lit(2L)).as("variant"),
          col("converted"))
      val cells = users.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
      val tot = cells.agg(
        sum(when(col("variant") === 0, col("n_conv"))).as("a"),
        sum(when(col("variant") === 0, col("n_users") - col("n_conv")))
          .as("b"),
        sum(when(col("variant") === 1, col("n_conv"))).as("c"),
        sum(when(col("variant") === 1, col("n_users") - col("n_conv")))
          .as("d"))
      cells.crossJoin(broadcast(tot))
        .select(col("variant"), col("n_users"), col("n_conv"),
          expr("(1000000 * n_conv) div n_users").as("rate_micro"),
          // staged like q_token_chi2: (ad−bc)² div the variant marginals
          // FIRST, then ×10⁶N div the conversion marginals — exact in
          // DECIMAL(38,0) to N ≈ 6×10⁹ users (unstaged wrapped at ~4×10⁶)
          expr(
            """CAST((1000000 * CAST(a + b + c + d AS DECIMAL(38,0))
              |  * (((CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
              |      * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c))
              |     div NULLIF(CAST(a + b AS DECIMAL(38,0)) * (c + d), 0)))
              | div NULLIF(CAST(a + c AS DECIMAL(38,0)) * (b + d), 0)
              | AS BIGINT)""".stripMargin)
            .as("chi2_micro"))
        .orderBy(col("variant"))
    }),

    // Distributed Lloyd k-means, 3 exact integer rounds over the full
    // corpus (operators/KMeansLloyd — assignment is a codegen'd literal-
    // centroid expression, update one (K×dim)-key aggregate per round;
    // the K×64-long centroid table is the only driver artifact). The
    // oracle unrolls the identical recurrence in SQL, like q_pagerank.
    "q_kmeans_lloyd" -> ((s, dir) =>
      graft.operators.KMeansLloyd.summary(
        Tables.load(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), k = KmK, iters = KmIters)),

    // Semantic dedup, SemDeDup-shaped (Abbas et al. 2023, round 15):
    // cluster the embedding space with the SAME deterministic k-means the
    // q_kmeans_lloyd gate pins, then search for near-duplicates ONLY
    // within a cluster — the corpus-quadratic all-pairs never exists; each
    // vector shuffles ONCE keyed by cid and the per-cluster pair frame is
    // |cluster|²-bounded (at 100 TB, k scales with the corpus — SemDeDup
    // uses n/⟨cluster⟩ clusters — so the quadratic term stays constant
    // per cluster; the q_embed_neardup_lsh occupancy-cap pattern applies
    // if a cluster degenerates). The keep policy is deterministic:
    // cosine ≥ 0.85 pairs keep the SMALLEST vec_id (the stand-in for
    // SemDeDup's keep-closest-to-centroid). The cosine test is an exact
    // integer cross-multiplication over the 2⁻²⁰-quantized vectors —
    // cos ≥ 0.85 ⟺ dot > 0 ∧ 400·dot² ≥ 289·|a|²·|b|² — staged
    // DECIMAL(38,0)/HUGEINT (dot ≤ 64·2⁴⁰ < 2⁴⁶, dot² < 2⁹² < 10³⁸),
    // so the threshold boundary cannot flip between engines. The corpus
    // plants a near-duplicate of every vector (+0.001 per component —
    // cos ≈ 1, distance shift too small to change its cluster — at
    // id + VariantOffset) so the detection path is exercised: roughly
    // half the corpus must drop, and the exact split is oracle-pinned.
    // Float→double is exact and the +0.001 is the same IEEE double op
    // in both engines, so the planted components quantize identically.
    "q_semdedup" -> ((s, dir) => {
      def emb = Tables.load(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("embedding"))
        .unionByName(emb.select(
          (Parity.guardedVariantId(col("vec_id"))
            + Parity.VariantOffset).as("vec_id"),
          transform(col("embedding"), x => x.cast("double") + 0.001)
            .as("embedding")))
      val (assign, _) = graft.operators.KMeansLloyd.fit(
        corpus, col("vec_id"), col("embedding"), k = KmK, iters = KmIters)
      // native codegen'd integer dot (plans/DotLongExpr) — the composed
      // zip_with/aggregate fold is interpreted per element and dominated
      // the pair stage (bench r15: 8.2 s isolated, ~5.5 s of it here)
      def dotL(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) = {
        import org.apache.spark.sql.graft.ColumnBridge
        ColumnBridge.column(graft.plans.DotLongExpr(
          ColumnBridge.expression(a), ColumnBridge.expression(b)))
      }
      val m = assign.select(col("id"), col("cid"), col("vq"),
        dotL(col("vq"), col("vq")).as("n2"))
      val dot = dotL(col("va"), col("vb"))
      val pairs = m
        .select(col("cid"), col("id").as("ia"), col("vq").as("va"),
          col("n2").as("na2"))
        .join(m.select(col("cid"), col("id").as("ib"),
          col("vq").as("vb"), col("n2").as("nb2")), Seq("cid"))
        .filter(col("ia") < col("ib"))
        .select(col("cid"), col("ib"), dot.as("dot"),
          col("na2"), col("nb2"))
        .filter(col("dot") > 0 &&
          col("dot").cast(DecimalType(38, 0)) * col("dot") * 400 >=
            col("na2").cast(DecimalType(38, 0)) * col("nb2") * 289)
      val dropped = pairs.select(col("cid"), col("ib")).distinct()
        .groupBy(col("cid")).agg(count(lit(1)).as("n_dropped"))
      assign.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
        .join(dropped, Seq("cid"), "left")
        .select(col("cid"), col("n_members"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_members") -
            coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
        .orderBy(col("cid"))
    }),

    // Classifier calibration report: the q_quality_model linear score
    // binned into fixed 1000-milli bands vs the observed positive rate —
    // the reliability-diagram table an eval stage prints. Bin index uses
    // truncating integer division (identical cross-engine, incl. negative
    // scores: the zero bin spans (−1000, 1000), documented). One token
    // aggregate + one bin aggregate; nothing leaves the cluster.
    "q_calibration_bins" -> ((s, dir) => {
      // the score comes from THE shared toy-model definition
      // ([[PipelineOps.toyModelScores]]) — the calibration readout can
      // never drift from the model whose keep decision it calibrates
      val scored = PipelineOps.toyModelScores(
        docs(s, dir).select(col("doc_id"),
          (col("n_chars") >= 400).as("pos"), col("text")))
      scored
        .select(expr("score_milli div 1000").as("bin"), col("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
        .select(col("bin"), col("n"), col("n_pos"),
          expr("(1000 * n_pos) div n").as("pos_rate_milli"))
        .orderBy(col("bin"))
    }),

    // Deletion-cascade audit (right-to-be-forgotten compliance): a
    // deletion request for a document must also remove its near-
    // duplicates — the content survives otherwise. Seeds = a
    // deterministic pseudo request list (doc_id ≡ 0 mod 97); the cascade
    // drops every near-dup component containing a seed. Output: per-lang
    // kept/dropped accounting over the mutant corpus (mutants report
    // under their base document's language). Plan: the audited LSH →
    // components path + one semi-join of components against seeds + one
    // keyed aggregate — no new shuffle shapes.
    "q_deletion_cascade" -> ((s, dir) => {
      val d = withMutants(s, dir)
      val pairs = Dedup.minhashPairs(d, col("text"), col("doc_id"),
        shingleSize = 3, k = 16, bands = 4, threshold = 0.5)
      val comps = Components.connectedComponents(
          pairs.select(col("id_a"), col("id_b")),
          d.select(col("doc_id")))
        .select(col("id").as("doc_id"), col("component"))
      // seedComps grows with the corpus (~1/97 of docs), so no forced
      // broadcast — a plain left join lets AQE broadcast only when it
      // fits (unlike the genuinely bounded censuses elsewhere)
      val seedComps = comps.filter(col("doc_id") % 97 === 0)
        .select(col("component")).distinct()
      val flagged = comps.join(seedComps
          .withColumn("dropped", lit(true)), Seq("component"), "left")
        .select(col("doc_id"),
          coalesce(col("dropped"), lit(false)).as("dropped"))
      val langs = docs(s, dir).select(col("doc_id").as("base_id"),
        col("lang"))
      flagged
        .withColumn("base_id", col("doc_id") % Parity.VariantOffset)
        .join(langs, Seq("base_id"))
        .groupBy(col("lang"))
        .agg(sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(!col("dropped"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("lang"))
    }),

    // Weak-supervision densification: labels propagate across the
    // embedding near-dup graph — every vector in a connected component of
    // the (Hamming ≤ 1, bucket-capped) signature graph adopts the
    // component's majority label (ties break to the smallest label, via a
    // rank-1 window PARTITIONED by component — parallel, never global).
    // The components machinery is the same audited large-star/small-star
    // path the text dedup uses; label counting adds one keyed aggregate.
    "q_label_propagate" -> ((s, dir) => {
      val (signed, rawPairs) = cappedSimhashPairs(s, dir)
      val pairs = rawPairs.select(col("id_a"), col("id_b"))
      val comps = Components.connectedComponents(pairs,
        signed.select(col("vec_id")))
        .select(col("id").as("vec_id"), col("component"))
      val labeled = comps.join(
        Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label")), Seq("vec_id"))
      val counts = labeled.groupBy(col("component"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("cnt").desc, col("label"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .join(labeled.groupBy(col("component"))
          .agg(count(lit(1)).as("n_members")), Seq("component"))
        .select(col("component"), col("n_members"),
          col("label").cast("long").as("majority_label"),
          col("cnt").as("n_majority"))
        .orderBy(col("component"))
    }),

    // Purged time-series K-fold with embargo (round 10): the split
    // guardrail for temporally-correlated data — fold membership by day
    // range, and TRAINING additionally excludes an embargo of 1 day on
    // each side of the validation block (rows adjacent in time to
    // validation leak label information through autocorrelation; purging
    // them is the finance-standard fix). Everything is integer day
    // arithmetic on the (broadcast 1-row) corpus time bounds; each row
    // classifies against all K folds via a broadcast fold dim. Guards on
    // rel±1 keep the fold-of-day map inside [0, n_days) — Spark div
    // truncates toward zero while the oracle's // floors, and they only
    // agree on non-negatives.
    "q_purged_split" -> ((s, dir) => {
      val K = 5
      val e = Tables.load(s, dir, "events")
        .select(expr("unix_micros(ts) div 86400000000").as("d"))
      val bounds = e.agg(min(col("d")).as("min_d"),
        (max(col("d")) - min(col("d")) + 1).as("n_days"))
      val folds = s.range(0, K).select(col("id").as("f"))
      val rows = e.crossJoin(broadcast(bounds))
        .withColumn("rel", col("d") - col("min_d"))
        .crossJoin(broadcast(folds))
        .withColumn("fd", expr(s"(rel * $K) div n_days"))
        .withColumn("is_val", col("fd") === col("f"))
        .withColumn("is_embargo", !col("is_val") &&
          ((col("rel") > 0 &&
            expr(s"((rel - 1) * $K) div n_days") === col("f")) ||
           (col("rel") < col("n_days") - 1 &&
            expr(s"((rel + 1) * $K) div n_days") === col("f"))))
      rows.groupBy(col("f"))
        .agg(sum(when(col("is_val"), 1L).otherwise(0L)).as("n_val"),
          sum(when(col("is_embargo"), 1L).otherwise(0L)).as("n_embargo"),
          sum(when(!col("is_val") && !col("is_embargo"), 1L)
            .otherwise(0L)).as("n_train"))
        .orderBy(col("f"))
    }),

    // Deterministic negative sampling (round 10): contrastive-pair
    // generation — K pseudo-random negatives per document via a
    // Weyl-style stride over the GLOBAL RANK FRAME (rank built by the
    // distributed value-bucketed ranker, never a single-partition
    // window; the stride constant is the Knuth multiplier so consecutive
    // docs get scattered negatives). All integer modular arithmetic —
    // ((rank−1)·2654435761 + k·40503) mod n — products stay < 2⁶³ to
    // corpus sizes of ~3×10⁹ docs; rare self-collisions are dropped
    // (declared: UP TO K negatives each).
    "q_negative_sample" -> ((s, dir) => {
      val K = 2
      val ranks = graft.operators.Percentiles.globalRanksTieBroken(
          Tables.load(s, dir, "documents"), lit(0), col("doc_id"),
          col("doc_id"))
        .select(col("tie").as("doc_id"), col("rank"), col("n"))
      val negs = ranks
        .select(col("doc_id"), col("rank"), col("n"),
          explode(sequence(lit(1), lit(K))).as("k"))
        .withColumn("neg_rank",
          expr("((rank - 1) * 2654435761 + k * 40503) % n + 1"))
        .filter(col("neg_rank") =!= col("rank"))
      negs.join(ranks.select(col("rank").as("neg_rank"),
          col("doc_id").as("neg_id")), Seq("neg_rank"))
        .select(col("doc_id"), col("k").cast("long").as("k"), col("neg_id"))
        .orderBy(col("doc_id"), col("k"))
    })
  )

  /** Skew cap for [[defs q_embed_neardup_lsh]]: buckets above this
    * occupancy are dropped from candidate generation on both sides. */
  private val EmbedMaxBucket = 128

  /** k-means gate parameters (shared by the query and its oracle). */
  private val KmK = 8
  private val KmIters = 3

  /** WITH-clause body replaying [[graft.operators.KMeansLloyd.fit]] in
    * DuckDB — quantize (q), seed centroids (c0f), then KmIters
    * assign+update rounds; `a$KmIters` is the final (id, vq, cid)
    * assignment and `c${KmIters}f` the final centroids. Shared by the
    * q_kmeans_lloyd and q_semdedup oracles; `source` is the (vec_id,
    * embedding) relation to cluster. */
  private def sqlKmeansAssign(source: String = "embeddings"): String = {
    // squared integer distance between the vq list and a centroid list
    def dist(v: String, c: String) =
      s"list_sum(list_transform(list_zip($v, $c), s -> (s[1] - s[2]) * (s[1] - s[2])))"
    // one assign+update round: a<i> assigns against c<i-1>f, c<i>f is
    // the floor-mean update with empty clusters keeping their centroid
    def round_(i: Int): String =
      s"""a$i AS (SELECT id, vq, cid FROM (
         |  SELECT q.id, q.vq, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY q.id
         |      ORDER BY ${dist("q.vq", "c.cv")}, c.cid) AS rn
         |  FROM q, c${i - 1}f c) WHERE rn = 1),
         |u$i AS (SELECT cid, dim,
         |    CAST(SUM(vq[dim]) // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS m
         |  FROM a$i, (SELECT unnest(generate_series(1, $EmbedDim)) AS dim)
         |  GROUP BY cid, dim),
         |n$i AS (SELECT cid, list(m ORDER BY dim) AS cv FROM u$i GROUP BY cid),
         |c${i}f AS (SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
         |  FROM c${i - 1}f p LEFT JOIN n$i n USING (cid))""".stripMargin
    val rounds = (1 to KmIters).map(round_).mkString(",\n")
    s"""q AS (SELECT vec_id AS id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT))
       |      AS vq
       |  FROM $source),
       |c0f AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS BIGINT)
       |      AS cid, vq AS cv
       |  FROM (SELECT id, vq FROM q ORDER BY id LIMIT $KmK)),
       |$rounds""".stripMargin
  }

  /** Corpus-novelty scoring (curriculum/sampling signal): the fraction of
    * each document's distinct 3-grams whose FIRST corpus occurrence (by
    * doc_id order) is this document. High novelty = fresh content; low =
    * templated/boilerplate.
    *
    * Grams are identified by a portable 60-bit md5 fingerprint (15 hex
    * chars — fits BIGINT in both engines; a collision merges two grams
    * with probability ~n²/2⁶¹, negligible AND computed identically by the
    * oracle, so parity holds by construction). The fingerprint is what
    * makes the plan scale: the gram-keyed shuffle carries an 8-byte key
    * instead of arbitrary-length strings.
    *
    * Plan shape — aggregations only, NO gram-keyed join-back (a first cut
    * joined the exploded gram frame against the min-doc table on the gram
    * STRING: it recomputed the explode twice and shuffled full strings
    * twice — 20 s at sf0.1 vs ~2 s for this form): the checkpointed
    * (doc, fp) frame feeds (1) a doc-keyed count = n_grams, and (2) an
    * fp-keyed min(doc_id) whose RESULT re-aggregates by first_doc =
    * n_novel per doc — two bounded aggregates joined doc-keyed (corpus-
    * row-sized, not gram-sized). */
  private def ngramNovelty(s: SparkSession, dir: String) = {
    // spread BEFORE the gram fan-out: the per-gram md5 work is ~300× the
    // scan, and a few-MB documents file is ONE split — unspread, the whole
    // explode runs in a single task (the Bootstrap.poissonMeanCi lesson)
    val g = Spread(docs(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.TextFunctions.wordNgrams(col("text"), 3)))
          .as("gram"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(gram), 1, 15), 16, 10) AS BIGINT)")
          .as("fp"))
      .localCheckpoint()
    val perDoc = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val novel = g.groupBy(col("fp")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, col("doc_id") === col("first_doc"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("(1000 * coalesce(n_novel, 0)) div n_grams")
          .as("novelty_milli"))
      .orderBy(col("doc_id"))
  }

  /** The ONE capped multiprobe candidate contract shared by every
    * signature-graph consumer (retrieval, label propagation): the
    * checkpointed signed frame plus the Hamming-≤1 pair frame
    * (id_a < id_b; columns va/vb carried when `carryEmbedding`).
    * Candidates come from a 17-key probe explode equi-joined on the exact
    * signature — work Σ|bucket|·probes, never |corpus|² — with vectors in
    * buckets above [[EmbedMaxBucket]] excluded from BOTH sides (the
    * [[graft.operators.Dedup.minhashPairs]] skew discipline; a 10×
    * clustered corpus grew same-sig pairs ×105 uncapped). A probe-radius
    * or cap change here changes every consumer AND is mirrored once in
    * each oracle — never hand-synchronized across queries. */
  private def cappedSimhashPairs(s: SparkSession, dir: String,
      carryEmbedding: Boolean = false)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val signed = signedEmbeddings(s, dir).localCheckpoint()
    // ≤ 2^16 rows by construction — broadcastable bucket census
    val buckets = signed.groupBy(col("sig"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= EmbedMaxBucket)
    val capped = signed.join(broadcast(buckets), Seq("sig"))
    val probeKeys = array((0 until SimhashBits)
      .map(j => col("sig").bitwiseXOR(lit(1L << j))) :+ col("sig"): _*)
    val (probeCols, indexCols) =
      if (carryEmbedding)
        (Seq(col("vec_id").as("id_a"), col("embedding").as("va"),
          explode(probeKeys).as("psig")),
          Seq(col("vec_id").as("id_b"), col("embedding").as("vb"),
            col("sig").as("psig")))
      else
        (Seq(col("vec_id").as("id_a"), explode(probeKeys).as("psig")),
          Seq(col("vec_id").as("id_b"), col("sig").as("psig")))
    val pairs = capped.select(probeCols: _*)
      .join(capped.select(indexCols: _*), Seq("psig"))
      .filter(col("id_a") < col("id_b"))
    (signed, pairs)
  }

  /** (vec_id, embedding, sig): the shared signature frame for the two
    * simhash queries. */
  private def signedEmbeddings(s: SparkSession, dir: String) = {
    val vq = transform(col("embedding"),
      x => round(x.cast("double") * lit(1048576L)).cast("long"))
    val sig = hyperplanes.zipWithIndex.map { case (hp, j) =>
      val dot = aggregate(
        zip_with(col("vq"), lit(hp.toArray), (x, h) => x * h),
        lit(0L), (acc, x) => acc + x)
      when(dot >= 0L, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), vq.as("vq"))
      .select(col("vec_id"), col("embedding"), sig.as("sig"))
  }

  override def oracle: Map[String, String] = Map(
    "q_negative_sample" ->
      """WITH r AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY doc_id) AS rank,
        |    COUNT(*) OVER () AS n
        |  FROM documents),
        |g AS (SELECT doc_id, k.k AS k, rank, n,
        |    ((rank - 1) * 2654435761 + k.k * 40503) % n + 1 AS neg_rank
        |  FROM r CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS k) k)
        |SELECT g.doc_id AS doc_id, CAST(g.k AS BIGINT) AS k,
        |  r2.doc_id AS neg_id
        |FROM g JOIN r r2 ON r2.rank = g.neg_rank
        |WHERE g.neg_rank != g.rank
        |ORDER BY g.doc_id, g.k""".stripMargin,

    "q_purged_split" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS d FROM events),
        |b AS (SELECT MIN(d) AS min_d, MAX(d) - MIN(d) + 1 AS n_days
        |      FROM e),
        |r AS (SELECT d - min_d AS rel, n_days FROM e, b),
        |x AS (SELECT rel, n_days, f.f AS f,
        |    (rel * 5) // n_days AS fd,
        |    CASE WHEN (rel * 5) // n_days = f.f THEN 1 ELSE 0 END AS is_val
        |  FROM r CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS f) f),
        |y AS (SELECT f, is_val,
        |    CASE WHEN is_val = 0 AND (
        |        (rel > 0 AND ((rel - 1) * 5) // n_days = f)
        |     OR (rel < n_days - 1 AND ((rel + 1) * 5) // n_days = f))
        |      THEN 1 ELSE 0 END AS is_embargo
        |  FROM x)
        |SELECT CAST(f AS BIGINT) AS f,
        |  CAST(SUM(is_val) AS BIGINT) AS n_val,
        |  CAST(SUM(is_embargo) AS BIGINT) AS n_embargo,
        |  CAST(SUM(CASE WHEN is_val = 0 AND is_embargo = 0 THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_train
        |FROM y GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_fold_assign" -> {
      val sig = sqlMinhashSignature(
        graft.functions.TextFunctions.sqlWordNgrams("text", 3), 16)
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
         |comp AS (SELECT id AS doc_id, min(r) AS component
         |         FROM reach GROUP BY id)
         |SELECT ${sqlHash32("'fold:' || CAST(component AS VARCHAR)")} % 5
         |    AS fold,
         |  COUNT(*) AS n_docs,
         |  CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components
         |FROM comp GROUP BY fold ORDER BY fold""".stripMargin
    },

    "q_cohen_kappa" ->
      s"""WITH d AS (SELECT lang, n_chars >= 400 AS t,
         |    len(${sqlTokens("text")}) >= 80 AS p FROM documents),
         |c AS (SELECT lang,
         |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM d GROUP BY 1)
         |SELECT lang, tp, fp, fn, tn,
         |  CAST((1000000 * (CAST(n AS HUGEINT) * (tp + tn)
         |    - (CAST(tp + fp AS HUGEINT) * (tp + fn)
         |       + CAST(fn + tn AS HUGEINT) * (fp + tn))))
         |   // NULLIF(CAST(n AS HUGEINT) * n
         |    - (CAST(tp + fp AS HUGEINT) * (tp + fn)
         |       + CAST(fn + tn AS HUGEINT) * (fp + tn)), 0)
         |   AS BIGINT) AS kappa_micro
         |FROM c ORDER BY lang""".stripMargin,

    "q_token_chi2" ->
      s"""WITH tot AS (SELECT
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pos,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM documents),
         |d AS (SELECT lang = 'en' AS pos,
         |    unnest(list_distinct(${sqlTokens(
               graft.functions.TextFunctions.sqlNormalizeText("text"))}))
         |      AS token
         |  FROM documents),
         |c AS (SELECT token,
         |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS b
         |  FROM d GROUP BY 1)
         |SELECT token, a, b,
         |  CAST((1000000 * CAST(n AS HUGEINT)
         |    * ((CAST(a AS HUGEINT) * (n - n_pos - b)
         |        - CAST(b AS HUGEINT) * (n_pos - a))
         |       * (CAST(a AS HUGEINT) * (n - n_pos - b)
         |          - CAST(b AS HUGEINT) * (n_pos - a))
         |       // (CAST(a + b AS HUGEINT) * (n - a - b))))
         |   // NULLIF(CAST(n_pos AS HUGEINT) * (n - n_pos), 0)
         |   AS BIGINT) AS chi2_micro
         |FROM c, tot
         |WHERE a + b >= 25 AND a + b < n
         |ORDER BY chi2_micro DESC, token LIMIT 20""".stripMargin,

    "q_embed_simhash" ->
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT))
         |      AS vq
         |  FROM embeddings),
         |signed AS (SELECT vec_id, CAST($sqlSigExpr AS BIGINT) AS sig FROM q),
         |buckets AS (SELECT sig, COUNT(*) AS bucket_n
         |            FROM signed GROUP BY 1)
         |SELECT s.vec_id, s.sig, b.bucket_n
         |FROM signed s JOIN buckets b USING (sig)
         |ORDER BY s.vec_id""".stripMargin,

    "q_embed_neardup_lsh" -> {
      def dot(x: String, y: String) =
        s"list_sum(list_transform(list_zip($x, $y), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
      val cos = s"(${dot("ea.embedding", "eb.embedding")} / " +
        s"(sqrt(${dot("ea.embedding", "ea.embedding")}) * " +
        s"sqrt(${dot("eb.embedding", "eb.embedding")})))"
      // the Hamming-≤1 join is the oracle-side shortcut for the engine's
      // 17-key multiprobe equi-join — identical candidate set, including
      // the bucket cap on both endpoints
      s"""WITH q AS (SELECT vec_id, embedding,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT))
         |      AS vq
         |  FROM embeddings),
         |signed0 AS (SELECT vec_id, embedding,
         |    CAST($sqlSigExpr AS BIGINT) AS sig FROM q),
         |buckets AS (SELECT sig, COUNT(*) AS bucket_n
         |            FROM signed0 GROUP BY 1),
         |signed AS (SELECT s.* FROM signed0 s JOIN buckets b USING (sig)
         |           WHERE b.bucket_n <= $EmbedMaxBucket),
         |cand AS (SELECT ea.vec_id AS id_a, eb.vec_id AS id_b,
         |    round($cos, 6) AS cos6
         |  FROM signed ea JOIN signed eb
         |    ON ea.vec_id < eb.vec_id
         |   AND bit_count(xor(ea.sig, eb.sig)) <= 1)
         |SELECT id_a, id_b, cos6 FROM cand
         |ORDER BY cos6 DESC, id_a, id_b LIMIT 50""".stripMargin
    },

    "q_ngram_novelty" -> {
      val grams3 = graft.functions.TextFunctions.sqlWordNgrams("text", 3)
      s"""WITH g AS (SELECT doc_id,
         |    ('0x' || substr(md5(gram), 1, 15))::BIGINT AS fp
         |  FROM (SELECT doc_id, unnest(list_distinct($grams3)) AS gram
         |        FROM documents)),
         |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
         |       FROM g GROUP BY 1),
         |nv AS (SELECT first_doc, CAST(COUNT(*) AS BIGINT) AS n_novel
         |  FROM (SELECT fp, MIN(doc_id) AS first_doc FROM g GROUP BY 1)
         |  GROUP BY 1)
         |SELECT pd.doc_id, pd.n_grams,
         |  COALESCE(nv.n_novel, 0) AS n_novel,
         |  (1000 * COALESCE(nv.n_novel, 0)) // pd.n_grams AS novelty_milli
         |FROM pd LEFT JOIN nv ON nv.first_doc = pd.doc_id
         |ORDER BY pd.doc_id""".stripMargin
    },

    "q_target_encode" ->
      s"""WITH d AS (SELECT source,
         |    ${sqlHash32("'fold:' || CAST(doc_id AS VARCHAR)")} % 5
         |      AS fold, n_chars FROM documents),
         |cf AS (SELECT source, fold, COUNT(*) AS n_cf,
         |    CAST(SUM(n_chars) AS BIGINT) AS s_cf
         |  FROM d GROUP BY 1, 2),
         |c AS (SELECT source, COUNT(*) AS n_c,
         |    CAST(SUM(n_chars) AS BIGINT) AS s_c
         |  FROM d GROUP BY 1),
         |g AS (SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s
         |  FROM d)
         |SELECT cf.source, cf.fold, c.n_c - cf.n_cf AS n_oof,
         |  CAST((1000 * CAST(c.s_c - cf.s_cf AS HUGEINT))
         |    // NULLIF(c.n_c - cf.n_cf, 0) AS BIGINT) AS enc_milli,
         |  CAST((1000 * (CAST(c.s_c - cf.s_cf AS HUGEINT) * g.n
         |      + 20 * CAST(g.s AS HUGEINT)))
         |    // ((c.n_c - cf.n_cf + 20) * CAST(g.n AS HUGEINT))
         |    AS BIGINT) AS enc_smooth_milli
         |FROM cf JOIN c USING (source), g
         |ORDER BY cf.source, cf.fold""".stripMargin,

    // the identical sum-staging chain: decimal-routed per-user x/y,
    // DECIMAL(38,8) products, string-routed doubles, same θ expression
    // tree (n·sxy − sx·sy over n·sxx − sx·sx)
    "q_cuped" ->
      s"""WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
         |    AS mid FROM events),
         |per AS (SELECT user_id,
         |    CAST(CAST(SUM(CAST(CASE WHEN epoch_us(ts) < b.mid
         |      THEN value ELSE 0.0 END AS DECIMAL(18,4))) AS VARCHAR)
         |      AS DOUBLE) AS x,
         |    CAST(CAST(SUM(CAST(CASE WHEN epoch_us(ts) >= b.mid
         |      THEN value ELSE 0.0 END AS DECIMAL(18,4))) AS VARCHAR)
         |      AS DOUBLE) AS y
         |  FROM events, b GROUP BY user_id),
         |pv AS (SELECT user_id, x, y,
         |    ${sqlHash32("'ab:' || CAST(user_id AS VARCHAR)")} % 2
         |      AS variant FROM per),
         |g AS (SELECT COUNT(*) AS n,
         |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
         |      AS sx,
         |    CAST(CAST(SUM(CAST(y AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
         |      AS sy,
         |    CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS VARCHAR)
         |      AS DOUBLE) AS sxy,
         |    CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS VARCHAR)
         |      AS DOUBLE) AS sxx
         |  FROM pv),
         |v AS (SELECT variant, COUNT(*) AS n_users,
         |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
         |      AS sxv,
         |    CAST(CAST(SUM(CAST(y AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
         |      AS syv
         |  FROM pv GROUP BY variant)
         |SELECT v.variant, v.n_users,
         |  round(v.syv / v.n_users, 6) AS mean_y,
         |  round(v.syv / v.n_users -
         |    ((g.n * g.sxy - g.sx * g.sy) / (g.n * g.sxx - g.sx * g.sx)) *
         |    (v.sxv / v.n_users - g.sx / g.n), 6) AS mean_adj,
         |  round((g.n * g.sxy - g.sx * g.sy) /
         |    (g.n * g.sxx - g.sx * g.sx), 6) AS theta
         |FROM v, g ORDER BY v.variant""".stripMargin,

    "q_ab_experiment" ->
      s"""WITH u AS (SELECT user_id,
         |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
         |      ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS converted
         |  FROM events GROUP BY 1),
         |v AS (SELECT
         |    ${sqlHash32("'ab:' || CAST(user_id AS VARCHAR)")} % 2
         |      AS variant,
         |    converted FROM u),
         |cells AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
         |    CAST(SUM(converted) AS BIGINT) AS n_conv
         |  FROM v GROUP BY 1),
         |tot AS (SELECT
         |    CAST(SUM(CASE WHEN variant = 0 THEN n_conv END) AS BIGINT)
         |      AS a,
         |    CAST(SUM(CASE WHEN variant = 0 THEN n_users - n_conv END)
         |      AS BIGINT) AS b,
         |    CAST(SUM(CASE WHEN variant = 1 THEN n_conv END) AS BIGINT)
         |      AS c,
         |    CAST(SUM(CASE WHEN variant = 1 THEN n_users - n_conv END)
         |      AS BIGINT) AS d
         |  FROM cells)
         |SELECT cells.variant, cells.n_users, cells.n_conv,
         |  (1000000 * cells.n_conv) // cells.n_users AS rate_micro,
         |  CAST((1000000 * CAST(a + b + c + d AS HUGEINT)
         |    * ((CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
         |       * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
         |       // NULLIF(CAST(a + b AS HUGEINT) * (c + d), 0)))
         |   // NULLIF(CAST(a + c AS HUGEINT) * (b + d), 0)
         |   AS BIGINT) AS chi2_micro
         |FROM cells, tot ORDER BY cells.variant""".stripMargin,

    "q_kmeans_lloyd" ->
      s"""WITH ${sqlKmeansAssign()},
         |cnt AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
         |        FROM a$KmIters GROUP BY cid)
         |SELECT c.cid, COALESCE(cnt.n_members, 0) AS n_members,
         |  array_to_string(c.cv, ',') AS centroid
         |FROM c${KmIters}f c LEFT JOIN cnt USING (cid)
         |ORDER BY c.cid""".stripMargin,

    // within-cluster pairs only (the SemDeDup bucketing); the cosine
    // threshold runs as an exact integer cross-multiplication — cos ≥
    // 0.85 ⟺ dot > 0 ∧ 400·dot² ≥ 289·|a|²·|b|² — in HUGEINT, so the
    // boundary can never flip between engines. The corpus plants a
    // near-duplicate of every vector (+0.001 on each component, id +
    // VariantOffset) so the pair path is exercised: cos(v, v+ε1) ≈ 1
    // and the tiny distance shift keeps the variant in its base's
    // cluster, so roughly half the corpus must drop.
    "q_semdedup" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE))
         |      AS embedding
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000000000 AS vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.001)
         |      AS embedding
         |  FROM embeddings),
         |${sqlKmeansAssign("corpus")},
         |m AS (SELECT id, cid, vq,
         |    list_sum(list_transform(vq, x -> x * x)) AS n2
         |  FROM a$KmIters),
         |p AS (SELECT a.cid, a.id AS ia, b.id AS ib,
         |    list_sum(list_transform(list_zip(a.vq, b.vq),
         |      s -> s[1] * s[2])) AS dot,
         |    a.n2 AS na2, b.n2 AS nb2
         |  FROM m a JOIN m b ON a.cid = b.cid AND a.id < b.id),
         |hits AS (SELECT DISTINCT cid, ib FROM p
         |  WHERE dot > 0 AND 400 * CAST(dot AS HUGEINT) * dot >=
         |    289 * CAST(na2 AS HUGEINT) * nb2),
         |mem AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
         |  FROM a$KmIters GROUP BY cid),
         |drp AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_dropped
         |  FROM hits GROUP BY cid)
         |SELECT mem.cid, n_members,
         |  COALESCE(n_dropped, 0) AS n_dropped,
         |  n_members - COALESCE(n_dropped, 0) AS n_kept
         |FROM mem LEFT JOIN drp USING (cid) ORDER BY mem.cid""".stripMargin,

    "q_calibration_bins" -> {
      val toks = sqlTokens(
        graft.functions.TextFunctions.sqlNormalizeText("text"))
      val w = s"(${sqlHash32("token")} % 1000 - 500)"
      s"""WITH tf AS (
         |  SELECT doc_id, pos, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, n_chars >= 400 AS pos,
         |          unnest($toks) AS token FROM documents)
         |  GROUP BY 1, 2, 3),
         |scored AS (
         |  SELECT doc_id, pos, CAST(SUM(tf * $w) AS BIGINT) AS score_milli
         |  FROM tf GROUP BY 1, 2)
         |SELECT score_milli // 1000 AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  (1000 * CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT))
         |    // COUNT(*) AS pos_rate_milli
         |FROM scored GROUP BY bin ORDER BY bin""".stripMargin
    },

    "q_deletion_cascade" -> {
      val sig = sqlMinhashSignature(
        graft.functions.TextFunctions.sqlWordNgrams("text", 3), 16)
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
         |comp AS (SELECT id AS doc_id, MIN(r) AS component
         |         FROM reach GROUP BY id),
         |seedc AS (SELECT DISTINCT component FROM comp
         |          WHERE doc_id % 97 = 0),
         |flagged AS (SELECT c.doc_id,
         |    c.component IN (SELECT component FROM seedc) AS dropped
         |  FROM comp c)
         |SELECT d.lang,
         |  CAST(SUM(CASE WHEN f.dropped THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(SUM(CASE WHEN NOT f.dropped THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept
         |FROM flagged f
         |JOIN documents d ON d.doc_id = f.doc_id % 1000000000000
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    },

    "q_label_propagate" ->
      s"""WITH RECURSIVE q AS (SELECT vec_id, label,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT))
         |      AS vq
         |  FROM embeddings),
         |signed0 AS (SELECT vec_id, label,
         |    CAST($sqlSigExpr AS BIGINT) AS sig FROM q),
         |bk AS (SELECT sig, COUNT(*) AS bucket_n FROM signed0 GROUP BY 1),
         |signed AS (SELECT s.* FROM signed0 s JOIN bk USING (sig)
         |           WHERE bk.bucket_n <= $EmbedMaxBucket),
         |pairs AS (SELECT ea.vec_id AS id_a, eb.vec_id AS id_b
         |  FROM signed ea JOIN signed eb
         |    ON ea.vec_id < eb.vec_id
         |   AND bit_count(xor(ea.sig, eb.sig)) <= 1),
         |edges AS MATERIALIZED (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT vec_id, vec_id FROM signed0
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
         |comp AS (SELECT id AS vec_id, MIN(r) AS component
         |         FROM reach GROUP BY id),
         |lab AS (SELECT c.component, e.label, COUNT(*) AS cnt
         |  FROM comp c JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
         |rk AS (SELECT component, label, cnt,
         |    ROW_NUMBER() OVER (PARTITION BY component
         |      ORDER BY cnt DESC, label) AS rk
         |  FROM lab),
         |sz AS (SELECT component, COUNT(*) AS n_members
         |       FROM comp GROUP BY 1)
         |SELECT r.component, s.n_members,
         |  CAST(r.label AS BIGINT) AS majority_label, r.cnt AS n_majority
         |FROM rk r JOIN sz s USING (component)
         |WHERE r.rk = 1 ORDER BY r.component""".stripMargin
  )

  /** DuckDB SQL for the 16-bit signature over a `vq` quantized-component
    * list — generated from the SAME [[hyperplanes]] literals the Spark
    * plan embeds. */
  private lazy val sqlSigExpr: String = {
    def dotJ(j: Int): String = {
      val hp = hyperplanes(j).mkString("[", ",", "]")
      s"list_sum(list_transform(list_zip(vq, $hp::BIGINT[]), s -> s[1] * s[2]))"
    }
    (0 until SimhashBits).map { j =>
      s"(CASE WHEN ${dotJ(j)} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
  }
}
