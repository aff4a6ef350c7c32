package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables
import graft.functions.TextFunctions.{hash32, sqlHash32, sqlTokens, tokenCount, tokens}

/** Round-11 tranche: survival / causal / sequential / changepoint
  * statistics plus the audit-and-retrieval operators a corpus release
  * runs alongside them — privacy (k-anonymity), schema semantics
  * (functional-dependency audit), snapshot diffing, hierarchical
  * spatial rollup (quadkeys), and BM25 ranking.
  *
  * Shared determinism discipline (see [[Parity]]): every statistic is
  * an exact integer in micro/milli units with products staged through
  * DECIMAL(38,0); IEEE doubles appear only where both engines run the
  * bit-identical closing formula (BM25's ln, rounded to 6 dp — the
  * q_tfidf precedent).
  */
object StatOps extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String) =
    Tables.load(s, dir, name)

  private val DayUs  = 86400L * 1000000L
  private val HourUs = 3600L * 1000000L

  override def defs: Map[String, Q] = Map[String, Q](

    // Kaplan-Meier product-limit survival curve: time from a user's first
    // event to their first signup, in hours, administratively censored at
    // 48h (no signup by then, or never → censored). The estimator's
    // sequential product Π (n_t − d_t)/n_t runs as an integer left fold
    // (micro units, truncating div per step — declared semantics, ≤ 1e-6
    // loss per step) over the ≤ 49-element hazard-cell ARRAY: the corpus
    // reduces to one bounded row (49 cells), so no window — partitioned
    // or otherwise — touches unbounded input, and the curve itself is a
    // pure higher-order-function projection. Deaths precede censorings at
    // equal times (the standard KM tie rule), encoded by subtracting only
    // strictly-earlier cells from the at-risk count. Scale: one user-keyed
    // aggregate (shuffle on user_id) + one 49-key aggregate; the fold is
    // O(49²) driver-free arithmetic.
    "q_survival_km" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy(col("user_id")).agg(
        min(expr("unix_micros(ts)")).as("birth"),
        min(when(col("event_type") === "signup", expr("unix_micros(ts)")))
          .as("death"),
        max(expr("unix_micros(ts)")).as("last"))
      val dur = expr(s"(death - birth) div $HourUs")
      val sub = u.select(
        when(col("death").isNotNull && dur <= 48, dur)
          .when(col("death").isNotNull, lit(48L))
          .otherwise(least(expr(s"(last - birth) div $HourUs"), lit(48L)))
          .as("t"),
        when(col("death").isNotNull && dur <= 48, 1L).otherwise(0L)
          .as("ev"))
      // defensive cell guard (round 12): t ≤ 48 holds by construction
      // (both branches clamp through least/lit(48)), so the 49-cell
      // collected array is bounded — but the bound lives in the SELECT
      // above, and a future edit that widens the censoring window without
      // re-reading this fold would silently grow the O(cells²) KM
      // recursion; the row-level guard makes the invariant executable
      val cells = sub
        .select(Parity.guardedSpanValue(col("t"), col("t") + 1, 49L,
          "q_survival_km hazard cell").as("t"), col("ev"))
        .groupBy(col("t"))
        .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
      cells
        .agg(collect_list(struct(col("t"), col("d"), col("c"))).as("arr"),
          sum(col("d") + col("c")).as("n0"))
        .select(expr(
          """explode(transform(sequence(0L, 48L), tt -> named_struct(
            |  't', tt,
            |  'n_events',
            |     coalesce(try_element_at(filter(arr, x -> x.t = tt), 1).d, 0L),
            |  'n_censored',
            |     coalesce(try_element_at(filter(arr, x -> x.t = tt), 1).c, 0L),
            |  'n_risk', n0 - aggregate(filter(arr, x -> x.t < tt), 0L,
            |     (a, x) -> a + x.d + x.c),
            |  's_micro', aggregate(array_sort(filter(arr, x -> x.t <= tt)),
            |     named_struct('n', n0, 'sm', 1000000L),
            |     (acc, x) -> named_struct(
            |       'n', acc.n - x.d - x.c,
            |       'sm', if(acc.n > 0,
            |               (acc.sm * (acc.n - x.d)) div acc.n, acc.sm)),
            |     acc -> acc.sm))))""".stripMargin).as("r"))
        .select(col("r.t").as("t"), col("r.n_events").as("n_events"),
          col("r.n_censored").as("n_censored"), col("r.n_risk").as("n_risk"),
          col("r.s_micro").as("s_micro"))
        .orderBy(col("t"))
    }),

    // Single best changepoint by binary segmentation over daily revenue:
    // the split k maximizing the between-segment term S_L²/n_L + S_R²/n_R
    // (≡ minimizing total within-segment SSE). Prefix sums run on the
    // zero-filled daily grid through BUCKETED windows (day div 512 →
    // partitioned, never a single-partition global sort; ~6 bucket offsets
    // merge through a tiny self-join) — the calendar spine is bounded by
    // the date span, but the discipline costs nothing. The objective is an
    // exact DECIMAL(38,0) rational (cents², ×10⁶ staged before each
    // truncating div), so the argmax and its earliest-day tie-break are
    // bit-identical cross-engine; top-1 plans as TakeOrderedAndProject.
    "q_changepoint" -> ((s, dir) => {
      val d = t(s, dir, "lineitem")
        .select(expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $DayUs").as("day"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
        // round 18: lazy-checkpoint the day census — the grid's
        // bounds/window/bucket-total/grand-total fan-out re-executed the
        // lineitem scan 7× at sf0.01 (the dailySpine finding)
        .localCheckpoint(eager = false)
      // span guard (round 12, shared with q_holt_linear): the daily grid
      // and its div-512 buckets are calendar-bounded — make a corrupt
      // far-future date fail loudly instead of ballooning the grid
      val b = d.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(col("mn"),
          Parity.guardedSpanValue(col("mx"),
            col("mx") - col("mn") + 1, Parity.MaxSpanCells,
            "q_changepoint daily grid").as("mx"))
      val z = b.select(explode(sequence(col("mn"), col("mx"))).as("day"))
        .join(d, Seq("day"), "left")
        .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"),
          expr("day div 512").as("bucket"))
      val w = Window.partitionBy(col("bucket")).orderBy(col("day"))
      val loc = z.withColumn("pl", sum(col("cents")).over(w))
        .withColumn("rl", row_number().over(w).cast("long"))
      val bt = z.groupBy(col("bucket"))
        .agg(sum(col("cents")).as("bs"), count(lit(1)).as("bn"))
      val off = bt.as("a")
        .join(bt.as("o"), col("o.bucket") < col("a.bucket"), "left")
        .groupBy(col("a.bucket").as("bucket"))
        .agg(coalesce(sum(col("o.bs")), lit(0L)).as("offs"),
          coalesce(sum(col("o.bn")), lit(0L)).as("offn"))
      val tot = z.agg(sum(col("cents")).as("stot"),
        count(lit(1)).as("ntot"))
      loc.join(broadcast(off), Seq("bucket"))
        .crossJoin(broadcast(tot))
        .select(col("day"),
          (col("offs") + col("pl")).as("sl"),
          (col("offn") + col("rl")).as("nl"),
          col("stot"), col("ntot"))
        .filter(col("nl") < col("ntot"))
        .select(col("day").as("split_day"), col("nl").as("n_left"),
          (col("ntot") - col("nl")).as("n_right"),
          expr("sl div nl").as("mean_left_cents"),
          expr("(stot - sl) div (ntot - nl)").as("mean_right_cents"),
          // `div` on decimal operands returns BIGINT (overflows here:
          // cents² × 10⁶ ≈ 10²⁸), so the truncating quotient is staged as
          // subtract-the-remainder-then-divide: (x − x % n) / n is an
          // EXACT decimal division (zero fractional part → the scale-6
          // rounding of decimal divide is a no-op), identical to
          // DuckDB's `//` for these nonnegative operands.
          expr(
            """CAST(
              |  (1000000 * CAST(sl AS DECIMAL(38,0)) * sl
              |    - (1000000 * CAST(sl AS DECIMAL(38,0)) * sl) % nl) / nl
              |  + (1000000 * CAST(stot - sl AS DECIMAL(38,0)) * (stot - sl)
              |     - (1000000 * CAST(stot - sl AS DECIMAL(38,0))
              |        * (stot - sl)) % (ntot - nl)) / (ntot - nl)
              | AS DECIMAL(38,0))""".stripMargin).as("b_micro"))
        .orderBy(col("b_micro").desc, col("split_day"))
        .limit(1)
        .select(col("split_day"), col("n_left"), col("n_right"),
          col("mean_left_cents").cast("long").as("mean_left_cents"),
          col("mean_right_cents").cast("long").as("mean_right_cents"),
          // div 10¹⁸, not 10¹²: b_micro ∝ n·cents² puts the e12 cell at
          // 0.45·2⁵³ already at sf0.1 (crosses the output contract near
          // sf0.25) — e18 buys 10⁶× headroom, same exact trunc div on
          // both engines (r14 sf0.1 headroom sweep)
          expr("CAST(b_micro div 1000000000000000000 AS BIGINT)")
            .as("b_e18"))
    }),

    // Sequential A/B monitoring table: q_ab_experiment's readout at EVERY
    // daily look instead of once at the end — the peeking-aware form. Per
    // day: cumulative users (by first-seen day) and cumulative converters
    // (day of the 14th purchase — one user-keyed row_number window) per
    // hash-assigned variant, the exact-integer staged 2×2 χ² on the four
    // cumulative cells, and a crossed flag at the Haybittle-Peto-style
    // always-valid boundary χ² ≥ 10.828 (p ≈ 0.001) — the fixed guard
    // that keeps daily peeking honest. Cumsums run partitioned by variant
    // over the ~30-row daily pre-aggregate.
    "q_sequential_ab" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dayUs = lit(DayUs)
      val wp = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr(s"unix_micros(ts) div $DayUs").as("day"))
        .withColumn("k", row_number().over(wp))
        .filter(col("k") === 14)
        .select(col("user_id"), col("day").as("conv_day"))
      val firstd = ev.groupBy(col("user_id"))
        .agg(min(expr(s"unix_micros(ts) div $DayUs")).as("first_day"))
      val asg = firstd.join(conv, Seq("user_id"), "left")
        .select(pmod(hash32(concat(lit("ab:"), col("user_id").cast("string"))),
          lit(2L)).as("variant"), col("first_day"), col("conv_day"))
      val bounds = ev.agg(
        min(expr(s"unix_micros(ts) div $DayUs")).as("mn"),
        max(expr(s"unix_micros(ts) div $DayUs")).as("mx"))
      val grid = bounds
        .select(explode(sequence(col("mn"), col("mx"))).as("day"))
        .crossJoin(spark_variants(s))
      val hist = asg.groupBy(col("variant"), col("first_day"))
        .agg(count(lit(1)).as("nu"))
      val chist = asg.filter(col("conv_day").isNotNull)
        .groupBy(col("variant"), col("conv_day"))
        .agg(count(lit(1)).as("nc"))
      val wv = Window.partitionBy(col("variant")).orderBy(col("day"))
      val cum = grid
        .join(hist.select(col("variant").as("v1"), col("first_day"),
          col("nu")), grid("variant") === col("v1") &&
          grid("day") === col("first_day"), "left")
        .select(grid("variant"), grid("day"),
          coalesce(col("nu"), lit(0L)).as("nu"))
        .join(chist.select(col("variant").as("v2"), col("conv_day"),
          col("nc")), col("variant") === col("v2") &&
          col("day") === col("conv_day"), "left")
        .select(col("variant"), col("day"), col("nu"),
          coalesce(col("nc"), lit(0L)).as("nc"))
        .select(col("variant"), col("day"),
          sum(col("nu")).over(wv).as("cum_users"),
          sum(col("nc")).over(wv).as("cum_conv"))
      cum.groupBy(col("day")).agg(
          sum(when(col("variant") === 0, col("cum_users"))).as("n0"),
          sum(when(col("variant") === 0, col("cum_conv"))).as("a"),
          sum(when(col("variant") === 1, col("cum_users"))).as("n1"),
          sum(when(col("variant") === 1, col("cum_conv"))).as("c"))
        .select(col("day"), col("n0"), col("a").as("conv0"),
          col("n1"), col("c").as("conv1"),
          expr(
            """CAST((1000000 * CAST(n0 + n1 AS DECIMAL(38,0))
              |  * (((CAST(a AS DECIMAL(38,0)) * (n1 - c)
              |       - CAST(n0 - a AS DECIMAL(38,0)) * c)
              |      * (CAST(a AS DECIMAL(38,0)) * (n1 - c)
              |         - CAST(n0 - a AS DECIMAL(38,0)) * c))
              |     div NULLIF(CAST(n0 AS DECIMAL(38,0)) * n1, 0)))
              | div NULLIF(CAST(a + c AS DECIMAL(38,0))
              |     * (n0 + n1 - a - c), 0)
              | AS BIGINT)""".stripMargin).as("chi2_micro"))
        .withColumn("crossed",
          coalesce(col("chi2_micro") >= 10828000L, lit(false)))
        .orderBy(col("day"))
    }),

    // Coarsened exact matching (CEM) average treatment effect on the
    // treated: treated = customers with ≥ 1 URGENT-priority order,
    // outcome = lifetime order spend (cents), strata = the coarsened
    // covariate cell (nation × market segment). Only strata containing
    // BOTH groups match; ATT = Σ n_T·(μ_T − μ_C) / Σ n_T over matched
    // strata with each stratum mean a ×10⁶-staged truncating quotient —
    // all integers end to end. Unmatched treated are counted, not
    // silently dropped. Shape: one orders aggregate (shuffle on custkey),
    // one broadcast-joined customer pass, one stratum aggregate, one
    // 1-row rollup.
    "q_cem_match" -> ((s, dir) => {
      val spend = t(s, dir, "orders").groupBy(col("o_custkey")).agg(
        sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("cents"),
        max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("treated"))
      val base = t(s, dir, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
          coalesce(col("treated"), lit(0L)).as("treated"),
          coalesce(col("cents"), lit(0L)).as("cents"))
      val strata = base.groupBy(col("nk"), col("seg")).agg(
          sum(col("treated")).as("nt"),
          sum(lit(1L) - col("treated")).as("ncl"),
          sum(when(col("treated") === 1L, col("cents")).otherwise(0L))
            .as("st"),
          sum(when(col("treated") === 0L, col("cents")).otherwise(0L))
            .as("sc"))
        .select(col("nt"), col("ncl"),
          (col("nt") > 0 && col("ncl") > 0).as("matched"),
          expr("(1000000 * CAST(st AS DECIMAL(38,0))) div NULLIF(nt, 0)")
            .as("qt"),
          expr("(1000000 * CAST(sc AS DECIMAL(38,0))) div NULLIF(ncl, 0)")
            .as("qc"))
      strata.agg(
        sum(when(col("matched"), 1L).otherwise(0L)).as("n_strata"),
        sum(when(col("matched"), col("nt")).otherwise(0L)).as("n_treated"),
        sum(when(!col("matched"), col("nt")).otherwise(0L))
          .as("n_unmatched"),
        expr(
          """CAST(sum(CASE WHEN matched
            |  THEN CAST(nt AS DECIMAL(38,0)) * (qt - qc) ELSE 0 END)
            | div sum(CASE WHEN matched THEN nt ELSE 0 END)
            | AS BIGINT)""".stripMargin).as("att_micro_cents"))
    }),

    // k-anonymity audit over the quasi-identifier (nation, segment,
    // $2000 account-balance band): the size histogram of QI equivalence
    // classes with rows in classes smaller than k = 5 flagged for
    // suppression — the re-identification-risk readout a release gate
    // reads BEFORE publishing user-derived training data. Two grouped
    // aggregates (class census → size histogram); the balance band is
    // integer cents arithmetic, offset nonnegative so truncation agrees
    // cross-engine.
    "q_k_anonymity" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("""(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                 | + 100000) div 200000""".stripMargin).as("band"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("band"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("class_size"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("sz")).as("n_rows"))
        .withColumn("suppressed", col("class_size") < 5)
        .orderBy(col("class_size"))
    }),

    // Functional-dependency audit: for three candidate FDs, how many LHS
    // values map to more than one RHS value (violations), the worst
    // fan-out, and the row mass inside violating groups — schema
    // semantics discovery (does partkey determine suppkey? does a
    // customer keep one order status?) as data, not assumption. One
    // grouped count-distinct per FD, unioned; each aggregate shuffles on
    // its own LHS key and nothing else.
    "q_fd_audit" -> ((s, dir) => {
      def fd(name: String, df: DataFrame, lhs: String, rhs: String) =
        df.groupBy(col(lhs))
          .agg(countDistinct(col(rhs)).as("nd"), count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_lhs"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"),
            max(col("nd")).as("max_rhs"),
            sum(when(col("nd") > 1, col("n")).otherwise(0L))
              .as("n_rows_violating"))
          .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
            col("max_rhs"), col("n_rows_violating"))
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      fd("lineitem.l_orderkey->l_returnflag", li, "l_orderkey",
          "l_returnflag")
        .unionAll(fd("lineitem.l_partkey->l_suppkey", li, "l_partkey",
          "l_suppkey"))
        .unionAll(fd("orders.o_custkey->o_orderstatus", o, "o_custkey",
          "o_orderstatus"))
        .orderBy(col("fd"))
    }),

    // Keyed snapshot diff (the data-diff primitive): classify every key
    // across two table versions as added / removed / changed / unchanged
    // and count WHICH columns changed — the audit a pipeline runs between
    // yesterday's and today's corpus drop. The "new" snapshot derives
    // deterministically from orders (drop keys ≡0 mod 101, bump price ≡0
    // mod 97, flip status ≡0 mod 89, insert ≡0 mod 103 under the shared
    // planted-variant id guard), so both engines diff identical inputs.
    // One full outer join on the key — the scale shape; per-column
    // comparisons ride the join projection.
    "q_snapshot_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val old = o.select(col("o_orderkey").as("k"),
        col("o_totalprice").as("price"), col("o_orderstatus").as("st"))
      val guarded = Parity.guardedVariantId(col("o_orderkey"))
      val nw = o.filter(col("o_orderkey") % 101 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("price"),
          when(col("o_orderkey") % 89 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("st"))
        .unionByName(o.filter(col("o_orderkey") % 103 === 0)
          .select((guarded + Parity.VariantOffset).as("k"),
            col("o_totalprice").as("price"),
            col("o_orderstatus").as("st")))
      old.as("a").join(nw.as("b"), col("a.k") === col("b.k"), "full")
        .select(col("a.k").isNull.as("added"), col("b.k").isNull.as("removed"),
          (col("a.k").isNotNull && col("b.k").isNotNull &&
            col("a.price") =!= col("b.price")).as("chg_price"),
          (col("a.k").isNotNull && col("b.k").isNotNull &&
            col("a.st") =!= col("b.st")).as("chg_st"))
        .agg(
          sum(when(col("added"), 1L).otherwise(0L)).as("n_added"),
          sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("chg_price") || col("chg_st"), 1L).otherwise(0L))
            .as("n_changed"),
          sum(when(!col("added") && !col("removed") && !col("chg_price") &&
            !col("chg_st"), 1L).otherwise(0L)).as("n_unchanged"),
          sum(when(col("chg_price"), 1L).otherwise(0L)).as("n_chg_price"),
          sum(when(col("chg_st"), 1L).otherwise(0L)).as("n_chg_status"))
    }),

    // Hierarchical quadkey rollup: customer points (the Geo fixture's
    // integral lon/lat derivation) quantized to a level-4 Bing-style
    // quadkey by pure integer bit arithmetic, then aggregated at every
    // prefix level 1–4 — the re-aggregable spatial index that makes
    // region queries partition-prunable at 100 TB (the cell prefix IS
    // the layout key). The ×4 level fan-out happens on the narrow
    // (qk4, balance) projection, never on wide rows; counts and decimal
    // balance sums are exact at every level.
    "q_quadkey_rollup" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_acctbal"),
          (col("c_custkey") * 7 % 360 - 180).as("lon"),
          (col("c_custkey") * 13 % 178 - 89).as("lat"))
        .select(col("c_acctbal"),
          expr("((lon + 180) * 16) div 360").as("x4"),
          expr("((90 - lat) * 16) div 180").as("y4"))
        .select(col("c_acctbal"), concat(
          expr("CAST((x4 div 8) % 2 + 2 * ((y4 div 8) % 2) AS STRING)"),
          expr("CAST((x4 div 4) % 2 + 2 * ((y4 div 4) % 2) AS STRING)"),
          expr("CAST((x4 div 2) % 2 + 2 * ((y4 div 2) % 2) AS STRING)"),
          expr("CAST(x4 % 2 + 2 * (y4 % 2) AS STRING)")).as("qk4"))
        .select(col("c_acctbal"), col("qk4"),
          explode(sequence(lit(1), lit(4))).as("level"))
        .select(col("level"), expr("substr(qk4, 1, level)").as("cell_qk"),
          col("c_acctbal"))
        .groupBy(col("level"), col("cell_qk"))
        .agg(count(lit(1)).as("n"), Parity.dsum(col("c_acctbal"), 2)
          .as("bal_sum"))
        .orderBy(col("level"), col("cell_qk"))
    }),

    // BM25 ranking (k1 = 1.2, b = 0.75, Lucene idf) for the two-term
    // query {spark, dup} — the lexical-retrieval scorer the q_rrf_fusion
    // and q_retrieval_eval family assumes. Term filters push BEFORE the
    // tf aggregate so only query-term postings shuffle; df derives FROM
    // the tf result (df(term) = #tf rows — round 15: the first cut ran
    // the tokenize+explode subtree twice, once per census) so the
    // postings pass happens once; df and the global length stats
    // broadcast (2 rows + 1 row). The separate per-doc length pass is
    // deliberate: size() on the token array is a shuffle-free scan,
    // where deriving lengths from the exploded frame would shuffle
    // EVERY token by doc — the wrong trade at 100 TB. Both tf and the
    // (doc_id, len) frame are checkpointed (round 16): column
    // pruning gives each consumer a DIFFERENT scan subtree, so without
    // the checkpoint Catalyst re-tokenizes documents per consumer —
    // 4 corpus scans where 2 suffice (ScanBudgetSpec pins ≤2). Round 17
    // (r16 advisor): both frames route through [[Artifacts.memo]] — a
    // per-invocation localCheckpoint stranded fresh blocks every bench
    // rep until ContextCleaner GC; the len frame is exactly Lucene's
    // norms file and tf the query-term postings — corpus artifacts a
    // BM25 system materializes ONCE beside the index, which is what the
    // memo models (one build per (application, corpus), blocks reused
    // across invocations). Scores are the
    // one sanctioned IEEE surface: both engines run the bit-identical
    // closing formula and round to 6 dp (the q_tfidf ln precedent);
    // top-10 plans as TakeOrderedAndProject with doc_id tie-break.
    "q_bm25" -> ((s, dir) => {
      val qterms = Seq("spark", "dup")
      def d = t(s, dir, "documents")
      val lens = graft.operators.Artifacts.memo(s, dir, "stat:bm25-lens") {
        d.select(col("doc_id"), tokenCount(col("text"))
          .cast("long").as("len"))
          .localCheckpoint()
      }
      val stats = lens.agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("sum_len"))
      val tf = graft.operators.Artifacts.memo(s, dir,
          s"stat:bm25-tf:${qterms.mkString(",")}") {
        d.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .filter(col("term").isin(qterms: _*))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
          .localCheckpoint()
      }
      val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfq), Seq("term"))
        .join(lens, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(
            log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
              (col("df") + 0.5)) *
            (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
              col("len") / (col("sum_len") / col("n_docs")))), 6)
            .as("ts"))
        .groupBy(col("doc_id"))
        .agg(round(Parity.dsum(col("ts"), 6), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    })
  )

  /** Two-row (variant 0/1) literal dim for the sequential grid. */
  private def spark_variants(s: SparkSession): DataFrame =
    s.range(2).select(col("id").as("variant"))

  override def oracle: Map[String, String] = Map(

    "q_survival_km" ->
      s"""WITH u AS (
         |  SELECT user_id, MIN(epoch_us(ts)) AS birth,
         |    MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
         |      AS death,
         |    MAX(epoch_us(ts)) AS last
         |  FROM events GROUP BY 1),
         |s AS (
         |  SELECT CASE
         |      WHEN death IS NOT NULL AND (death - birth) // $HourUs <= 48
         |        THEN (death - birth) // $HourUs
         |      WHEN death IS NOT NULL THEN 48
         |      ELSE CASE WHEN (last - birth) // $HourUs <= 48
         |           THEN (last - birth) // $HourUs ELSE 48 END END AS t,
         |    CASE WHEN death IS NOT NULL
         |        AND (death - birth) // $HourUs <= 48
         |      THEN 1 ELSE 0 END AS ev
         |  FROM u),
         |grid AS (SELECT g.t FROM unnest(generate_series(0, 48)) AS g(t)),
         |cell AS (
         |  SELECT grid.t, COALESCE(SUM(s.ev), 0) AS d,
         |    COALESCE(SUM(1 - s.ev), 0) AS c
         |  FROM grid LEFT JOIN s ON s.t = grid.t GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS n FROM s),
         |risk AS (
         |  SELECT cell.t, cell.d, cell.c,
         |    tot.n - COALESCE(SUM(cell.d + cell.c) OVER (ORDER BY cell.t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS n_risk
         |  FROM cell, tot),
         |km AS (
         |  WITH RECURSIVE r AS (
         |    SELECT t, d, c, n_risk,
         |      CASE WHEN n_risk > 0
         |        THEN (1000000 * (n_risk - d)) // n_risk
         |        ELSE 1000000 END AS s_micro
         |    FROM risk WHERE t = 0
         |    UNION ALL
         |    SELECT risk.t, risk.d, risk.c, risk.n_risk,
         |      CASE WHEN risk.n_risk > 0
         |        THEN (r.s_micro * (risk.n_risk - risk.d)) // risk.n_risk
         |        ELSE r.s_micro END
         |    FROM r JOIN risk ON risk.t = r.t + 1)
         |  SELECT * FROM r)
         |SELECT CAST(t AS BIGINT) AS t, CAST(d AS BIGINT) AS n_events,
         |  CAST(c AS BIGINT) AS n_censored,
         |  CAST(n_risk AS BIGINT) AS n_risk,
         |  CAST(s_micro AS BIGINT) AS s_micro
         |FROM km ORDER BY t""".stripMargin,

    "q_changepoint" ->
      s"""WITH d AS (
         |  SELECT epoch_us(l_shipdate) // $DayUs AS day,
         |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
         |      AS BIGINT)) AS cents
         |  FROM lineitem GROUP BY 1),
         |b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM d),
         |g AS (SELECT u.day FROM b,
         |      unnest(generate_series(b.mn, b.mx)) AS u(day)),
         |z AS (SELECT g.day, COALESCE(d.cents, 0) AS cents
         |      FROM g LEFT JOIN d ON d.day = g.day),
         |p AS (
         |  SELECT day, SUM(cents) OVER (ORDER BY day
         |      ROWS UNBOUNDED PRECEDING) AS sl,
         |    ROW_NUMBER() OVER (ORDER BY day) AS nl,
         |    SUM(cents) OVER () AS stot, COUNT(*) OVER () AS ntot
         |  FROM z),
         |cand AS (
         |  SELECT day, sl, nl, stot - sl AS sr, ntot - nl AS nr, stot,
         |    ntot,
         |    (1000000 * CAST(sl AS HUGEINT) * sl) // CAST(nl AS HUGEINT)
         |      + (1000000 * CAST(stot - sl AS HUGEINT)
         |         * (stot - sl)) // CAST(ntot - nl AS HUGEINT) AS b_micro
         |  FROM p WHERE nl < ntot)
         |SELECT CAST(day AS BIGINT) AS split_day,
         |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
         |  CAST(sl // nl AS BIGINT) AS mean_left_cents,
         |  CAST(sr // nr AS BIGINT) AS mean_right_cents,
         |  CAST(b_micro // CAST(1000000000000000000 AS HUGEINT)
         |    AS BIGINT) AS b_e18
         |FROM cand ORDER BY b_micro DESC, split_day LIMIT 1""".stripMargin,

    "q_sequential_ab" ->
      s"""WITH pu AS (
         |  SELECT user_id, epoch_us(ts) // $DayUs AS day,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS k
         |  FROM events WHERE event_type = 'purchase'),
         |conv AS (SELECT user_id, day AS conv_day FROM pu WHERE k = 14),
         |fd AS (SELECT user_id, MIN(epoch_us(ts)) // $DayUs AS first_day
         |       FROM events GROUP BY 1),
         |asg AS (
         |  SELECT ${sqlHash32("'ab:' || CAST(fd.user_id AS VARCHAR)")} % 2
         |      AS variant,
         |    fd.first_day, conv.conv_day
         |  FROM fd LEFT JOIN conv ON conv.user_id = fd.user_id),
         |b AS (SELECT MIN(epoch_us(ts)) // $DayUs AS mn,
         |             MAX(epoch_us(ts)) // $DayUs AS mx FROM events),
         |grid AS (
         |  SELECT v.variant, u.day
         |  FROM b, unnest(generate_series(b.mn, b.mx)) AS u(day),
         |    (SELECT UNNEST([0, 1]) AS variant) v),
         |hist AS (SELECT variant, first_day, COUNT(*) AS nu
         |         FROM asg GROUP BY 1, 2),
         |chist AS (SELECT variant, conv_day, COUNT(*) AS nc
         |          FROM asg WHERE conv_day IS NOT NULL GROUP BY 1, 2),
         |cum AS (
         |  SELECT grid.variant, grid.day,
         |    SUM(COALESCE(hist.nu, 0)) OVER (PARTITION BY grid.variant
         |      ORDER BY grid.day ROWS UNBOUNDED PRECEDING) AS cum_users,
         |    SUM(COALESCE(chist.nc, 0)) OVER (PARTITION BY grid.variant
         |      ORDER BY grid.day ROWS UNBOUNDED PRECEDING) AS cum_conv
         |  FROM grid
         |  LEFT JOIN hist ON hist.variant = grid.variant
         |    AND hist.first_day = grid.day
         |  LEFT JOIN chist ON chist.variant = grid.variant
         |    AND chist.conv_day = grid.day),
         |cells AS (
         |  SELECT day,
         |    SUM(CASE WHEN variant = 0 THEN cum_users END) AS n0,
         |    SUM(CASE WHEN variant = 0 THEN cum_conv END) AS a,
         |    SUM(CASE WHEN variant = 1 THEN cum_users END) AS n1,
         |    SUM(CASE WHEN variant = 1 THEN cum_conv END) AS c
         |  FROM cum GROUP BY 1)
         |SELECT CAST(day AS BIGINT) AS day, CAST(n0 AS BIGINT) AS n0,
         |  CAST(a AS BIGINT) AS conv0, CAST(n1 AS BIGINT) AS n1,
         |  CAST(c AS BIGINT) AS conv1,
         |  CAST((1000000 * CAST(n0 + n1 AS HUGEINT)
         |    * (((CAST(a AS HUGEINT) * (n1 - c)
         |         - CAST(n0 - a AS HUGEINT) * c)
         |        * (CAST(a AS HUGEINT) * (n1 - c)
         |           - CAST(n0 - a AS HUGEINT) * c))
         |       // NULLIF(CAST(n0 AS HUGEINT) * n1, 0)))
         |   // NULLIF(CAST(a + c AS HUGEINT)
         |       * (n0 + n1 - a - c), 0) AS BIGINT) AS chi2_micro,
         |  COALESCE(CAST((1000000 * CAST(n0 + n1 AS HUGEINT)
         |    * (((CAST(a AS HUGEINT) * (n1 - c)
         |         - CAST(n0 - a AS HUGEINT) * c)
         |        * (CAST(a AS HUGEINT) * (n1 - c)
         |           - CAST(n0 - a AS HUGEINT) * c))
         |       // NULLIF(CAST(n0 AS HUGEINT) * n1, 0)))
         |   // NULLIF(CAST(a + c AS HUGEINT)
         |       * (n0 + n1 - a - c), 0) AS BIGINT) >= 10828000, FALSE)
         |    AS crossed
         |FROM cells ORDER BY day""".stripMargin,

    "q_cem_match" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS cents,
        |    MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
        |      AS treated
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c.c_nationkey AS nk, c.c_mktsegment AS seg,
        |    COALESCE(s.treated, 0) AS treated,
        |    COALESCE(s.cents, 0) AS cents
        |  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey),
        |strata AS (
        |  SELECT nk, seg, SUM(treated) AS nt, SUM(1 - treated) AS ncl,
        |    SUM(CASE WHEN treated = 1 THEN cents ELSE 0 END) AS st,
        |    SUM(CASE WHEN treated = 0 THEN cents ELSE 0 END) AS sc
        |  FROM base GROUP BY 1, 2),
        |q AS (
        |  SELECT nt, ncl, nt > 0 AND ncl > 0 AS matched,
        |    (1000000 * CAST(st AS HUGEINT)) // NULLIF(CAST(nt AS HUGEINT), 0)
        |      AS qt,
        |    (1000000 * CAST(sc AS HUGEINT)) // NULLIF(CAST(ncl AS HUGEINT), 0)
        |      AS qc
        |  FROM strata)
        |SELECT
        |  CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_strata,
        |  CAST(SUM(CASE WHEN matched THEN nt ELSE 0 END) AS BIGINT)
        |    AS n_treated,
        |  CAST(SUM(CASE WHEN NOT matched THEN nt ELSE 0 END) AS BIGINT)
        |    AS n_unmatched,
        |  CAST(SUM(CASE WHEN matched
        |      THEN CAST(nt AS HUGEINT) * (qt - qc) ELSE CAST(0 AS HUGEINT)
        |      END)
        |    // CAST(SUM(CASE WHEN matched THEN nt ELSE 0 END) AS HUGEINT)
        |    AS BIGINT) AS att_micro_cents
        |FROM q""".stripMargin,

    "q_k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |     + 100000) // 200000 AS band,
        |    COUNT(*) AS sz
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT CAST(sz AS BIGINT) AS class_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(sz) AS BIGINT) AS n_rows,
        |  sz < 5 AS suppressed
        |FROM cls GROUP BY sz ORDER BY class_size""".stripMargin,

    "q_fd_audit" ->
      """WITH f1 AS (
        |  SELECT l_orderkey AS lhs, COUNT(DISTINCT l_returnflag) AS nd,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |f2 AS (
        |  SELECT l_partkey AS lhs, COUNT(DISTINCT l_suppkey) AS nd,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |f3 AS (
        |  SELECT o_custkey AS lhs, COUNT(DISTINCT o_orderstatus) AS nd,
        |    COUNT(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'lineitem.l_orderkey->l_returnflag' AS fd,
        |    CAST(COUNT(*) AS BIGINT) AS n_lhs,
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(MAX(nd) AS BIGINT) AS max_rhs,
        |    CAST(SUM(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)
        |      AS n_rows_violating
        |  FROM f1
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->l_suppkey', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(MAX(nd) AS BIGINT),
        |    CAST(SUM(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT) FROM f2
        |  UNION ALL
        |  SELECT 'orders.o_custkey->o_orderstatus', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(MAX(nd) AS BIGINT),
        |    CAST(SUM(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT) FROM f3)
        |ORDER BY fd""".stripMargin,

    "q_snapshot_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price,
        |    o_orderstatus AS st
        |  FROM orders),
        |new AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS price,
        |    CASE WHEN o_orderkey % 89 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS st
        |  FROM orders WHERE o_orderkey % 101 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000000, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 103 = 0),
        |j AS (
        |  SELECT old.k IS NULL AS added, new.k IS NULL AS removed,
        |    old.k IS NOT NULL AND new.k IS NOT NULL
        |      AND old.price <> new.price AS chg_price,
        |    old.k IS NOT NULL AND new.k IS NOT NULL
        |      AND old.st <> new.st AS chg_st
        |  FROM old FULL OUTER JOIN new ON old.k = new.k)
        |SELECT
        |  CAST(SUM(CASE WHEN added THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(SUM(CASE WHEN chg_price OR chg_st THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_changed,
        |  CAST(SUM(CASE WHEN NOT added AND NOT removed AND NOT chg_price
        |    AND NOT chg_st THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  CAST(SUM(CASE WHEN chg_price THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_chg_price,
        |  CAST(SUM(CASE WHEN chg_st THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_chg_status
        |FROM j""".stripMargin,

    "q_quadkey_rollup" ->
      s"""WITH pt AS (
         |  SELECT c_acctbal, c_custkey * 7 % 360 - 180 AS lon,
         |    c_custkey * 13 % 178 - 89 AS lat
         |  FROM customer),
         |cell AS (
         |  SELECT c_acctbal, ((lon + 180) * 16) // 360 AS x4,
         |    ((90 - lat) * 16) // 180 AS y4
         |  FROM pt),
         |qk AS (
         |  SELECT c_acctbal,
         |    CAST((x4 // 8) % 2 + 2 * ((y4 // 8) % 2) AS VARCHAR) ||
         |    CAST((x4 // 4) % 2 + 2 * ((y4 // 4) % 2) AS VARCHAR) ||
         |    CAST((x4 // 2) % 2 + 2 * ((y4 // 2) % 2) AS VARCHAR) ||
         |    CAST(x4 % 2 + 2 * (y4 % 2) AS VARCHAR) AS qk4
         |  FROM cell),
         |lv AS (
         |  SELECT l.level, substr(qk.qk4, 1, CAST(l.level AS INTEGER))
         |      AS cell_qk,
         |    qk.c_acctbal
         |  FROM qk, (SELECT UNNEST(generate_series(1, 4)) AS level) l)
         |SELECT CAST(level AS INTEGER) AS level, cell_qk,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${Parity.sqlDsum("c_acctbal", 2)} AS bal_sum
         |FROM lv GROUP BY 1, 2 ORDER BY level, cell_qk""".stripMargin,

    "q_bm25" ->
      s"""WITH tok AS (
         |  SELECT doc_id, UNNEST(${sqlTokens("text")}) AS term
         |  FROM documents),
         |lens AS (
         |  SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT)
         |    AS len
         |  FROM documents),
         |stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS sum_len
         |          FROM lens),
         |dfq AS (
         |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
         |  WHERE term IN ('spark', 'dup') GROUP BY 1),
         |tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |  WHERE term IN ('spark', 'dup') GROUP BY 1, 2),
         |scored AS (
         |  SELECT tf.doc_id,
         |    round(ln(1.0 + (stats.n_docs - dfq.df + 0.5)
         |        / (dfq.df + 0.5))
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len
         |          / (stats.sum_len / stats.n_docs))), 6) AS ts
         |  FROM tf
         |  JOIN dfq USING (term)
         |  JOIN lens ON lens.doc_id = tf.doc_id
         |  CROSS JOIN stats)
         |SELECT doc_id,
         |  round(${Parity.sqlDsum("ts", 6)}, 6) AS score
         |FROM scored GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  )
}
