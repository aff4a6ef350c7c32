package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Data-quality auditing (SURVEY §2.11 extensions): referential-integrity
  * sweeps and one-pass column profiling — the checks a pipeline runs
  * before trusting a new corpus drop, expressed as gate queries so both
  * engines pin the same numbers.
  */
object QualityOps extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String) =
    Tables.load(s, dir, name)

  /** One FK edge: child rows joined (left) against the DISTINCT parent
    * key set; an orphan is a child whose key found no parent. The
    * distinct projection makes the count robust even against a
    * degenerate parent with duplicated keys. */
  private def riEdge(name: String, child: DataFrame, fk: Column,
      parent: DataFrame, pk: Column): DataFrame =
    child.select(fk.as("k"))
      .join(parent.select(pk.as("pk")).distinct(),
        col("k") === col("pk"), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))

  override def defs: Map[String, Q] = Map(
    // Referential-integrity audit across every FK edge of the star
    // schema in one result. Each edge is an equi-join against a distinct
    // parent-key projection (dims broadcast; the two lineitem fact edges
    // shuffle on the key) — never a driver-side key set. NULL FKs count
    // as orphans: a null never equi-joins, which is the conservative
    // reading for an integrity sweep.
    "q_ri_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      val p = t(s, dir, "part")
      riEdge("customer.c_nationkey->nation", c, col("c_nationkey"),
          n, col("n_nationkey"))
        .unionAll(riEdge("lineitem.l_orderkey->orders", li,
          col("l_orderkey"), o, col("o_orderkey")))
        .unionAll(riEdge("lineitem.l_partkey->part", li,
          col("l_partkey"), p, col("p_partkey")))
        .unionAll(riEdge("lineitem.l_suppkey->supplier", li,
          col("l_suppkey"), su, col("s_suppkey")))
        .unionAll(riEdge("nation.n_regionkey->region", n,
          col("n_regionkey"), r, col("r_regionkey")))
        .unionAll(riEdge("orders.o_custkey->customer", o,
          col("o_custkey"), c, col("c_custkey")))
        .unionAll(riEdge("supplier.s_nationkey->nation", su,
          col("s_nationkey"), n, col("n_nationkey")))
        .orderBy(col("edge"))
    }),

    // One-pass column profile of the orders table: null count, exact
    // distinct cardinality, and min/max per column, pivoted to a row per
    // column. min/max render through type-pinned formats — DECIMAL(15,2)
    // for the double, an explicit timestamp pattern — because raw
    // double→string differs between engines ("1.0E-5" vs "1e-05").
    //
    // Round 17 (optimization): the original single multi-distinct
    // aggregate planned THREE SortAggregate phases with TWO full sorts of
    // the 7×-expanded frame — string min/max has no fixed-width buffer,
    // so Spark cannot hash-aggregate it, and the fallback sort swallowed
    // the whole expanded corpus (4.5 s at sf0.1). The same statistics now
    // come off an explicit per-column VALUE CENSUS: one typed-slot
    // `stack` expand (6 narrow rows per input row, one live slot each —
    // exactly the shape Spark's own distinct-Expand builds internally)
    // into a hash aggregate keyed by (cid, slots), then one cheap
    // SortAggregate over the value-cardinality census closes every cell:
    // n = Σ t, n_null = t of the null-slot row, n_distinct = census rows
    // with a live slot, min/max = min/max over census values (equal to
    // row-level min/max by monotonicity). Same ONE corpus scan, same
    // cells, same renders — the sort now sees |distinct values| rows
    // instead of 7×|corpus|.
    "q_profile" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val census = o.select(expr(
        """stack(6,
           0, o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS STRING),
              CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP_NTZ),
              CAST(NULL AS STRING),
           1, CAST(NULL AS BIGINT), o_custkey, CAST(NULL AS STRING),
              CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP_NTZ),
              CAST(NULL AS STRING),
           2, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), o_orderstatus,
              CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP_NTZ),
              CAST(NULL AS STRING),
           3, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
              CAST(NULL AS STRING), o_totalprice, CAST(NULL AS TIMESTAMP_NTZ),
              CAST(NULL AS STRING),
           4, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
              CAST(NULL AS STRING), CAST(NULL AS DOUBLE), o_orderdate,
              CAST(NULL AS STRING),
           5, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
              CAST(NULL AS STRING), CAST(NULL AS DOUBLE),
              CAST(NULL AS TIMESTAMP_NTZ), o_orderpriority)
           AS (cid, ok, ck, st, tp, od, op)"""))
        .groupBy(col("cid"), col("ok"), col("ck"), col("st"), col("tp"),
          col("od"), col("op"))
        .agg(count(lit(1)).as("t"))
      val live = col("ok").isNotNull || col("ck").isNotNull ||
        col("st").isNotNull || col("tp").isNotNull ||
        col("od").isNotNull || col("op").isNotNull
      census.groupBy(col("cid"))
        .agg(
          sum(col("t")).as("n"),
          sum(when(!live, col("t")).otherwise(0L)).as("n_null"),
          count(when(live, lit(1))).as("n_distinct"),
          min(col("ok")).cast("string").as("mn_ok"),
          max(col("ok")).cast("string").as("mx_ok"),
          min(col("ck")).cast("string").as("mn_ck"),
          max(col("ck")).cast("string").as("mx_ck"),
          min(col("st")).as("mn_st"), max(col("st")).as("mx_st"),
          min(col("tp")).cast("decimal(15,2)").cast("string").as("mn_tp"),
          max(col("tp")).cast("decimal(15,2)").cast("string").as("mx_tp"),
          date_format(min(col("od")), "yyyy-MM-dd HH:mm:ss").as("mn_od"),
          date_format(max(col("od")), "yyyy-MM-dd HH:mm:ss").as("mx_od"),
          min(col("op")).as("mn_op"), max(col("op")).as("mx_op"))
        .select(
          expr("""CASE cid WHEN 0 THEN 'o_orderkey'
                 WHEN 1 THEN 'o_custkey' WHEN 2 THEN 'o_orderstatus'
                 WHEN 3 THEN 'o_totalprice' WHEN 4 THEN 'o_orderdate'
                 ELSE 'o_orderpriority' END""").as("col"),
          col("n"), col("n_null"), col("n_distinct"),
          expr("""CASE cid WHEN 0 THEN mn_ok WHEN 1 THEN mn_ck
                 WHEN 2 THEN mn_st WHEN 3 THEN mn_tp WHEN 4 THEN mn_od
                 ELSE mn_op END""").as("min_s"),
          expr("""CASE cid WHEN 0 THEN mx_ok WHEN 1 THEN mx_ck
                 WHEN 2 THEN mx_st WHEN 3 THEN mx_tp WHEN 4 THEN mx_od
                 ELSE mx_op END""").as("max_s"))
        .orderBy(col("col"))
    }),

    // Benford leading-digit profile of order totals — the classic
    // fabricated-data screen. The digit comes from the DECIMAL(15,2)
    // string render (both engines print decimals identically; a raw
    // double render would not agree), frequencies are exact integer
    // micro-units with the total derived from the 9-row digit summary,
    // not a second scan or a partition-less window.
    "q_benford" -> ((s, dir) => {
      val counts = t(s, dir, "orders")
        .filter(col("o_totalprice") > 0)
        .select(substring(
          col("o_totalprice").cast("decimal(15,2)").cast("string"), 1, 1)
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      counts.crossJoin(broadcast(counts.agg(sum(col("n")).as("tot"))))
        .select(col("digit"), col("n"),
          expr("CAST((1000000 * n) div tot AS BIGINT)").as("freq_micro"))
        .orderBy(col("digit"))
    }),

    // Two-sample Kolmogorov–Smirnov drift screen: did URGENT orders'
    // price distribution drift from LOW orders'? The D statistic is an
    // exact integer numerator over the distributed rank frame (no
    // partition-less window, no sorted collect) with one closing IEEE
    // division — see [[graft.operators.KsTest]] for the tie handling.
    "q_ks_test" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      graft.operators.KsTest.twoSample(o,
        col("o_orderpriority") === "1-URGENT", col("o_totalprice"))
    }),

    // Welch's unequal-variance t-test on the same two cohorts as
    // q_ks_test — the parametric drift partner (KS asks "same
    // distribution?", Welch asks "same mean?"). Co-moments are exact
    // string-routed decimal sums; t and the Welch–Satterthwaite df are
    // the closing IEEE ops written identically in both engines, and the
    // 5% flag compares |t| against the z critical value.
    "q_welch_ttest" -> ((s, dir) => {
      val a = t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW") &&
          col("o_totalprice").isNotNull)
        .select(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)
          .as("s"), col("o_totalprice").as("v"))
      val st = a.groupBy(col("s"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(18, 4)))
            .cast("string").cast("double").as("sv"),
          sum((col("v") * col("v")).cast(DecimalType(38, 8)))
            .cast("string").cast("double").as("ssv"))
        .select(col("s"), col("n"), (col("sv") / col("n")).as("mean"),
          ((col("ssv") - col("sv") * col("sv") / col("n")) /
            (col("n") - 1)).as("var"))
      val x = st.filter(col("s") === 1).select(col("n").as("n_a"),
        col("mean").as("mean_a"), col("var").as("var_a"))
      val y = st.filter(col("s") === 0).select(col("n").as("n_b"),
        col("mean").as("mean_b"), col("var").as("var_b"))
      val va = col("var_a") / col("n_a")
      val vb = col("var_b") / col("n_b")
      val tStat = (col("mean_a") - col("mean_b")) / sqrt(va + vb)
      x.crossJoin(y).select(col("n_a"), col("n_b"), col("mean_a"),
        col("mean_b"), tStat.as("t_stat"),
        ((va + vb) * (va + vb) /
          (va * va / (col("n_a") - 1) + vb * vb / (col("n_b") - 1)))
          .as("df"),
        (abs(tStat) > 1.96).as("sig_05"))
    }),

    // Per-slice distribution-drift monitor (round 9): one two-sample KS
    // test PER EVENT TYPE between the first and second half of the
    // corpus time range — "which event types' value distributions
    // shifted?". The keyed KS machinery folds the key into the
    // value-census cumulative (round 17 — see operators/KsTest), so a
    // dominant key never becomes a single-partition window.
    "q_drift_ks" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
      val mid = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid"))
      graft.operators.KsTest.twoSampleByKey(
          ev.crossJoin(broadcast(mid)), col("event_type"),
          col("us") >= col("mid"), col("value"))
        .select(col("key").as("event_type"), col("n_a"), col("n_b"),
          col("d_num"), col("d"), col("crit"), col("drift"))
        .orderBy(col("event_type"))
    }),

    // Poisson-bootstrap 95% CI for the mean order total — B = 200
    // deterministic weighted replicates in one grouped pass; see
    // [[graft.operators.Bootstrap]]. exactCents (round 18): o_totalprice
    // is an exact 2-dp decimal, so the ×200 fan-out stages its weighted
    // sums in LONG per (replicate, partition) — the q_perm_test
    // aggregation-buffer discipline — before the exact decimal merge.
    "q_bootstrap_ci" -> ((s, dir) =>
      graft.operators.Bootstrap.poissonMeanCi(t(s, dir, "orders"),
        col("o_orderkey"), col("o_totalprice"), exactCents = true))
,
    // Approximate randomization (permutation) test for the urgent-vs-rest
    // mean order value — the bootstrap's sibling: under the null the
    // group labels are exchangeable, so B = 200 DETERMINISTIC random
    // relabelings (the low bit of the same mix32 chain the bootstrap
    // uses; binomial sizes — the standard map-reduce randomization
    // variant) give the reference distribution, and p = (#{|Δ_b| ≥
    // |Δ_obs|} + 1)/(B + 1). One md5 per ROW, integer-only ×B fan-out,
    // one grouped pass; every statistic is an exact micro-cent integer
    // (the q_cohens_d division staging) — no doubles anywhere, so the
    // oracle replays bit-for-bit. Null-cohesion: priority is assigned
    // independently of price in the fixture, so p must be well away
    // from significance (spec-pinned).
    "q_perm_test" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("k"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("g"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("x"))
      def diffMicro = expr(
        """abs((1000000 * (s1 * n0 - s0 * n1))
          | div (CAST(n1 AS DECIMAL(38,0)) * n0))"""
          .stripMargin.replaceAll("\\s+", " "))
      // Round 17 (optimization): the ×200 relabeling fan-out fed four
      // per-row DECIMAL(38,0) aggregation buffers — ~120M BigDecimal adds
      // at sf0.1, the gate's whole cost. Two changes, same cells:
      //  (1) only (s1, n1) are aggregated; s0 = S − s1 and n0 = N − n1
      //      derive from the 1-row corpus totals (the labels partition
      //      the corpus, so the complements are exact) — half the
      //      aggregate columns;
      //  (2) the fan-out sums in LONG per (b, shuffle partition) first
      //      — spark_partition_id() here is evaluated AFTER the
      //      repartition(parts) below, so a group holds
      //      |corpus|/numShufflePartitions rows (r17 ADVICE: NOT a
      //      maxPartitionBytes-bounded file split). The envelope is
      //      therefore rows-per-shuffle-partition × max cents ≈
      //      (n/parts)·10⁸ — with parts ≈ 2–3× cluster cores it keeps
      //      ~3 orders of magnitude of headroom at 100 TB, and ANSI sum
      //      keeps the long leg FAIL-LOUD: an under-partitioned run
      //      errors, it never returns a wrong cell. spark_partition_id
      //      is stable under task recompute (sort-before-repartition),
      //      so the two-level sum is retry-safe; the ≤ 200·|partitions|
      //      partials then merge through DECIMAL(38,0), which preserves
      //      the exact full-corpus envelope the original staged per row.
      //      (Guide §2.3 "narrower types" applied to the aggregation
      //      buffer.)
      val cells = o.groupBy()
        .agg(sum(when(col("g") === 1, col("x")).otherwise(0L)
            .cast(DecimalType(38, 0))).as("s1"),
          sum(when(col("g") === 0, col("x")).otherwise(0L)
            .cast(DecimalType(38, 0))).as("s0"),
          sum(col("g")).as("n1"),
          sum(lit(1L) - col("g")).as("n0"))
        .localCheckpoint(eager = false)
      val obs = cells
        .select((col("n1") + col("n0")).as("n_orders"),
          diffMicro.as("obs_diff_micro"))
      val tot = cells.select((col("s1") + col("s0")).as("s_all"),
        (col("n1") + col("n0")).as("n_all"))
      val parts = o.sparkSession.sessionState.conf.numShufflePartitions
      val reps = o.repartition(parts)
        .withColumn("u0", graft.functions.TextFunctions.hash32(col("k")))
        .select(col("u0"), col("x"),
          explode(sequence(lit(0), lit(199))).as("b"))
        .withColumn("gb",
          graft.operators.Bootstrap.mix32(col("u0"), col("b")) % 2)
        .groupBy(col("b"), spark_partition_id().as("__p"))
        .agg(sum(when(col("gb") === 1, col("x")).otherwise(0L)).as("ps1"),
          sum(col("gb")).as("pn1"))
        .groupBy(col("b"))
        .agg(sum(col("ps1").cast(DecimalType(38, 0))).as("s1"),
          sum(col("pn1")).as("n1"))
        .crossJoin(broadcast(tot))
        .select(col("s1"), (col("s_all") - col("s1")).as("s0"),
          col("n1"), (col("n_all") - col("n1")).as("n0"))
        .select(diffMicro.as("stat_micro"))
      reps.crossJoin(broadcast(obs))
        .agg(first(col("n_orders")).as("n_orders"),
          count(lit(1)).as("b_reps"),
          first(col("obs_diff_micro")).as("obs_diff_micro"),
          sum(when(col("stat_micro") >= col("obs_diff_micro"), 1L)
            .otherwise(0L)).as("n_ge"))
        .select(col("n_orders"), col("b_reps"), col("obs_diff_micro"),
          col("n_ge"),
          expr("(1000000 * (n_ge + 1)) div (b_reps + 1)").as("p_ppm"))
    }),

    // Delete-one-block jackknife SE for the revenue-per-customer RATIO
    // estimator, nations as the blocks — the uncertainty readout for a
    // statistic with no per-row decomposition (a plain variance doesn't
    // apply to a ratio). G = 25 replicates R_i = (S − s_i)/(N − n_i)
    // come off ONE per-nation aggregate (a broadcast dim join; the
    // orders⇄customer join is the only fact-fact shuffle); every R_i is
    // an exact micro-cent integer, the variance numerator Σ(R_i − R̄)²
    // sums EXACTLY in DECIMAL(38,0) (a double Σ over nation rows would
    // be order-dependent across engines), and the closing sqrt sees one
    // cast of one exact decimal — no cancellation after the cast, so
    // DuckDB's two-step HUGEINT→DOUBLE rounding stays below the 6-dp
    // readout (the q_anova_f analysis, applied at design time).
    "q_jackknife_ratio" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"))
      val perNation = c.join(o, col("c_custkey") === col("o_custkey"),
          "left")
        .groupBy(col("c_nationkey"))
        .agg(sum(coalesce(col("cents"), lit(0L))
            .cast(DecimalType(38, 0))).as("si"),
          count_distinct(col("c_custkey")).as("ni"))
        // round 18: census leaf (ScanCount: the fan-out re-ran the
        // fact scan per consumer; see OPTIMIZATION_r18.md)
        .localCheckpoint(eager = false)
      val tot = perNation.agg(sum(col("si")).as("s"), sum(col("ni")).as("n"),
        count(lit(1)).as("g"))
      val reps = perNation.crossJoin(broadcast(tot))
        .select(col("g"), col("s"), col("n"), expr(
          """(1000000 * (s - si)) div (CAST(n AS DECIMAL(38,0)) - ni)"""
        ).as("ri"))
      val rbar = reps.groupBy(col("g"), col("s"), col("n"))
        .agg(sum(col("ri").cast(DecimalType(38, 0))).as("sri"))
        .select(col("g"), col("s"), col("n"),
          expr("sri div g").as("rbar_micro"))
      reps.join(broadcast(rbar), Seq("g", "s", "n"))
        .select(col("g"), col("s"), col("n"), col("rbar_micro"),
          ((col("ri") - col("rbar_micro")).cast(DecimalType(38, 0))
            * (col("ri") - col("rbar_micro"))).as("d2"))
        .groupBy(col("g"), col("s"), col("n"), col("rbar_micro"))
        .agg(sum(col("d2")).as("ssd"))
        .select(col("g").as("n_blocks"),
          expr("(1000000 * s) div n").as("ratio_micro"),
          col("rbar_micro"),
          expr("CAST((ssd * (g - 1) - (ssd * (g - 1)) % CAST(g AS DECIMAL(38,0))) / CAST(g AS DECIMAL(38,0)) AS DECIMAL(38,0))")
            .as("jk_var_micro2"))
        .select(col("n_blocks"), col("ratio_micro"), col("rbar_micro"),
          // Emit the variance cell in whole cents² (exact div 10¹² —
          // micro-cents² → cents² — identical on both engines): the
          // micro² value is ~4×10²⁴ ≫ 2⁵³, where double-converting
          // hashers diverge cross-engine even on identical decimals
          // (the r12 hash-fail lesson). se_cents still closes on the
          // full-precision micro² operand.
          expr("jk_var_micro2 div 1000000000000").as("jk_var_c2"),
          round(expr("sqrt(CAST(jk_var_micro2 AS DOUBLE)) / 1000000.0"), 6)
            .as("se_cents"))
    }),
    // Per-stratum classifier evaluation: the confusion matrix and its
    // precision/recall/F1 in exact integer micro-units — the model-eval
    // report a quality-filter pipeline gates releases on. Truth and
    // prediction here are deterministic derivations (length rule vs
    // token-count rule), so both engines pin identical counts; NULLIF
    // guards empty classes the way the SQL does.
    "q_eval_confusion" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), (col("n_chars") >= 400).as("truth"),
          (graft.functions.TextFunctions.tokenCount(col("text")) >= 80)
            .as("pred"))
      d.groupBy(col("lang"))
        .agg(
          sum(when(col("truth") && col("pred"), 1L).otherwise(0L))
            .cast("long").as("tp"),
          sum(when(!col("truth") && col("pred"), 1L).otherwise(0L))
            .cast("long").as("fp"),
          sum(when(col("truth") && !col("pred"), 1L).otherwise(0L))
            .cast("long").as("fn"),
          sum(when(!col("truth") && !col("pred"), 1L).otherwise(0L))
            .cast("long").as("tn"))
        .select(col("lang"), col("tp"), col("fp"), col("fn"), col("tn"),
          expr("(1000000 * tp) div nullif(tp + fp, 0)").as("precision_micro"),
          expr("(1000000 * tp) div nullif(tp + fn, 0)").as("recall_micro"),
          expr("(2000000 * tp) div nullif(2*tp + fp + fn, 0)").as("f1_micro"))
        .orderBy(col("lang"))
    }),

    // Join-key skew report (round 10): the pre-flight check a pipeline
    // runs BEFORE choosing a join strategy — per candidate key column,
    // its cardinality and the hottest key's row share in ppm (the number
    // that decides broadcast vs shuffle vs salt vs AQE-skew). One
    // group-count per column (each a map-side-combinable aggregate);
    // the per-column summaries are left-joined onto the column names.
    "q_skew_report" -> ((s, dir) => {
      import s.implicits._
      // round 18: the four per-column censuses used to be four separate
      // corpus scans (ScanCount: lineitem 4× at sf0.01); a typed-slot
      // stack expand (the q_profile round-17 discipline) builds all four
      // off ONE scan — identical per-column cells, identical output.
      val census = t(s, dir, "lineitem")
        .select(expr(
          """stack(4,
             'l_orderkey',   CAST(l_orderkey AS STRING),
             'l_partkey',    CAST(l_partkey AS STRING),
             'l_suppkey',    CAST(l_suppkey AS STRING),
             'l_returnflag', CAST(l_returnflag AS STRING))
             AS (column_name, v)"""))
        .groupBy(col("column_name"), col("v"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("column_name"))
        .agg(count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_count"),
          sum(col("c")).as("total"))
      // every column gets a row even when lineitem is empty (n_distinct 0,
      // no top value), as each of the oracle's per-column aggregates does
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
        .toDF("column_name")
        .join(census, Seq("column_name"), "left")
        .select(col("column_name"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          col("top_count").cast("long").as("top_count"),
          expr("(top_count * 1000000) div total").cast("long")
            .as("top_share_ppm"))
        .orderBy(col("column_name"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "q_ri_audit" -> {
      def edge(name: String, child: String, fk: String, parent: String,
          pk: String) =
        s"""SELECT '$name' AS edge, COUNT(*) AS n_child,
           |  COUNT(*) FILTER (WHERE p.$pk IS NULL) AS n_orphans
           |FROM $child LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
           |  ON $fk = p.$pk""".stripMargin
      Seq(
        edge("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edge("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        edge("nation.n_regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey"),
        edge("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        edge("supplier.s_nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
    },

    "q_profile" -> {
      def prof(c: String, mn: String, mx: String) =
        s"""SELECT '$c' AS col, COUNT(*) AS n,
           |  COUNT(*) - COUNT($c) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct, $mn AS min_s, $mx AS max_s
           |FROM orders""".stripMargin
      Seq(
        prof("o_custkey", "CAST(MIN(o_custkey) AS VARCHAR)",
          "CAST(MAX(o_custkey) AS VARCHAR)"),
        prof("o_orderdate",
          "strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S')",
          "strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')"),
        prof("o_orderkey", "CAST(MIN(o_orderkey) AS VARCHAR)",
          "CAST(MAX(o_orderkey) AS VARCHAR)"),
        prof("o_orderpriority", "MIN(o_orderpriority)",
          "MAX(o_orderpriority)"),
        prof("o_orderstatus", "MIN(o_orderstatus)", "MAX(o_orderstatus)"),
        prof("o_totalprice",
          "CAST(CAST(MIN(o_totalprice) AS DECIMAL(15,2)) AS VARCHAR)",
          "CAST(CAST(MAX(o_totalprice) AS DECIMAL(15,2)) AS VARCHAR)"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col")
    },

    "q_benford" ->
      """WITH c AS (SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(15,2))
        |      AS VARCHAR), 1, 1) AS digit, COUNT(*) AS n
        |    FROM orders WHERE o_totalprice > 0 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
        |SELECT digit, n,
        |  CAST((1000000 * n) // (SELECT tot FROM tot) AS BIGINT)
        |    AS freq_micro
        |FROM c ORDER BY digit""".stripMargin,

    // Value-grid cumulative counts — a different exact algorithm (window
    // prefix sums over the distinct-value grid) pinning the same D.
    "q_ks_test" ->
      """WITH a AS (SELECT o_totalprice AS v,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS s
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |    AND o_totalprice IS NOT NULL),
        |nm AS (SELECT CAST(SUM(s) AS BIGINT) AS n_a,
        |              CAST(COUNT(*) - SUM(s) AS BIGINT) AS n_b FROM a),
        |g AS (SELECT v, CAST(SUM(s) AS BIGINT) AS a1,
        |             CAST(COUNT(*) - SUM(s) AS BIGINT) AS b1
        |      FROM a GROUP BY 1),
        |c AS (SELECT SUM(a1) OVER (ORDER BY v) AS i,
        |             SUM(b1) OVER (ORDER BY v) AS j FROM g),
        |dn AS (SELECT CAST(MAX(ABS(i*n_b - j*n_a)) AS BIGINT) AS d_num
        |       FROM c, nm)
        |SELECT n_a, n_b, d_num,
        |  CAST(d_num AS DOUBLE) / CAST(n_a*n_b AS DOUBLE) AS d,
        |  1.358 * SQRT(CAST(n_a+n_b AS DOUBLE) / CAST(n_a*n_b AS DOUBLE))
        |    AS crit,
        |  CAST(d_num AS DOUBLE) / CAST(n_a*n_b AS DOUBLE) >
        |    1.358 * SQRT(CAST(n_a+n_b AS DOUBLE) / CAST(n_a*n_b AS DOUBLE))
        |    AS drift
        |FROM dn, nm""".stripMargin,

    "q_welch_ttest" ->
      """WITH a AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1
        |             ELSE 0 END AS s, o_totalprice AS v
        |           FROM orders
        |           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |             AND o_totalprice IS NOT NULL),
        |m AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |      AS sv,
        |    CAST(CAST(SUM(CAST(v*v AS DECIMAL(38,8))) AS VARCHAR)
        |      AS DOUBLE) AS ssv
        |  FROM a GROUP BY 1),
        |st AS (SELECT s, n, sv/n AS mean, (ssv - sv*sv/n)/(n-1) AS var
        |       FROM m)
        |SELECT x.n AS n_a, y.n AS n_b, x.mean AS mean_a, y.mean AS mean_b,
        |  (x.mean - y.mean) / SQRT(x.var/x.n + y.var/y.n) AS t_stat,
        |  (x.var/x.n + y.var/y.n)*(x.var/x.n + y.var/y.n) /
        |    ((x.var/x.n)*(x.var/x.n)/(x.n-1) +
        |     (y.var/y.n)*(y.var/y.n)/(y.n-1)) AS df,
        |  ABS((x.mean - y.mean) / SQRT(x.var/x.n + y.var/y.n)) > 1.96
        |    AS sig_05
        |FROM (SELECT * FROM st WHERE s = 1) x,
        |     (SELECT * FROM st WHERE s = 0) y""".stripMargin,

    // the q_ks_test prefix-sum oracle, partitioned by event type
    "q_drift_ks" ->
      """WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
        |    AS mid FROM events),
        |a AS (SELECT event_type AS key, value AS v,
        |    CASE WHEN epoch_us(ts) >= b.mid THEN 1 ELSE 0 END AS s
        |  FROM events, b WHERE value IS NOT NULL),
        |nm AS (SELECT key, CAST(SUM(s) AS BIGINT) AS n_a,
        |    CAST(COUNT(*) - SUM(s) AS BIGINT) AS n_b FROM a GROUP BY key),
        |g AS (SELECT key, v, CAST(SUM(s) AS BIGINT) AS a1,
        |    CAST(COUNT(*) - SUM(s) AS BIGINT) AS b1 FROM a GROUP BY key, v),
        |c AS (SELECT g.key,
        |    SUM(a1) OVER (PARTITION BY g.key ORDER BY v) AS i,
        |    SUM(b1) OVER (PARTITION BY g.key ORDER BY v) AS j,
        |    nm.n_a, nm.n_b
        |  FROM g JOIN nm ON nm.key = g.key),
        |dn AS (SELECT key, CAST(MAX(ABS(i*n_b - j*n_a)) AS BIGINT) AS d_num
        |  FROM c GROUP BY key)
        |SELECT dn.key AS event_type, n_a, n_b, d_num,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |    THEN CAST(d_num AS DOUBLE) / CAST(n_a*n_b AS DOUBLE) END AS d,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |    THEN 1.358 * SQRT(CAST(n_a+n_b AS DOUBLE)
        |      / CAST(n_a*n_b AS DOUBLE)) END AS crit,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |    THEN CAST(d_num AS DOUBLE) / CAST(n_a*n_b AS DOUBLE) >
        |      1.358 * SQRT(CAST(n_a+n_b AS DOUBLE)
        |        / CAST(n_a*n_b AS DOUBLE)) END AS drift
        |FROM dn JOIN nm ON nm.key = dn.key ORDER BY event_type""".stripMargin,

    // Same deterministic weight chain, value-grid free: ONE md5 per row,
    // the per-replicate mix32 scramble replayed literally (seed + two
    // xorshift-multiply rounds, all products < 2^63 so BIGINT is exact),
    // thresholds the identical 2^32-scaled CDF literals.
    "q_bootstrap_ci" ->
      """WITH base AS (SELECT
        |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
        |      AS u0,
        |    o_totalprice AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |e AS (SELECT b, v, xor(t3, t3 // 65536) AS u FROM (
        |  SELECT b, v,
        |    (xor(t2, t2 // 32768) * 1935781271) % 4294967296 AS t3 FROM (
        |    SELECT b, v,
        |      (xor(t1, t1 // 65536) * 2146121005) % 4294967296 AS t2 FROM (
        |      SELECT b.b AS b, v,
        |        (u0 + b.b * 2654435761) % 4294967296 AS t1
        |      FROM base,
        |        LATERAL unnest(generate_series(0, 199)) AS b(b))))),
        |w AS (SELECT b,
        |    CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
        |         WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
        |         WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5
        |         WHEN u < 4294609777 THEN 6 ELSE 7 END AS wt, v
        |  FROM e),
        |mb AS (SELECT b,
        |    CAST(CAST(SUM(CAST(wt * v AS DECIMAL(18,4))) AS VARCHAR)
        |      AS DOUBLE) / CAST(SUM(wt) AS DOUBLE) AS mean_b
        |  FROM w WHERE wt > 0 GROUP BY b),
        |ci AS (SELECT list_sort(list(mean_b)) AS ms, COUNT(*) AS nb
        |       FROM mb),
        |fl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_full
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT fl.n, CAST(ci.nb AS BIGINT) AS b, fl.mean_full,
        |  ci.ms[CAST(GREATEST(1, (5 * ci.nb) // 200) AS INT)] AS ci_lo,
        |  ci.ms[CAST(LEAST(ci.nb, (196 * ci.nb + 199) // 200) AS INT)]
        |    AS ci_hi
        |FROM ci, fl""".stripMargin,

    // Same mix32 chain as q_bootstrap_ci, but the LOW BIT becomes the
    // permuted group label; every statistic is exact-integer so the
    // replicate set replays bit-for-bit.
    "q_perm_test" ->
      """WITH o AS (SELECT CAST(o_orderkey AS VARCHAR) AS k,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS x
        |  FROM orders),
        |obs AS (SELECT COUNT(*) AS n_orders,
        |    ABS((1000000 * (
        |        SUM(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) ELSE 0 END)
        |          * SUM(1 - g)
        |        - SUM(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) ELSE 0 END)
        |          * SUM(g)))
        |      // (CAST(SUM(g) AS HUGEINT) * SUM(1 - g)))
        |      AS obs_diff_micro
        |  FROM o),
        |base AS (SELECT ('0x' || substr(md5(k), 1, 8))::BIGINT AS u0, x
        |  FROM o),
        |e AS (SELECT b, x, xor(t3, t3 // 65536) AS u FROM (
        |  SELECT b, x,
        |    (xor(t2, t2 // 32768) * 1935781271) % 4294967296 AS t3 FROM (
        |    SELECT b, x,
        |      (xor(t1, t1 // 65536) * 2146121005) % 4294967296 AS t2 FROM (
        |      SELECT b.b AS b, x,
        |        (u0 + b.b * 2654435761) % 4294967296 AS t1
        |      FROM base,
        |        LATERAL unnest(generate_series(0, 199)) AS b(b))))),
        |cell AS (SELECT b,
        |    SUM(CASE WHEN u % 2 = 1 THEN CAST(x AS HUGEINT) ELSE 0 END)
        |      AS s1,
        |    SUM(CASE WHEN u % 2 = 0 THEN CAST(x AS HUGEINT) ELSE 0 END)
        |      AS s0,
        |    SUM(u % 2) AS n1, SUM(1 - u % 2) AS n0
        |  FROM e GROUP BY b),
        |st AS (SELECT
        |    ABS((1000000 * (s1 * n0 - s0 * n1))
        |      // (CAST(n1 AS HUGEINT) * n0)) AS stat
        |  FROM cell)
        |SELECT CAST(obs.n_orders AS BIGINT) AS n_orders,
        |  COUNT(*) AS b_reps,
        |  CAST(obs.obs_diff_micro AS BIGINT) AS obs_diff_micro,
        |  CAST(SUM(CASE WHEN st.stat >= obs.obs_diff_micro
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
        |  CAST((1000000 * (SUM(CASE WHEN st.stat >= obs.obs_diff_micro
        |      THEN 1 ELSE 0 END) + 1)) // (COUNT(*) + 1) AS BIGINT)
        |    AS p_ppm
        |FROM st, obs
        |GROUP BY obs.n_orders, obs.obs_diff_micro""".stripMargin,

    "q_jackknife_ratio" ->
      """WITH oc AS (SELECT o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |pn AS (
        |  SELECT c_nationkey,
        |    SUM(CAST(COALESCE(cents, 0) AS HUGEINT)) AS si,
        |    COUNT(DISTINCT c_custkey) AS ni
        |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey
        |  GROUP BY 1),
        |tot AS (SELECT SUM(si) AS s, SUM(ni) AS n, COUNT(*) AS g FROM pn),
        |reps AS (SELECT tot.g, tot.s, tot.n,
        |    (1000000 * (tot.s - si)) // (CAST(tot.n AS HUGEINT) - ni)
        |      AS ri
        |  FROM pn, tot),
        |rb AS (SELECT g, s, n, SUM(ri) // g AS rbar
        |  FROM reps GROUP BY 1, 2, 3),
        |d AS (SELECT reps.g, reps.s, reps.n, rb.rbar,
        |    CAST(ri - rb.rbar AS HUGEINT) * (ri - rb.rbar) AS d2
        |  FROM reps, rb),
        |cell AS (SELECT g, s, n, rbar, SUM(d2) AS ssd
        |  FROM d GROUP BY 1, 2, 3, 4)
        |SELECT CAST(g AS BIGINT) AS n_blocks,
        |  CAST((1000000 * s) // n AS BIGINT) AS ratio_micro,
        |  CAST(rbar AS BIGINT) AS rbar_micro,
        |  CAST(((ssd * (g - 1)) // CAST(g AS HUGEINT)) // 1000000000000
        |    AS BIGINT) AS jk_var_c2,
        |  round(sqrt(CAST((ssd * (g - 1)) // CAST(g AS HUGEINT)
        |    AS DOUBLE)) / 1000000.0, 6) AS se_cents
        |FROM cell""".stripMargin,

    "q_eval_confusion" -> {
      val toks = graft.functions.TextFunctions.sqlTokens("text")
      s"""WITH d AS (SELECT lang, n_chars >= 400 AS truth,
         |    len($toks) >= 80 AS pred FROM documents),
         |c AS (SELECT lang,
         |    CAST(SUM(CASE WHEN truth AND pred THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN NOT truth AND pred THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN truth AND NOT pred THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN NOT truth AND NOT pred THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tn
         |  FROM d GROUP BY 1)
         |SELECT lang, tp, fp, fn, tn,
         |  (1000000 * tp) // NULLIF(tp + fp, 0) AS precision_micro,
         |  (1000000 * tp) // NULLIF(tp + fn, 0) AS recall_micro,
         |  (2000000 * tp) // NULLIF(2*tp + fp + fn, 0) AS f1_micro
         |FROM c ORDER BY lang""".stripMargin
    },

    "q_skew_report" -> {
      def one(name: String) =
        s"""SELECT '$name' AS column_name,
           |  COUNT(*) AS n_distinct,
           |  CAST(MAX(c) AS BIGINT) AS top_count,
           |  CAST((MAX(c) * 1000000) // SUM(c) AS BIGINT) AS top_share_ppm
           |FROM (SELECT CAST($name AS VARCHAR) AS v, COUNT(*) AS c
           |      FROM lineitem GROUP BY 1)""".stripMargin
      s"""SELECT * FROM (
         |${one("l_orderkey")}
         |UNION ALL ${one("l_partkey")}
         |UNION ALL ${one("l_suppkey")}
         |UNION ALL ${one("l_returnflag")})
         |ORDER BY column_name""".stripMargin
    }
  )
}
