package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared, build-once graph artifacts (round 14 — the r13 verdict's
  * structural perf item).
  *
  * Nine gate queries consume the SAME two graphs — the part co-purchase
  * graph (q_triangles, q_clustering_coef, q_kcore, q_bfs_hops,
  * q_modularity, q_assortativity, q_link_predict, q_item_cosine,
  * q_basket_rules, q_itemsets3 share its capped membership) and the
  * nation trade graph (q_pagerank, q_ppr, q_hits) — yet each gate
  * rebuilt its frame from the fact table independently: ~40 s of
  * repeated edge builds per bench sweep, and at 100 TB ten redundant
  * corpus scans per analysis session.
  *
  * The 100 TB layout is write-once: the edge list is a BUCKETED TABLE
  * materialized by one job and read by every downstream analysis with
  * no exchange (the regime GraphBucketingSpec pins — bucketed writes
  * of both join sides let every degree/wedge join plan with zero
  * Exchange). In a single-session gate run the equivalent is a
  * per-(session, corpus) memoized `localCheckpoint`: the first gate
  * pays the one build, every later gate reads the materialized narrow
  * frame as a leaf. Same artifact economics, session-local.
  *
  * Semantics are IDENTICAL to the per-gate builds these replace — the
  * functions below delegate to the same [[BasketGraph]] construction
  * (census cap, dropped-whole baskets, distinct edges) and the same
  * fact→nation-pair rollup; only the redundant recomputation is gone.
  * Memoization delegates to the unified [[Artifacts.memo]]: keyed by
  * (applicationId, dir, kind) so distinct corpora and distinct Spark
  * applications never share state; a cached entry from a stopped context
  * is rebuilt, not reused.
  */
object GraphArtifacts {

  private def memo(s: SparkSession, dir: String, kind: String)
      (build: => DataFrame): DataFrame =
    Artifacts.memo(s, dir, "graph:" + kind)(build)

  /** Distinct (ok, pk) co-purchase membership, census-capped
    * ([[BasketGraph.cappedItems]] — oversized baskets dropped whole)
    * and checkpointed once per (session, corpus). Every basket-derived
    * statistic (pair supports, item supports, triples) reads this same
    * frame, so the whole family sees one consistent dropped-basket set. */
  def coPurchaseItems(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "items") {
      BasketGraph.cappedItems(
        graft.sources.Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct(),
        "ok", "pk")
    }

  /** Distinct undirected co-purchase edges (u, v), u < v, over
    * [[coPurchaseItems]] — built once, read as a two-column leaf by
    * every structural gate. */
  def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "edges") {
      BasketGraph.pairsOf(coPurchaseItems(s, dir), "ok", "pk")
        .select(col("u"), col("v")).distinct().localCheckpoint()
    }

  /** Vertex degrees (x, d) of [[coPurchaseEdges]] — the broadcastable
    * vertex-sized table every orientation/threshold gate joins; built
    * once (round 15: q_triangles and q_clustering_coef each rebuilt it). */
  def coPurchaseDegrees(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "degrees") {
      val e0 = coPurchaseEdges(s, dir)
      e0.select(col("u").as("x"))
        .unionAll(e0.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
        .localCheckpoint()
    }

  /** Degree-oriented co-purchase edges (s, t): low-(degree, id) →
    * high-(degree, id), the orientation that bounds wedge fan-out by
    * the classical O(m^1.5) on power-law graphs. The triangle twins
    * (q_triangles, q_clustering_coef) consume this same checkpointed
    * frame on all three legs of their two-hop joins — one degree join
    * + orientation build per (session, corpus) instead of one per
    * gate. */
  def orientedCoPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "oriented") {
      val e0 = coPurchaseEdges(s, dir)
      val deg = coPurchaseDegrees(s, dir)
      val fwd = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      e0.join(broadcast(deg.select(col("x").as("u"), col("d").as("du"))),
          Seq("u"))
        .join(broadcast(deg.select(col("x").as("v"), col("d").as("dv"))),
          Seq("v"))
        .select(when(fwd, col("u")).otherwise(col("v")).as("s"),
          when(fwd, col("v")).otherwise(col("u")).as("t"))
        .localCheckpoint()
    }

  /** Out-adjacency of [[orientedCoPurchaseEdges]] — (x, nbrs) with nbrs
    * the SORTED array of out-neighbors. Degree orientation bounds
    * |nbrs| by O(√m) on power-law graphs, so the arrays are small even
    * at hub vertices. The triangle twins intersect these per edge
    * (|adjOut(s) ∩ adjOut(t)| = triangles through oriented edge (s,t))
    * — two edge-sized shuffles instead of materializing the wedge
    * frame, which is the term that explodes at 100 TB. */
  def orientedAdjacency(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "adjacency") {
      orientedCoPurchaseEdges(s, dir)
        .groupBy(col("s").as("x"))
        .agg(sort_array(collect_list(col("t"))).as("nbrs"))
        .localCheckpoint()
    }

  /** Weighted customer-nation → supplier-nation trade edges (src, dst,
    * w) — the lineitem⋈orders⋈customer⋈supplier rollup all three rank
    * gates (q_pagerank/q_ppr/q_hits) iterate over, built once. ≤ 625
    * rows at any corpus scale (nation² bound). */
  def nationTradeEdges(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "trade") {
      def t(name: String) = graft.sources.Tables.load(s, dir, name)
      t("lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t("orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t("customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(t("supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint()
    }
}
