package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Native one-pass text kernels (plans/TextKernels) ≡ the composed
  * HOF pipelines they replace — on the real corpus AND on the edge strings
  * where tokenizer/regex semantics diverge between implementations.
  * The oracles are built from the composed SQL, so this equivalence is what
  * keeps the DuckDB gate valid for the native hot paths.
  */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** The composed hashing half of winnowing, the oracle for
    * [[graft.plans.WinnowFingerprintExpr]]: hash32 (built-ins only) of
    * every char k-shingle of a PRE-STAGED normalized text column. */
  private def hashedCharShinglesOfNormalized(n: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column =
    transform(charShinglesOfNormalized(n, k), sh => hash32Composed(sh))

  private val edges = Seq(
    "",
    " ",
    "\t\n  \r",
    "a",
    "a b",
    "  Leading and TRAILING  ",
    "tabs\tand\nnewlines\r\nmixed   runs",
    "punct, and. Case! MIXED?",
    "über GRÜN straße ŁÓDŹ zażółć",
    "汉字 漢字 mixed ascii 中文",
    "one two three four five six seven eight nine ten")

  private def corpusPlus = Tables
    .load(spark, sf, "documents")
    .select(col("text"))
    .unionByName(edges.toDF("text"))

  private object Tables { // tiny alias to keep the call sites short
    def load(s: org.apache.spark.sql.SparkSession, dir: String, t: String) =
      graft.sources.Tables.load(s, dir, t)
  }

  test("WordNgramsExpr ≡ composed wordNgrams (n = 1, 2, 3, 5)") {
    for (n <- Seq(1, 2, 3, 5)) {
      val diff = corpusPlus
        .select(wordNgrams(col("text"), n).as("composed"),
          wordNgramsNative(col("text"), n).as("native"))
        .filter(not(col("composed") <=> col("native")))
        .count()
      assert(diff == 0, s"wordNgrams mismatch at n=$n")
    }
  }

  test("MinhashSigExpr ≡ composed staged signature (k = 1, 8, 16)") {
    for (k <- Seq(1, 8, 16)) {
      val diff = corpusPlus
        .select(
          minhashFromHashes(hashedShingles(wordNgrams(col("text"), 3)), k)
            .as("composed"),
          minhashSigNative(col("text"), 3, k).as("native"))
        .filter(not(col("composed") <=> col("native")))
        .count()
      assert(diff == 0, s"minhash signature mismatch at k=$k")
    }
  }

  test("Simhash64Expr ≡ composed simhash64FromHashes over both hash halves") {
    val diff = corpusPlus
      .select(simhash64FromHashes(hashedTokens(col("text")),
          hashedTokensB(col("text"))).as("composed"),
        simhash64Native(col("text")).as("native"))
      .filter(not(col("composed") <=> col("native")))
      .count()
    assert(diff == 0)
  }

  test("WinnowFingerprintExpr ≡ staged composed winnowing (k,w grid)") {
    // every intermediate staged in its own projection — inlined, the
    // interpreted HOF lambdas recompute normalize per shingle and the
    // shingle pipeline per window (O(n²) per doc; measured in minutes)
    // mismatches counted via an AGGREGATE, not a filter: a filter here is
    // pushed below the staging projections with every alias substituted,
    // rebuilding the O(n²) inlined expression the staging exists to avoid
    def composedVsNative(df: org.apache.spark.sql.DataFrame,
        k: Int, w: Int): Long =
      df.repartition(8) // the corpus is one parquet split; spread the HOF cost
        .select(col("text"), normalizeText(col("text")).as("__norm"))
        .select(col("text"),
          hashedCharShinglesOfNormalized(col("__norm"), k).as("__hs"))
        .select(winnowFromHashes(col("__hs"), w).as("composed"),
          winnowFingerprint(col("text"), k, w).as("native"))
        .select((col("composed") <=> col("native")).as("ok"))
        .agg(sum(when(col("ok"), 0L).otherwise(1L)))
        .head().getLong(0)
    // full corpus at the production parameters
    assert(composedVsNative(corpusPlus, 5, 4) == 0, "mismatch at k=5 w=4")
    // parameter grid (incl. w=1 all-hashes and w > shingle-count edges)
    // on the edge strings + a corpus sample (edges first — limit on the
    // union would drop them)
    val sample = edges.toDF("text").unionByName(
      Tables.load(spark, sf, "documents").select(col("text")).limit(50))
    for ((k, w) <- Seq((3, 2), (7, 1), (4, 9))) {
      assert(composedVsNative(sample, k, w) == 0,
        s"winnow fingerprint mismatch at k=$k w=$w")
    }
  }

  test("winnowing surfaces shared substrings between partially-copied docs") {
    // the winnowing guarantee: any shared run of ≥ k + w − 1 chars yields a
    // common selected hash — a copied sentence must overlap fingerprints
    val base = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 50).select(col("doc_id"), col("text"))
    val partCopies = base.select((col("doc_id") + 1000L).as("doc_id"),
      concat(lit("entirely new preamble text here. "), col("text")).as("text"))
    val fps = base.unionByName(partCopies)
      .select(col("doc_id"), winnowFingerprint(col("text")).as("fp"))
    val a = fps.filter(col("doc_id") < 50)
      .select(col("doc_id"), col("fp"))
    val b = fps.filter(col("doc_id") >= 1000L)
      .select((col("doc_id") - 1000L).as("doc_id"), col("fp").as("fp2"))
    val overlap = a.join(b, "doc_id")
      .select(col("doc_id"),
        (size(array_intersect(col("fp"), col("fp2"))).cast("double") /
          size(col("fp")).cast("double")).as("shared"))
      .collect().map(r => r.getDouble(1))
    assert(overlap.nonEmpty && overlap.forall(_ > 0.5),
      s"partial copies share too few fingerprints: min=${overlap.min}")
    // while unrelated docs share almost nothing
    val cross = a.filter(col("doc_id") === 1)
      .crossJoin(b.filter(col("doc_id") === 2).drop("doc_id"))
      .select((size(array_intersect(col("fp"), col("fp2"))).cast("double") /
        size(col("fp")).cast("double")).as("shared"))
      .head().getDouble(0)
    // the synthetic corpus draws from one word pool, so some shingle
    // overlap between unrelated docs is expected — the discriminating
    // property is partial copies scoring far above the unrelated floor
    assert(cross < 0.4 && cross < overlap.min,
      s"unrelated docs share $cross of fingerprints (copies min=${overlap.min})")
  }

  test("sortedIntersect (array kernel) equals array_intersect as a SET " +
    "on sorted distinct inputs (round-17 triangle-twin rewrite)") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val a = rnd.shuffle((0L to 200L).toVector).take(rnd.nextInt(40))
        .distinct.sorted
      val b = rnd.shuffle((0L to 200L).toVector).take(rnd.nextInt(40))
        .distinct.sorted
      (i, a, b)
    } :+ ((201, Vector.empty[Long], Vector(1L, 2L))) :+
      ((202, Vector(5L), Vector(5L)))
    val df = rows.toDF("id", "a", "b")
    def kernel(l: org.apache.spark.sql.Column,
        r: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.plans.SortedIntersectExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(l),
          org.apache.spark.sql.graft.ColumnBridge.expression(r)))
    val bad = df.select(col("id"),
        kernel(col("a"), col("b")).as("k"),
        array_sort(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(not(col("k") <=> col("ref")))
    assert(bad.isEmpty, s"kernel != array_intersect: ${bad.head(3).toSeq}")
    // and the count kernel agrees with the array kernel's size
    val badC = df.select(col("id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.plans.SortedIntersectCountExpr(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("a")),
            org.apache.spark.sql.graft.ColumnBridge.expression(col("b"))))
          .as("c"),
        size(kernel(col("a"), col("b"))).cast("long").as("sz"))
      .filter(col("c") =!= col("sz"))
    assert(badC.isEmpty, s"count kernel != array kernel size")
  }

  test("sortedIntersectCountStr equals size(array_intersect) on sorted " +
    "distinct string arrays (round-18 exact-Jaccard rewrite)") {
    val rnd = new scala.util.Random(11)
    val pool = (0 to 300).map(i => s"tok${i}x").toVector
    val rows = (1 to 200).map { i =>
      val a = rnd.shuffle(pool).take(rnd.nextInt(40)).distinct.sorted
      val b = rnd.shuffle(pool).take(rnd.nextInt(40)).distinct.sorted
      (i, a, b)
    } :+ ((201, Vector.empty[String], Vector("x", "y"))) :+
      ((202, Vector("q"), Vector("q"))) :+
      ((203, Vector("", "a"), Vector("", "b"))) // empty string element
    val df = rows.toDF("id", "a", "b")
    val bad = df.select(col("id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.plans.SortedIntersectCountStrExpr(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("a")),
            org.apache.spark.sql.graft.ColumnBridge.expression(col("b"))))
          .as("c"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .filter(col("c") =!= col("ref"))
    assert(bad.isEmpty,
      s"string count kernel != array_intersect size: ${bad.head(3).toSeq}")
    // and |A∪B| = |A| + |B| − |A∩B| matches the built-in union size
    val badU = df.select(col("id"),
        (size(col("a")) + size(col("b")).cast("long") -
          org.apache.spark.sql.graft.ColumnBridge.column(
            graft.plans.SortedIntersectCountStrExpr(
              org.apache.spark.sql.graft.ColumnBridge.expression(col("a")),
              org.apache.spark.sql.graft.ColumnBridge.expression(col("b")))))
          .as("u"),
        size(array_union(col("a"), col("b"))).cast("long").as("ref"))
      .filter(col("u") =!= col("ref"))
    assert(badU.isEmpty, s"union-size identity broke: ${badU.head(3).toSeq}")
  }

  test("native kernels participate in whole-stage codegen") {
    val cg = corpusPlus
      .select(minhashSigNative(col("text"), 3, 8),
        simhash64Native(col("text")),
        wordNgramsNative(col("text"), 3))
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("TextKernels.minhashSig"), "expected inlined static call")
    assert(cg.contains("TextKernels.simhash64"))
    assert(cg.contains("TextKernels.wordNgrams"))
  }
}
