package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.functions.TextFunctions._
import graft.operators.{Chunking, Contamination, Dedup, Layout, Packing, Sampling, Spread}

/** Operator-level behavior of the round-5 pipeline additions; the gate
  * queries in [[graft.queries.PipelineOps]] pin the same ops against
  * DuckDB oracles at sf0.01. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // -- decontamination -------------------------------------------------------

  test("decontamination flags planted n-gram overlap and nothing else") {
    val evalDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val corpus = Seq(
      // contains a contiguous 5-gram run lifted from the eval doc
      (10L, "intro words then quick brown fox jumps over and more trailing text"),
      // shares vocabulary but no 5-gram
      (11L, "fox dog quick lazy brown the over jumps tonight scrambled"),
      (12L, "completely unrelated content with distinct tokens entirely")).toDF("doc_id", "text")

    val hits = Contamination.ngramOverlap(corpus, evalDocs,
        col("text"), col("doc_id"), n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(10L)) // one overlapping 5-gram window
    assert(hits(10L) == 1L)

    val kept = Contamination.scrub(corpus, evalDocs, col("text"), col("doc_id"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept == Set(11L, 12L))
  }

  test("decontamination self-overlap: an eval doc inside the corpus flags fully") {
    val d = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val hits = Contamination.ngramOverlap(d, d, col("text"), col("doc_id"), n = 5)
      .collect()
    assert(hits.length == 1)
    // 8 tokens → 4 distinct 5-gram windows, all self-overlapping
    assert(hits.head.getLong(1) == 4L)
  }

  test("bloom-prefiltered decontamination is identical to the exact path") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val eval = docs.filter(col("doc_id") % 97 === 0)
    val exact = Contamination.ngramOverlap(docs, eval, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloomed = Contamination.ngramOverlapBloom(docs, eval, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == bloomed)
    assert(exact.nonEmpty) // the eval docs at least flag themselves
  }

  test("bloom probe never false-negatives, and codegen matches interpreted eval") {
    import org.apache.spark.sql.graft.ColumnBridge
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    val planted = (0 until 500).map(i => s"gram number $i")
    planted.foreach(bloom.putString)
    val probe = ColumnBridge.column(graft.plans.BloomMightContainExpr(
      ColumnBridge.expression(col("g")), bloom))
    val df = (planted ++ (10000 until 10500).map(i => s"absent $i")).toDF("g")
    val got = df.select(col("g"), probe.as("hit")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // every inserted key must hit (no false negatives, the bloom contract)
    planted.foreach(g => assert(got(g), s"false negative on '$g'"))
    // absent keys mostly miss (1% fpp; 500 probes → a handful at most)
    val fps = (10000 until 10500).count(i => got(s"absent $i"))
    assert(fps < 25, s"implausible false-positive count: $fps")
  }

  // -- spreading a narrow corpus (operators.Spread) ---------------------------

  private lazy val cores = spark.sparkContext.defaultParallelism

  /** The fixture corpus as the benchmark reads it: one parquet split. */
  private def documents: DataFrame = spark.read.parquet(s"$sf/documents.parquet")

  /** The fixture corpus plus a one-word-tail mutant of every document (so
    * LSH has pairs to find), written once as one file and once as 8. */
  private lazy val (withMutants1, withMutants8) = {
    val d = documents.select(col("doc_id"), col("text"))
    val corpus = d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zzmutant")).as("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-spread")
    corpus.coalesce(1).write.parquet(dir.resolve("one").toString)
    corpus.repartition(8).write.parquet(dir.resolve("eight").toString)
    (spark.read.parquet(dir.resolve("one").toString),
      spark.read.parquet(dir.resolve("eight").toString))
  }

  /** What `body` made Spark do: jobs started, the task count of each
    * completed stage in completion order, and each SQL action's plan. */
  private final class Seen[T](val value: T, val jobs: Int, val stageTasks: Seq[Int],
      val plans: Seq[SparkPlan])

  private def seen[T](body: => T): Seen[T] = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val stageTasks = new ConcurrentLinkedQueue[Int]
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val onJobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.add(e.stageInfo.numTasks)
    }
    val onActions = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(onJobs)
    spark.listenerManager.register(onActions)
    try {
      val value = body
      ListenerBusDrain(sc)
      new Seen(value, jobs.get, stageTasks.asScala.toSeq, plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(onJobs)
      spark.listenerManager.unregister(onActions)
    }
  }

  /** Every node `p` executes: through AQE stages and subqueries, not
    * into a reused exchange (its original is counted where it runs). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Seq.empty
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def roundRobins(plans: Seq[SparkPlan]): Int = plans.flatMap(nodes).count {
    case e: ShuffleExchangeLike => e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
    case _ => false
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a one-partition corpus, a parquet file or a cached frame, is spread " +
      "by one round-robin exchange, and its kernel stage runs on every core") {
    def check(what: String, input: DataFrame): Unit = {
      assert(Spread.partitions(input.queryExecution.executedPlan) == 1L, what)
      val s = seen(Dedup.minhashSignatures(input, col("text"), col("doc_id")).collect())
      assert(roundRobins(s.plans) == 1, s"$what:\n${s.plans.mkString("\n")}")
      assert(s.stageTasks.last == cores, s"$what: tasks per stage ${s.stageTasks}")
    }
    check("parquet", documents)
    val cached = documents.select(col("doc_id"), col("text")).persist()
    try check("cached", cached) finally cached.unpersist()
  }

  test("a corpus with at least defaultParallelism partitions is not spread: " +
      "no added exchange and no checkpoint") {
    for (input <- Seq(withMutants8, documents.repartition(2 * cores))) {
      val inputPlan = input.queryExecution.executedPlan
      assert(Spread.partitions(inputPlan) >= cores, inputPlan.toString)
      assert(Spread(input) eq input)
      val plan = Dedup.minhashSignatures(input, col("text"), col("doc_id"))
        .queryExecution.executedPlan
      def exchanges(p: SparkPlan) = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])
      assert(exchanges(plan) == exchanges(inputPlan), plan.toString)
      assert(!nodes(plan).exists(_.isInstanceOf[RDDScanExec]), plan.toString)
    }
  }

  test("deciding the spread starts no Spark job") {
    val narrow = documents
    val cached = documents.select(col("doc_id"), col("text")).persist()
    try {
      val s = seen {
        val counts = Seq(narrow, cached, withMutants8, narrow.repartition(8))
          .map(df => Spread.partitions(df.queryExecution.executedPlan))
        // a wide input is not spread, so its operator frames build lazily
        Dedup.minhashPairs(withMutants8, col("text"), col("doc_id"))
        Contamination.scrub(withMutants8, narrow.filter(col("doc_id") % 97 === 0),
          col("text"), col("doc_id"))
        counts
      }
      assert(s.value.take(2) == Seq(1L, 1L) && s.value.drop(2).forall(_ >= cores),
        s"partitions ${s.value}")
      assert(s.jobs == 0, s"deciding the spread ran ${s.jobs} jobs")
    } finally cached.unpersist()
  }

  test("scrub and minhashPairs return the same rows on a one-partition " +
      "corpus and on an 8-partition copy of it") {
    val eval = documents.filter(col("doc_id") % 97 === 0)
    def scrubbed(d: DataFrame) =
      sortedRows(Contamination.scrub(d, eval, col("text"), col("doc_id")))
    def pairs(d: DataFrame) =
      sortedRows(Dedup.minhashPairs(d, col("text"), col("doc_id")))
    val kept = scrubbed(withMutants1)
    assert(kept.nonEmpty && kept.size < withMutants1.count())
    assert(kept == scrubbed(withMutants8))
    val found = pairs(withMutants1)
    assert(found.nonEmpty)
    assert(found == pairs(withMutants8))
  }

  test("the curation chain (sample → scrub → pairs + left-anti → pack) " +
      "reads documents once per pass") {
    val docs = documents
    val evalDocs = docs.filter(col("doc_id") % 97 === 0).select(col("text"))
      .as[String].collect().toSeq.toDF("text")
    val out = java.nio.file.Files.createTempDirectory("graft-curate").resolve("out")
    val s = seen {
      val sampled = Sampling.stratifiedHashSample(docs, col("doc_id"), col("lang"),
        Map("en" -> 0.5, "zh" -> 0.9), defaultRate = 0.6)
      val clean = Contamination.scrub(sampled, evalDocs, col("text"), col("doc_id"), n = 5)
      val dups = Dedup.minhashPairs(clean, col("text"), col("doc_id"))
        .select(col("id_b").as("doc_id")).distinct()
      val packed = Packing.byBudget(clean.join(dups, Seq("doc_id"), "left_anti")
          .filter(col("n_chars").between(50, 5000)),
        Seq(col("lang")), col("doc_id"), col("n_chars"), budget = 20000L)
      graft.sinks.Sinks.writeJsonlShards(packed.select(col("doc_id"), col("lang"),
        col("pack_id"), col("text")), out.toString, 500L, partitionCols = Seq("lang"))
      packed
    }
    def documentScans(p: SparkPlan) = nodes(p).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "documents.parquet") => f
    }
    val rowsRead = s.plans.flatMap(documentScans)
      .map(_.metrics("numOutputRows").value).sum
    assert(rowsRead == docs.count(), s"documents rows read in the pass: $rowsRead")
    val finalPlan = s.value.queryExecution.executedPlan
    assert(documentScans(finalPlan).isEmpty, s"the pass plan scans documents:\n$finalPlan")
  }

  // -- cross-corpus near-dedup -----------------------------------------------

  test("cross-corpus LSH finds planted cross pairs and suppresses within-corpus pairs") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // left: originals PLUS an in-corpus near-dup of doc 0 at id 900000
    val left = docs.unionByName(docs.filter(col("doc_id") === 0L)
      .select(lit(900000L).as("doc_id"),
        concat(col("text"), lit(" withinmutant")).as("text")))
    // right: a near-dup of every original at id + 1000000
    val right = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" crossmutant")).as("text"))

    val pairs = Dedup.minhashPairsAcross(left, right, col("text"), col("doc_id"),
        shingleSize = 3, k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val nDocs = docs.count()
    val expected = (0L until nDocs).map(i => (i, i + 1000000L)).toSet
    // banding is probabilistic per doc (same envelope as the minhashPairs
    // recall test): near-total recall on one-word-tail mutants
    assert(expected.intersect(pairs).size >= (nDocs * 0.95).toInt,
      s"cross recall too low: ${expected.intersect(pairs).size}/$nDocs")
    // every emitted pair is cross-side: the within-left near-dup
    // (0, 900000) and all original-original pairs are suppressed
    assert(pairs.forall { case (l, r) => l <= 900000L && r >= 1000000L },
      s"within-corpus pair leaked: ${pairs.find(p => p._2 < 1000000L)}")
  }

  test("cross-corpus pairs orient left→right regardless of id order") {
    // right-side ids BELOW the left side's, identical text (deterministic
    // candidate): orientation must come from the side tag, not the ids
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val left = Seq((500L, t)).toDF("doc_id", "text")
    val right = Seq((7L, t)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsAcross(left, right, col("text"), col("doc_id"),
        shingleSize = 3, k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((500L, 7L)))
  }

  // -- chunking --------------------------------------------------------------

  test("token windows: boundary arithmetic and content") {
    val toks = (1 to 100).map(i => s"t$i")
    val d = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val rows = Chunking.tokenWindows(d, col("doc_id"),
        tokens(normalizeText(col("text"))), windowSize = 64, stride = 48)
      .orderBy(col("chunk_id"))
      .select(col("start"), col("n_chunk_tokens"), col("chunk_text"))
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((0L, 64), (48L, 52), (96L, 4)))
    assert(rows(0).getString(2) == toks.take(64).mkString(" "))
    assert(rows(1).getString(2) == toks.slice(48, 100).mkString(" "))
    assert(rows(2).getString(2) == toks.slice(96, 100).mkString(" "))
  }

  test("disjoint windows (stride = size) reassemble the document") {
    val toks = (1 to 37).map(i => s"w$i")
    val d = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val chunks = Chunking.tokenWindows(d, col("doc_id"),
        tokens(normalizeText(col("text"))), windowSize = 10, stride = 10)
      .orderBy(col("chunk_id"))
      .select(col("chunk_text")).as[String].collect()
    assert(chunks.mkString(" ") == toks.mkString(" "))
  }

  test("overlap region: consecutive windows share exactly size - stride tokens") {
    val toks = (1 to 80).map(i => s"x$i")
    val d = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val chunks = Chunking.tokenWindows(d, col("doc_id"),
        tokens(normalizeText(col("text"))), windowSize = 32, stride = 24)
      .orderBy(col("chunk_id"))
      .select(col("chunk_text")).as[String].collect()
      .map(_.split(" ").toSeq)
    chunks.sliding(2).foreach {
      case Array(a, b) => assert(a.takeRight(32 - 24) == b.take(32 - 24))
      case _           =>
    }
  }

  // -- temperature sampling --------------------------------------------------

  test("temperature sampling matches an exact integer-arithmetic replay") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val rows = docs.select(col("doc_id"), col("lang"))
      .as[(Long, String)].collect()

    // the contract, replayed in BigInt: w = floor(2^18·√n),
    // rate20 = min(2^20, (2^20·w·T) div (Σw·n)), keep ⇔ hash32 >> 12 < rate
    val t = 200L
    val n = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val w = n.view.mapValues(c => math.floor(math.sqrt(c.toDouble) * (1L << 18)).toLong).toMap
    val sw = w.values.map(BigInt(_)).sum
    val rate = n.keys.map { l =>
      l -> (BigInt(1L << 20) * w(l) * t / (sw * n(l))).min(BigInt(1L << 20))
    }.toMap
    def hash32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      BigInt(1, d.take(4)).toLong
    }
    val expected = rows.filter { case (id, l) =>
      BigInt(hash32(id.toString) >>> 12) < rate(l)
    }.map(_._1).toSet

    val got = graft.operators.Sampling
      .temperatureHalfSample(docs, col("doc_id"), col("lang"), t)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got == expected, s"member-set divergence: ${got.diff(expected).take(5)} / ${expected.diff(got).take(5)}")
    assert(got.nonEmpty)
  }

  test("temperature sampling upweights low-resource strata (rate monotone in 1/√n)") {
    // planted sizes far apart: 1000 vs 40 docs — per-row keep rate of the
    // small stratum must exceed the big one's (∝ 1/√n)
    val d = (0L until 1000L).map(i => (i, "big")) ++
      (1000L until 1040L).map(i => (i, "small"))
    val df = d.toDF("doc_id", "lang")
    val kept = graft.operators.Sampling
      .temperatureHalfSample(df, col("doc_id"), col("lang"), targetRows = 300L)
      .groupBy(col("lang")).count()
      .as[(String, Long)].collect().toMap
    val bigFrac = kept.getOrElse("big", 0L) / 1000.0
    val smallFrac = kept.getOrElse("small", 0L) / 40.0
    assert(smallFrac > bigFrac,
      s"low-resource stratum not upweighted: small=$smallFrac big=$bigFrac")
  }

  // -- heavy hitters ---------------------------------------------------------

  test("heavy hitters: exact regime equals the group-by truth") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val toks = docs.select(
      explode(graft.functions.TextFunctions.tokens(
        graft.functions.TextFunctions.normalizeText(col("text")))).as("tok"))
    val exact = toks.groupBy(col("tok")).count()
      .orderBy(col("count").desc, col("tok")).limit(5)
      .as[(String, Long)].collect().toSeq
    val sketched = graft.operators.HeavyHitters.topK(toks, col("tok"), 5, 1024)
      .select(col("item"), col("estimate")).as[(String, Long)].collect().toSeq
    assert(sketched == exact)
  }

  test("heavy hitters: planted hitter survives eviction pressure with true bounds") {
    // 100k distinct singletons + one item planted 10k times, map of 64:
    // the sketch must report the planted item (no false negatives above
    // the error threshold) with bounds bracketing the true count
    val singles = spark.range(100000)
      .select(concat(lit("u"), col("id")).as("k"))
    val planted = spark.range(10000).select(lit("HH").as("k"))
    val stream = singles.unionByName(planted).repartition(13)
    val top = graft.operators.HeavyHitters.topK(stream, col("k"), 3, 64)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    val hh = top.find(_._1 == "HH")
    assert(hh.isDefined, s"planted heavy hitter lost: ${top.mkString(", ")}")
    assert(hh.get._2 <= 10000L && 10000L <= hh.get._3,
      s"bounds do not bracket the true count: $hh")
  }

  test("theta overlap: exact regime equals COUNT DISTINCT set algebra") {
    val left = spark.range(0, 150).select(concat(lit("k"), col("id")).as("k"))
    val right = spark.range(100, 400).select(concat(lit("k"), col("id")).as("k"))
    val row = graft.operators.ThetaOverlap
      .distinctOverlap(left, right, col("k")).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
      ((150L, 300L, 50L, 400L)))
  }

  test("theta overlap: estimation regime stays inside the RSE envelope") {
    // 200k vs 200k keys sharing 100k, nominalEntries 4096 → rse ≈ 1.6%,
    // intersection error ≈ rse·√(union/inter) ≈ 2.7%; assert a 10% band
    val left = spark.range(0, 200000).select(concat(lit("k"), col("id")).as("k"))
      .repartition(7)
    val right = spark.range(100000, 300000)
      .select(concat(lit("k"), col("id")).as("k")).repartition(5)
    val row = graft.operators.ThetaOverlap
      .distinctOverlap(left, right, col("k")).collect().head
    def within(got: Long, truth: Long, tol: Double): Boolean =
      math.abs(got - truth) <= truth * tol
    assert(within(row.getLong(0), 200000L, 0.05), s"n_left ${row.getLong(0)}")
    assert(within(row.getLong(1), 200000L, 0.05), s"n_right ${row.getLong(1)}")
    assert(within(row.getLong(2), 100000L, 0.10), s"n_shared ${row.getLong(2)}")
    assert(within(row.getLong(3), 300000L, 0.05), s"n_union ${row.getLong(3)}")
  }

  // -- JSONL training shards -------------------------------------------------

  test("JSONL shard export: bounded shards, lossless round-trip, mix partitioning") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    graft.sinks.Sinks.writeJsonlShards(docs, dir,
      maxRecordsPerShard = 100L, partitionCols = Seq("lang"))
    val back = spark.read.json(dir)
    assert(back.count() == docs.count())
    // per-shard bound holds
    val maxShard = back.groupBy(input_file_name()).count()
      .agg(max(col("count"))).collect().head.getLong(0)
    assert(maxShard <= 100L, s"shard exceeds bound: $maxShard")
    // partition layout: per-language directories exist
    val langs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("lang=")).toSet
    assert(langs.size >= 2, s"expected lang= partitions, got $langs")
    // content round-trips (ids and char counts survive)
    val sumBack = back.agg(sum(col("doc_id")), sum(col("n_chars")))
      .collect().head
    val sumOrig = docs.agg(sum(col("doc_id")), sum(col("n_chars")))
      .collect().head
    assert(sumBack == sumOrig)
  }

  // -- plan shapes (the 100 TB properties, asserted like PlanSpec) ----------

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))

  /** Shuffle exchanges only: the gate queries end in a presentation
    * `orderBy` whose rangepartitioning exchange is output contract, not
    * operator cost. Simple explain mode keeps `Exchange hashpartitioning`
    * on one line (formatted mode splits node from arguments). */
  private def hashExchanges(name: String): Int =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("simple"))
      .linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("Reused"))

  test("duplicatedSpans: planted repeated span counted, unique doc clean") {
    val boiler = "all rights reserved do not redistribute this text ever"
    val corpus = Seq(
      (1L, s"unique opening words here $boiler"),
      (2L, s"different preamble tokens again $boiler"),
      (3L, "entirely original content with no shared spans at all overall"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(corpus, col("text"), col("doc_id"),
        n = 9, minCount = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 3: 10 tokens -> 2 9-token spans, none shared
    assert(out(3L) == ((2L, 0L)), s"clean doc flagged: ${out(3L)}")
    // docs 1, 2: the 9-token boilerplate window occurs in both — at least
    // one dup span each, and never more dups than spans
    Seq(1L, 2L).foreach { id =>
      val (spans, dups) = out(id)
      assert(dups >= 1L && dups <= spans, s"doc $id: $dups/$spans")
    }
  }

  test("q_dedup_substring: counted spans shuffle, text does not") {
    val p = planOf("q_dedup_substring")
    val n = hashExchanges("q_dedup_substring")
    assert(n == 4, s"span census costs exactly 4 key exchanges, got $n:\n$p")
    // no exchange may carry the text column — only ids/spans/counts travel
    val simple = SparkEntry.queries("q_dedup_substring")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    simple.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text shuffles: $l")
    }
    assert(p.contains("partial_"), "missing map-side partial aggregation")
  }

  test("q_inverted_index: bounded posting via ObjectHashAggregate partial") {
    val p = planOf("q_inverted_index")
    // the TopK aggregator must run partial+final (map-side prune before
    // the exchange), never a window over all (token, doc) pairs
    assert(p.contains("ObjectHashAggregate"), s"no typed aggregate:\n$p")
    assert(!p.contains("Window"), s"posting cap fell back to a window:\n$p")
    val rows = SparkEntry.queries("q_inverted_index")(spark, sf)
      .select(col("token"), col("rank"), col("tf")).collect()
    assert(rows.nonEmpty)
    // ranks are 1..k and tf is non-increasing within a token
    rows.groupBy(_.getString(0)).foreach { case (tok, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length),
        s"$tok ranks: ${byRank.map(_.getInt(1)).toSeq}")
      val tfs = byRank.map(_.getLong(2))
      assert(tfs.zip(tfs.tail).forall { case (a, b) => a >= b },
        s"$tok posting not tf-ordered: ${tfs.toSeq}")
    }
  }

  test("q_mix_epochs replicates sources by their epoch factor") {
    val rows = SparkEntry.queries("q_mix_epochs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySource = rows.groupBy(_._1)
    // epoch counts within a source are identical (every doc replicates)
    bySource.foreach { case (src, rs) =>
      assert(rs.map(_._3).distinct.length == 1, s"$src uneven: ${rs.toSeq}")
    }
    assert(bySource("src0").length == 3 && bySource("src1").length == 2)
    assert(bySource.view.filterKeys(s => s != "src0" && s != "src1")
      .forall(_._2.length == 1))
  }

  test("q_quality_model: inline weights — no join, single corpus scan") {
    // the toy model's weight is a pure function of the token, computed
    // inline as a column expression: the apply plan has NO weight dim at
    // all (a real trained artifact would broadcast a bounded vocab dim —
    // see the operator's scaladoc), so no join of any kind
    val p = planOf("q_quality_model")
    assert(!p.contains("Join"), s"inline-weight apply must not join:\n$p")
    val simple = SparkEntry.queries("q_quality_model")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    // one leaf feeds the apply: the corpus file, or the checkpoint that
    // operators.Spread reads a one-split corpus into, once
    val scans = simple.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("Scan ExistingRDD"))
    assert(scans == 1,
      s"apply plan should scan the corpus exactly once, got $scans:\n$simple")
    val rows = SparkEntry.queries("q_quality_model")(spark, sf)
      .select(col("score_milli"), col("keep")).as[(Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (s, k) => assert(k == (s >= 0L)) }
  }

  test("q_chunk_windows plans narrow: no shuffle (only the output sort)") {
    assert(hashExchanges("q_chunk_windows") == 0,
      s"chunking should not shuffle:\n${planOf("q_chunk_windows")}")
  }

  test("q_decontaminate joins the eval-gram dimension broadcast") {
    val p = planOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$p")
  }

  test("q_tokenize_ids: broadcast vocab join, no window operator anywhere") {
    // the vocab top-k runs EAGERLY at build time (orderBy+limit+collect →
    // TakeOrderedAndProject by construction) and ids are assigned on the
    // collected 20-row dim — so the returned plan must show the broadcast
    // apply-join and, crucially, NO WindowExec: the old partition-less
    // row_number fired the "moving all data to a single partition"
    // warning on every run
    val p = planOf("q_tokenize_ids")
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(!p.contains("Window"), s"vocab ranking must not use a window:\n$p")
  }

  test("q_zorder_layout: one shuffle (the rollup), z math stays in the scan stage") {
    val p = planOf("q_zorder_layout")
    assert(hashExchanges("q_zorder_layout") == 1,
      s"z-order rollup should shuffle once:\n$p")
    assert(p.contains("partial_"), "missing map-side partial aggregation")
  }

  test("q_text_repetition: exactly two shuffles (term counts, per-doc profile)") {
    assert(hashExchanges("q_text_repetition") == 2,
      s"repetition metrics should cost two shuffles:\n${planOf("q_text_repetition")}")
  }

  test("q_sample_temperature: rate dimension broadcast, corpus scanned without text") {
    val p = planOf("q_sample_temperature")
    assert(p.contains("BroadcastHashJoin"), s"rate dim not broadcast:\n$p")
    val reads = p.linesIterator.filter(_.trim.startsWith("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(!_.contains("text")),
      "temperature sampling reads the text column it never uses")
  }

  // -- z-order ---------------------------------------------------------------

  /** Reference Morton decode: every other bit, compacted. */
  private def deinterleave(z: Long): (Long, Long) = {
    def compact(v0: Long): Long = {
      var v = v0 & 0x5555555555555555L
      v = (v | (v >> 1)) & 0x3333333333333333L
      v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
      v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
      v
    }
    (compact(z), compact(z >> 1))
  }

  test("zValue round-trips: deinterleaving recovers both coordinates") {
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValue(col("a"), col("b")).as("z"))
      .collect()
    got.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(deinterleave(z) == ((a, b)), s"z mismatch for ($a, $b)")
    }
  }

  test("zValue is monotone per coordinate (order-preserving interleave)") {
    val df = spark.range(0, 1000).toDF("a")
      .select(Layout.zValue(col("a"), lit(77L)).as("z"), col("a"))
      .orderBy(col("a"))
    val zs = df.select(col("z")).as[Long].collect()
    assert(zs.sameElements(zs.sorted), "z not monotone in a with b fixed")
  }

  test("writeZOrdered: a narrow range on EITHER column prunes most files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zw").toString
    val orders = graft.sources.Tables.load(spark, sf, "orders")
    val day = datediff(col("o_orderdate"), lit("1995-01-01"))
    Layout.writeZOrdered(
      orders.select(col("o_orderkey"), col("o_custkey"), day.as("day")),
      dir, col("o_custkey"), col("day"), numFiles = 16)
    // per-file min/max — exactly what parquet footers expose to a scan.
    // A single-column sort can only ever prune on its own leading column;
    // the z layout must let an eighth-of-domain range on EITHER column
    // skip at least half the files (simulation on this corpus: 4/16 read).
    val stats = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("o_custkey")).as("cmin"), max(col("o_custkey")).as("cmax"),
        min(col("day")).as("dmin"), max(col("day")).as("dmax"))
      .collect()
    assert(stats.length >= 8, s"expected many files, got ${stats.length}")
    val custReads = stats.count(r => r.getLong(1) <= 18L) // cust ∈ [0, 18]
    val dayReads = stats.count(r => r.getInt(3) <= 300)   // day ∈ [0, 300]
    assert(custReads <= stats.length / 2,
      s"cust-range query reads $custReads/${stats.length} files")
    assert(dayReads <= stats.length / 2,
      s"day-range query reads $dayReads/${stats.length} files")
  }

  test("writeZOrdered: empty input writes an empty readable dataset, no NPE") {
    // min/max bounds aggregate to NULL on an empty frame; the old code
    // NPE'd on bounds.getDouble(0) before any write happened
    val dir = java.nio.file.Files.createTempDirectory("graft-zw-empty").toString
    val empty = graft.sources.Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .filter(lit(false))
    Layout.writeZOrdered(empty, dir, col("o_custkey"), col("o_orderkey"),
      numFiles = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == 0L)
    assert(back.columns.toSeq == Seq("o_orderkey", "o_custkey"))
  }

  test("z-range blocks bound both dimensions (the data-skipping property)") {
    // every 4096-wide z block covers at most a 64×64 tile in (a, b) space
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(5000)((rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong))
    val spans = pts.toDF("a", "b")
      .select(col("a"), col("b"),
        shiftrightunsigned(Layout.zValue(col("a"), col("b")), 12).as("blk"))
      .groupBy(col("blk"))
      .agg((max(col("a")) - min(col("a"))).as("sa"),
        (max(col("b")) - min(col("b"))).as("sb"))
      .select(max(col("sa")), max(col("sb")))
      .collect().head
    assert(spans.getLong(0) < 64L && spans.getLong(1) < 64L,
      s"z block leaks beyond its tile: $spans")
  }
}
