package bench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.operators.{Contamination, Dedup, Packing, Sampling}
import graft.sinks.Sinks

/** The training-data curation chain of `graft.PipelineDemo`, repeated as
  * passes over a generated corpus: stratified hash sample →
  * decontamination against a held-out eval set → MinHash/LSH near-dup drop →
  * quality band → token-budget packing → JSONL shards per language. */
final class Curate(conf: Main.Conf) extends Workload {
  final class State(val docs: DataFrame, val evalDocs: DataFrame)

  val MaxRecordsPerShard = 500L
  private val exp = Main.expected(conf)
  private val outDir = conf.work.resolve("curate-out")
  private val docCount = exp.get("docs").asLong

  /** Planted ground truth: (doc_id, cluster, kind) per planted document,
    * kind exact/near (duplicate clusters, base doc included) or
    * contaminated. Read on first use, once a session exists. */
  private lazy val planted: Seq[(Long, Long, String)] = {
    val spark = SparkSession.active
    spark.read.parquet(conf.data.resolve("planted.parquet").toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
  }

  override def settles: Boolean = true

  def setup(spark: SparkSession): State = {
    val docs = spark.read.parquet(conf.data.resolve("documents.parquet").toString)
    val evalDocs = spark.read.parquet(conf.data.resolve("eval.parquet").toString)
    // warm-up: touch both relations once
    docs.count(); evalDocs.count()
    new State(docs, evalDocs)
  }

  private def sample(s: State) = Sampling.stratifiedHashSample(s.docs, col("doc_id"),
    col("lang"), Map("en" -> 0.5, "zh" -> 0.9), defaultRate = 0.6)
  private def scrub(s: State, sampled: DataFrame) =
    Contamination.scrub(sampled, s.evalDocs, col("text"), col("doc_id"), n = 5)
  private def pairs(clean: DataFrame, drops: Observation) =
    Dedup.minhashPairs(clean, col("text"), col("doc_id"), shingleSize = 3, k = 16,
      bands = 4, threshold = 0.5, drops = Some(drops))
  private def pack(clean: DataFrame, pairs: DataFrame) = {
    val dups = pairs.select(col("id_b").as("doc_id")).distinct()
    Packing.byBudget(clean.join(dups, Seq("doc_id"), "left_anti")
        .filter(col("n_chars").between(50, 5000)),
      Seq(col("lang")), col("doc_id"), col("n_chars"), budget = 20000L)
  }
  private def write(packed: DataFrame): Unit =
    Sinks.writeJsonlShards(packed.select(col("doc_id"), col("lang"), col("pack_id"),
      col("text")), outDir.toString, MaxRecordsPerShard, partitionCols = Seq("lang"))

  private val DocId = "\"doc_id\":(\\d+)".r

  /** No planted contaminated doc survives, at most one member of each
    * planted exact-duplicate cluster survives, no shard exceeds the cap. */
  private def check(): Seq[String] = {
    val shards = Files.walk(outDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
    val survivors = scala.collection.mutable.HashSet.empty[Long]
    val oversized = shards.flatMap { f =>
      val lines = Files.readAllLines(f).asScala
      lines.foreach(l => DocId.findFirstMatchIn(l).foreach(m => survivors += m.group(1).toLong))
      if (lines.size > MaxRecordsPerShard) Some(s"$f has ${lines.size} records") else None
    }
    val leaked = planted.filter(p => p._3 == "contaminated" && survivors(p._1))
      .map(p => s"contaminated doc ${p._1} survived")
    val dupes = planted.filter(p => p._3 == "exact" && survivors(p._1)).groupBy(_._2)
      .collect { case (c, m) if m.size > 1 => s"exact cluster $c kept ${m.size} docs" }
    oversized ++ leaked ++ dupes
  }

  def window(s: State, seconds: Double, tracer: Option[Tracer]): Window = {
    val ms = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    val stageCounts = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    Main.passes(seconds) { _ =>
      val drops = Observation("drops")
      val (_, passMs) = tracer match {
        case None => Main.time {
          val clean = scrub(s, sample(s))
          write(pack(clean, pairs(clean, drops)))
        }
        case Some(t) => Main.time(t.span("op")(stageCounts += staged(s, t, drops)))
      }
      ms += passMs
      val failures = check()
      failures.take(5).foreach(f => System.err.println(s"[bench] check failed: $f"))
      if (failures.nonEmpty) failed += 1
    }
    Window(ms.toSeq, ms.sum / 1000, docCount * (ms.size - failed), ms.size, failed, ms.size,
      Map("docs" -> docCount, "corpus_chars" -> exp.get("chars").asLong,
        "planted_exact_clusters" -> exp.get("exact_clusters").asLong,
        "planted_near_clusters" -> exp.get("near_clusters").asLong,
        "planted_contaminated" -> exp.get("contaminated").asLong,
        "pass_p50_ms" -> Main.median(ms.toSeq), "stages" -> stageCounts.toSeq))
  }

  /** The same chain with each stage materialized (persisted and counted)
    * on its own, so each operator's time is separable. */
  private def staged(s: State, t: Tracer, drops: Observation): Map[String, Double] = {
    def materialize(name: String, df: DataFrame): (DataFrame, Long) = t.span(name) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      t.span("spark.plan")(p.queryExecution.executedPlan)
      (p, p.count())
    }
    val (sampled, nSampled) = materialize("operators.sample", sample(s))
    val (clean, nClean) = materialize("operators.scrub", scrub(s, sampled))
    val (dupPairs, nPairs) = materialize("operators.minhash_pairs", pairs(clean, drops))
    val (packed, _) = materialize("operators.pack", pack(clean, dupPairs))
    t.span("sinks.jsonl_write")(write(packed))
    val bucketDrops = Option(drops.get("dropped_buckets")).map(_.toString.toDouble).getOrElse(0.0)
    // recall over planted duplicate pairs whose two docs both reached dedup
    val kept = clean.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val found = dupPairs.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedPairs = planted.filter(p => p._3 != "contaminated" && p._1 != p._2 && kept(p._1) &&
      kept(p._2)).map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
    Seq(packed, dupPairs, clean, sampled).foreach(_.unpersist())
    Map("operators.dup_pairs" -> nPairs.toDouble, "operators.lsh_bucket_drops" -> bucketDrops,
      "operators.scrub_dropped" -> (nSampled - nClean).toDouble,
      "operators.planted_dup_recall" ->
        plantedPairs.count(found).toDouble / math.max(plantedPairs.size, 1))
  }

  def layers(s: State, w: Window, tracer: Tracer, seconds: Double): Map[String, Double] = {
    val stages = w.detail("stages").asInstanceOf[Seq[Map[String, Double]]]
    def sec(name: String) = Main.median(tracer.named(name).map(_.ms)) / 1000
    stages.head.keys.map(k => k -> Main.median(stages.map(_(k)))).toMap ++ Map(
      "operators.sample_s" -> sec("operators.sample"),
      "operators.scrub_s" -> sec("operators.scrub"),
      "operators.minhash_pairs_s" -> sec("operators.minhash_pairs"),
      "operators.pack_s" -> sec("operators.pack"),
      "sinks.jsonl_write_s" -> sec("sinks.jsonl_write"))
  }
}
