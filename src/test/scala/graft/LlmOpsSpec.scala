package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.sources.Tables

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  /** Character k-shingles of the normalized text (inline: normalize runs
    * once per shingle, fine for a few short strings). */
  private def charShingles(c: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column =
    graft.functions.TextFunctions.charShinglesOfNormalized(
      graft.functions.TextFunctions.normalizeText(c), k)

  test("q_minhash_calibration: exact cells replay against a scalar " +
      "per-pair Jaccard recompute; errors bounded and mutants calibrated") {
    val rows = SparkEntry.queries("q_minhash_calibration")(spark, sf)
      .collect().map(r => r.getAs[Long]("n_agree") -> r).toMap
    assert(rows.nonEmpty)
    // scalar replay: candidate pairs from the ENGINE's own LSH stage
    // (recall/precision of that stage is pinned by its own tests below);
    // the calibration cells must equal a brute recompute of exact
    // Jaccard over those pairs
    val mutants = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zzmutant")).as("text")))
    val pairs = Dedup.minhashPairs(mutants, col("text"), col("doc_id"),
        shingleSize = 3, k = 16, bands = 4, threshold = 0.5)
      .select(col("id_a"), col("id_b"),
        (col("est_jaccard") * 16).cast("long"))
      .as[(Long, Long, Long)].collect()
    def gramsOf(t: String): Set[String] = {
      val a = t.replaceAll("^\\s+|\\s+$", "").toLowerCase.split("\\s+")
      (1 to math.max(a.length - 2, 1))
        .map(i => a.slice(i - 1, i + 2).mkString(" ")).toSet
    }
    val byId = mutants.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap.map { case (k, v) =>
        k -> gramsOf(v) }
    val cells = pairs.map { case (a, b, m) =>
      val ga = byId(a); val gb = byId(b)
      (m, 1000000L * (ga & gb).size / (ga | gb).size)
    }
    cells.groupBy(_._1).foreach { case (m, xs) =>
      val r = rows(m)
      val n = xs.length.toLong
      assert(r.getAs[Long]("n_pairs") == n, s"m=$m n")
      assert(r.getAs[Long]("est_ppm") == 62500L * m)
      assert(r.getAs[Long]("mean_exact_ppm") ==
        { val s = xs.map(x => BigInt(x._2)).sum; (s / n).toLong }, s"m=$m")
      val errs = xs.map(x => BigInt(62500L * m - x._2))
      assert(BigInt(r.getAs[Long]("mean_err_ppm")) == errs.sum / n, s"m=$m")
      assert(r.getAs[Long]("max_abs_err_ppm") ==
        errs.map(_.abs).max.toLong, s"m=$m")
    }
    assert(rows.keySet == cells.map(_._1).toSet)
    // calibration semantics: the full-agreement band is the planted
    // mutants — truly near-identical, so the sketch is honest there —
    // while LOWER bands may carry sketch-collision false positives whose
    // exact Jaccard is near zero (the gate corpus's ~50-word vocabulary
    // makes these common). That inflation is not a bug in the query: it
    // is exactly the readout this audit exists to expose, and the first
    // cut of this test asserting "every band's exact mean is high"
    // failed on it — correctly.
    assert(rows.contains(16L), "the mutant band must surface")
    assert(rows(16L).getAs[Long]("mean_exact_ppm") > 900000L)
    rows.values.foreach { r =>
      val est = r.getAs[Long]("est_ppm")
      assert(est >= 500000L && est <= 1000000L)
    }
    // and at least one band must show real sketch error (the audit has
    // something to say on this corpus)
    assert(rows.values.exists(_.getAs[Long]("max_abs_err_ppm") > 100000L))
  }

  test("minhash LSH finds every planted near-duplicate (recall on mutants)") {
    val mutants = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text")))
    val pairs = Dedup.minhashPairs(mutants, col("text"), col("doc_id"),
      shingleSize = 3, k = 16, bands = 4, threshold = 0.5)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val nDocs = docs.count()
    val expected = (0L until nDocs).map(i => (i, i + 1000000L)).toSet
    val found = expected.intersect(pairs)
    // banding is probabilistic per doc, but a one-word tail on 20+ word docs
    // keeps true jaccard ~0.9 → expect near-total recall
    assert(found.size >= (nDocs * 0.95).toInt,
      s"LSH recall too low: ${found.size}/$nDocs")
  }

  test("LSH dedup survives a planted degenerate bucket (skew cap + drop count)") {
    // 5k identical boilerplate docs: one signature, so ONE bucket per band
    // holds all 5k members — uncapped this is 12.5M pairs from 4 tasks
    val boiler = spark.range(5000).select(col("id").as("doc_id"),
      lit("the same boilerplate sentence repeated on every page of the site")
        .as("text"))
    // normal corpus, offset ids, plus one planted true near-dup pair that
    // must survive the cap
    val normal = docs.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") === 0)
      .select(lit(200001L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") === 0)
        .select(lit(200002L).as("doc_id"), col("text")))
    val corpus = boiler.unionByName(normal).unionByName(planted)
    val obs = org.apache.spark.sql.Observation("lsh_drops")
    val pairs = Dedup.minhashPairs(corpus, col("text"), col("doc_id"),
      shingleSize = 3, k = 16, bands = 4, threshold = 0.5,
      maxBucket = 64, drops = Some(obs))
    val got = pairs.select(col("id_a"), col("id_b")).as[(Long, Long)]
      .collect()
    // nothing from the degenerate cluster leaks into the pair output,
    // and per-task output stayed bounded (no 12.5M-pair explosion)
    assert(got.forall { case (a, b) => a >= 100000L && b >= 100000L },
      s"boilerplate pair leaked: ${got.find(_._1 < 100000L)}")
    assert(got.length < 1000, s"unexpected pair volume: ${got.length}")
    // the planted in-cap near-dup is still found
    assert(got.contains((200001L, 200002L)), "planted pair lost to the cap")
    // the drop is observable in-flight: the cluster's 4 band buckets
    val dropped = obs.get("dropped_buckets").asInstanceOf[Long]
    assert(dropped == 4L, s"dropped_buckets=$dropped")
  }

  test("exact dedup groups identical content only") {
    val tripled = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      .unionByName(docs.select((col("doc_id") + 20000L).as("doc_id"), col("text")))
    val groups = Dedup.exact(tripled, col("text"), col("doc_id"))
    val counts = groups.select(col("n_copies")).as[Long].collect()
    assert(counts.forall(_ == 3L))
    assert(groups.count() == docs.count())
    // canonical id is the minimum of each group
    val canon = groups.select(col("canonical_id")).as[Long].collect()
    assert(canon.forall(_ < 10000L))
  }

  test("simhash is identical for identical docs and differs across corpus") {
    val g = Dedup.simhashGroups(
      docs.select(col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") + 10000L).as("doc_id"), col("text"))),
      col("text"), col("doc_id"))
    // every group has exactly the pair (i, i+10000)
    assert(g.filter(col("n") % 2 =!= 0).count() == 0)
  }

  test("simhash Hamming-band near-dup equals the all-pairs popcount join") {
    // pigeonhole banding must be EXACT: every pair within Hamming ≤ k
    // shares at least one of the k+1 bit-bands
    val mutants = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text")))
    for (k <- Seq(0, 3, 7)) {
      val banded = Dedup.simhashNearDupPairs(mutants, col("text"),
          col("doc_id"), maxHamming = k)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .as[(Long, Long, Int)].collect().toSet
      val sk = Dedup.simhashSketches(mutants, col("text"), col("doc_id"))
      val a = sk.select(col("id").as("ia"), col("simhash").as("sa"))
      val b = sk.select(col("id").as("ib"), col("simhash").as("sb"))
      val brute = a.join(b, col("ia") < col("ib"))
        .withColumn("h", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
        .filter(col("h") <= k)
        .select(col("ia"), col("ib"), col("h"))
        .as[(Long, Long, Int)].collect().toSet
      assert(banded == brute,
        s"k=$k: banded ${banded.size} vs brute ${brute.size}; " +
          s"missing=${brute.diff(banded).take(3)} extra=${banded.diff(brute).take(3)}")
    }
    // and the generator actually finds the planted near-dups at a loose k
    val loose = Dedup.simhashNearDupPairs(mutants, col("text"),
        col("doc_id"), maxHamming = 7)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val planted = loose.count { case (x, y) => y == x + 1000000L }
    assert(planted >= (docs.count() * 0.6).toInt,
      s"only $planted mutant pairs within Hamming 7")
  }

  test("grouped banding (groupCol): a constant group reproduces the " +
    "ungrouped pairs exactly; distinct groups partition the pair set") {
    val sk = Dedup.simhashSketches(
      docs.select(col("doc_id"), col("text")), col("text"), col("doc_id"))
    def pairs(grp: Option[org.apache.spark.sql.Column]) =
      Dedup.hammingBandPairs(sk, col("id"), col("simhash"),
          maxHamming = 7, groupCol = grp)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .as[(Long, Long, Int)].collect().toSet
    val ungrouped = pairs(None)
    // constant group: the struct key adds a constant field — same pairs
    assert(pairs(Some(lit(1L))) == ungrouped,
      "constant group must be a no-op on the pair set")
    // group = id parity: only same-parity pairs may survive, and they
    // must be exactly the same-parity subset of the ungrouped pairs
    val byParity = pairs(Some(pmod(col("id"), lit(2))))
    val expected = ungrouped.filter { case (a, b, _) => a % 2 == b % 2 }
    assert(byParity == expected,
      s"parity-grouped pairs diverge: ${byParity.size} vs ${expected.size}")
  }

  test("IVF top-k recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 3)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    val assigned = Similarity.ivfAssign(emb, nlist = 16)
    val ivf = Similarity.ivfTopK(queries, assigned, nprobe = 8, k = 3)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall below floor")
    // and IVF returns k rows per query
    assert(ivf.size == brute.size)
  }

  test("trained k-means quantizer beats-or-matches the strided quantizer's recall") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 3)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    def recallOf(model: Seq[(Long, Array[Float])]): Double = {
      val assigned = Similarity.ivfAssignWith(emb, model)
      val ivf = Similarity.ivfTopKWith(queries, assigned, model, nprobe = 8, k = 3)
        .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
      brute.intersect(ivf).size.toDouble / brute.size
    }
    val strided = recallOf(Similarity.ivfTrain(emb, nlist = 16))
    val trained = recallOf(Similarity.ivfTrainKMeans(emb, nlist = 16))
    assert(trained >= strided,
      s"k-means recall $trained below strided quantizer $strided")
    assert(trained >= 0.5, s"k-means recall $trained below floor")
    // determinism: same corpus, same model, bit for bit
    val again = Similarity.ivfTrainKMeans(emb, nlist = 16)
    val first = Similarity.ivfTrainKMeans(emb, nlist = 16)
    assert(first.zip(again).forall { case ((i1, v1), (i2, v2)) =>
      i1 == i2 && v1.sameElements(v2) })
  }

  test("IVF probe over centroid-partitioned storage prunes partitions") {
    // the 100 TB claim behind ivfTopK's scaladoc, demonstrated END TO END
    // on the composed operator: write the assigned corpus in the
    // ivfWritePartitioned layout, run ivfTopKPruned over the read, and
    // assert (1) the probe-cell filter reaches the scan as a
    // PartitionFilter, (2) the scan touches ONLY the probed directories,
    // (3) results are identical to the unpartitioned ivfTopKWith path.
    val model = Similarity.ivfTrainKMeans(emb, nlist = 8)
    val assigned = Similarity.ivfAssignWith(emb, model)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_part").toString
    Similarity.ivfWritePartitioned(assigned, dir)
    val back = spark.read.parquet(dir)
    val queries = emb.filter(col("vec_id") < 10)
    val pruned = Similarity.ivfTopKPruned(queries, back, model,
      nprobe = 2, k = 3)

    // (1) the bucket restriction is a partition filter, not a post-scan one
    val p = pruned.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("centroid_id") &&
          l.contains("IN")),
      s"probe filter did not reach the partition level:\n$p")

    // (2) only the probed cells' directories are listed/read
    val cells = Similarity.ivfProbeCells(queries, model, nprobe = 2)
    assert(cells.length < 8, "probe set must not cover every cell")
    val scannedDirs = back
      .filter(col("centroid_id").isin(cells.map(java.lang.Long.valueOf).toSeq: _*))
      .select(input_file_name()).distinct().as[String].collect()
      .map(_.replaceAll("/[^/]*$", "")).distinct.sorted
    assert(scannedDirs.length <= cells.length,
      s"scan touched ${scannedDirs.mkString(",")} for cells ${cells.mkString(",")}")
    assert(scannedDirs.forall(d => cells.exists(c => d.endsWith(s"centroid_id=$c"))),
      s"scanned a non-probed directory: ${scannedDirs.mkString(",")}")

    // (3) pruned ≡ unpartitioned, bit for bit
    val mem = Similarity.ivfTopKWith(queries, assigned, model, nprobe = 2, k = 3)
      .collect().map(_.toString).sorted
    val got = pruned.collect().map(_.toString).sorted
    assert(got.nonEmpty && got.sameElements(mem))
  }

  test("quantized two-stage ANN: exact at full shortlist, high recall at 32") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 3)
      .select(col("query_id"), col("neighbor_id"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
    // shortlist covering the corpus ⇒ rescoring everything ⇒ ≡ brute force
    val full = Similarity.quantizedTopK(queries, emb, k = 3,
        shortlist = emb.count().toInt)
      .select(col("query_id"), col("neighbor_id"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
    assert(full == brute,
      s"full-shortlist rescore must equal brute force; diff=${full.diff(brute).take(3)}")
    // a 32-deep shortlist keeps most of the true top-3
    val short = Similarity.quantizedTopK(queries, emb, k = 3, shortlist = 32)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val bruteIds = brute.map(t => (t._1, t._2))
    val recall = bruteIds.intersect(short).size.toDouble / bruteIds.size
    assert(recall >= 0.8, s"quantized shortlist recall $recall below 0.8")
  }

  test("IVF assignment covers the corpus exactly once") {
    val assigned = Similarity.ivfAssign(emb, nlist = 16)
    assert(assigned.count() == emb.count())
    assert(assigned.select(col("centroid_id")).distinct().count() <= 16)
  }

  test("IVF-blocked embedding near-dup pairs are a high-score subset of brute force") {
    val blocked = Similarity.embeddingNearDupPairs(emb, nlist = 8, threshold = 0.2)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(blocked.nonEmpty, "blocking found no pairs at threshold 0.2")
    // exact all-pairs reference on the same threshold
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val brute = a.join(b, col("ia") < col("ib"))
      .filter(round(Similarity.cosine(col("va"), col("vb")), 6) >= 0.2)
      .select(col("ia"), col("ib")).as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(brute),
      s"blocked pairs not in brute set: ${blocked.diff(brute).take(3)}")
  }

  test("embedding near-dup bucket cap excludes oversized buckets whole") {
    // maxBucket=1: every bucket with 2+ members is dropped, so the blocked
    // self-join must emit nothing — the cap path, end to end
    val capped = Similarity.embeddingNearDupPairs(emb, nlist = 8,
      threshold = 0.2, maxBucket = 1)
    assert(capped.count() == 0)
    // and a cap above the biggest bucket changes nothing
    val n = emb.count().toInt
    val uncapped = Similarity.embeddingNearDupPairs(emb, nlist = 8,
      threshold = 0.2, maxBucket = n)
    val default = Similarity.embeddingNearDupPairs(emb, nlist = 8,
      threshold = 0.2)
    assert(uncapped.count() == default.count())
  }

  test("trained quantizer bounds the near-dup self-join tighter than strided " +
      "(planted skew)") {
    // adversarial id order: every strided pick (ids 0, 12, 24, … for n=96,
    // nlist=8) is the SAME direction e0 (differing only in magnitude, which
    // cosine ignores) — the data-blind quantizer's 8 centroids are parallel,
    // so every row round-ties and argmax sends the whole corpus to bucket 0.
    // The other 88 rows sit in 7 clean one-hot clusters that sampled k-means
    // recovers, so the trained census stays near-balanced.
    val dim = 8
    val rows = (0 until 96).map { id =>
      val v = new Array[Float](dim)
      if (id % 12 == 0) v(0) = 1.0f + id * 0.001f
      else {
        v(1 + id % 7) = 1.0f
        v(0) = 0.001f * (id % 11) // tiny spread keeps the sample distinct
      }
      (id.toLong, v.toSeq)
    }
    val adversarial = rows.toDF("vec_id", "embedding")
    def maxCensus(
        q: (org.apache.spark.sql.DataFrame, Int, String, String)
          => Seq[(Long, Array[Float])]): Long =
      Similarity.ivfAssignWith(adversarial,
          q(adversarial, 8, "vec_id", "embedding"))
        .groupBy(col("centroid_id")).count()
        .agg(max(col("count"))).as[Long].head()
    val strided = maxCensus(Similarity.ivfTrain(_, _, _, _))
    val trained = maxCensus(Similarity.ivfTrainKMeans(_, _, _, _))
    assert(strided >= 88, s"planted skew failed to skew the strided model: $strided")
    // k-means init may merge adjacent clusters (empty-cluster rule), so the
    // bound is relative: the trained hot bucket must stay well under half
    // the strided one (measured: 32 vs 96 → a 9× cheaper |bucket|² join)
    assert(trained < strided / 2,
      s"trained census should be far tighter than strided: $trained vs $strided")
    // and the default embeddingNearDupPairs path (trained) still finds the
    // within-cluster pairs the strided hot bucket would have capped away
    val pairs = Similarity.embeddingNearDupPairs(adversarial, nlist = 8,
      threshold = 0.9, maxBucket = 30)
    assert(pairs.count() > 0)
  }

  test("subword tokens and char shingles produce sane segmentations") {
    val df = Seq("abc123def", "hello world42", "x").toDF("t")
    val rows = df.select(
      graft.functions.TextFunctions.subwordTokens(col("t")).as("sw"),
      charShingles(col("t"), 3).as("sh"))
      .collect()
    // "abc123def" → abc|123|def (digit/letter boundaries)
    assert(rows(0).getSeq[String](0) == Seq("abc", "123", "def"))
    // shingle count = len - k + 1 on normalized text
    assert(rows(0).getSeq[String](1).length == "abc123def".length - 2)
    assert(rows(1).getSeq[String](0) == Seq("hello", "world", "42"))
    // shorter than k → single truncated shingle
    assert(rows(2).getSeq[String](1) == Seq("x"))
  }

  test("multimodal batch decode (mapPartitions) agrees with the column path") {
    val media = Multimodal.mediaFromDocuments(docs)
    val colPath = Multimodal.mediaMetaColumns(media)
      .select(col("media_id"), col("n_bytes"), col("width"), col("height"))
      .as[(Long, Long, Int, Int)].collect().sortBy(_._1)
    val batchPath = Multimodal.decodeMeta(spark, media)
      .select(col("media_id"), col("n_bytes"), col("width"), col("height"))
      .as[(Long, Long, Int, Int)].collect().sortBy(_._1)
    assert(colPath.sameElements(batchPath))
  }

  test("image payloads decode for real through javax.imageio (batch path)") {
    // a genuine 37x23 PNG rendered in-memory: dims must come from the
    // actual decode, not the byte-arithmetic stub
    val img = new java.awt.image.BufferedImage(37, 23,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val media = Seq((1L, "image", png, "synthetic"),
        (2L, "image", "not an image".getBytes("UTF-8"), "synthetic"),
        (3L, "audio", png, "synthetic"))
      .toDF("media_id", "kind", "data", "source")
    val metas = Multimodal.decodeMeta(spark, media)
      .select(col("media_id"), col("width"), col("height"))
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    assert(metas(0) == ((1L, 37, 23)), s"real decode missed: ${metas(0)}")
    // undecodable image bytes fall back to the deterministic stub
    val stub = Multimodal.FakeCodec.decodeDims("not an image".getBytes("UTF-8"))
    assert(metas(1) == ((2L, stub._1, stub._2)))
    // non-image kinds never enter the image decoder (png bytes, audio kind)
    val stubPng = Multimodal.FakeCodec.decodeDims(png)
    assert(metas(2) == ((3L, stubPng._1, stubPng._2)))
  }

  test("audio payloads decode for real through javax.sound (batch path)") {
    // a genuine 8 kHz mono PCM-16 WAV with exactly 1234 frames, rendered
    // in-memory by the JDK's own writer: every value must come from the
    // actual header parse, not the byte-arithmetic stub
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](1234 * 2)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 1234L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val textBytes = "not audio".getBytes("UTF-8")
    val media = Seq((1L, "audio", wav, "synthetic"),
        (2L, "audio", textBytes, "synthetic"),
        (3L, "image", wav, "synthetic")) // non-audio kinds are filtered out
      .toDF("media_id", "kind", "data", "source")
    val metas = Multimodal.audioMeta(spark, media)
      .select(col("media_id"), col("sample_rate"), col("channels"),
        col("n_frames"), col("duration_ms"))
      .as[(Long, Int, Int, Long, Long)].collect().sortBy(_._1)
    assert(metas.length == 2, s"audio filter leaked: ${metas.toSeq}")
    assert(metas(0) == ((1L, 8000, 1, 1234L, 154L)),
      s"real decode missed: ${metas(0)}")
    // undecodable bytes fall back to the deterministic stub
    val (sr, ch, fr) = Multimodal.FakeCodec.audioInfo(textBytes)
    assert(metas(1) == ((2L, sr, ch, fr, fr * 1000L / sr)))
  }

  test("wavFromText writes a standards-correct header javax.sound reparses") {
    // round-trip: column-expression WAV writer -> JDK decoder; odd-length
    // payload must truncate to frame alignment
    val payload = "0123456789x" // 11 bytes -> 10-byte body, 5 frames
    val df = Seq((7L, payload.getBytes("UTF-8")))
      .toDF("media_id", "data")
      .select(col("media_id"), Multimodal.wavFromText(col("data")).as("wav"))
    val bytes = df.select(col("wav")).as[Array[Byte]].head()
    assert(bytes.length == 44 + 10, s"container length ${bytes.length}")
    val info = Multimodal.AudioCodec.decodeInfo(bytes)
    assert(info.contains((16000, 1, 5L)), s"reparse got $info")
  }

  test("aviFromText writes a real RIFF/AVI structure VideoCodec reparses") {
    // round-trip: column-expression AVI writer -> byte-level container
    // parse; embedded frames/dims must come back from the avih header
    val df = Seq((9L, "0123456789x".getBytes("UTF-8"))) // 11 -> 10-byte body
      .toDF("media_id", "data")
      .select(Multimodal.aviFromText(col("data"),
        lit(123), lit(320), lit(240)).as("avi"))
    val bytes = df.as[Array[Byte]].head()
    assert(bytes.length == 108 + 10, s"container length ${bytes.length}")
    val info = Multimodal.VideoCodec.decodeInfo(bytes)
    assert(info.contains((320, 240, 123L, 4920L)), s"reparse got $info")
    // non-AVI bytes are rejected, not misparsed
    assert(Multimodal.VideoCodec.decodeInfo("RIFFxxxx".getBytes).isEmpty)
    assert(Multimodal.VideoCodec.decodeInfo(Array.emptyByteArray).isEmpty)
  }

  test("decodeMeta picks up real AVI headers for video rows") {
    val avi = Seq((1L, "payload!".getBytes("UTF-8")))
      .toDF("media_id", "data")
      .select(Multimodal.aviFromText(col("data"),
        lit(77), lit(512), lit(384)).as("avi"))
      .as[Array[Byte]].head()
    val media = Seq(
        (1L, "video", avi, "synthetic"),
        (2L, "video", "not a video".getBytes("UTF-8"), "synthetic"))
      .toDF("media_id", "kind", "data", "source")
    val metas = Multimodal.decodeMeta(spark, media)
      .select(col("media_id"), col("width"), col("height"), col("n_frames"))
      .as[(Long, Int, Int, Long)].collect().sortBy(_._1)
    assert(metas(0) == ((1L, 512, 384, 77L)),
      s"real parse missed: ${metas(0)}")
    // non-AVI video bytes keep the deterministic stub values
    val bytes2 = "not a video".getBytes("UTF-8")
    val (sw, sh) = Multimodal.FakeCodec.decodeDims(bytes2)
    val sf = Multimodal.FakeCodec.frameCount("video", bytes2).toLong
    assert(metas(1) == ((2L, sw, sh, sf)))
  }

  test("prefix-filtered Jaccard join ≡ brute-force all-pairs (exact recall)") {
    // Adversarial shapes: exact dup, one-word-tail near-dup, half-overlap
    // pair straddling τ, tiny 1-gram docs, and a disjoint singleton — the
    // prefix filter must reproduce the brute-force pair set exactly.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (4L, "gamma delta epsilon zeta one two three four"),
      (5L, "tiny doc here"),
      (6L, "tiny doc here"),
      (7L, "completely different words nothing shared at all ok")
    ).toDF("doc_id", "text")
    val fast = Dedup.jaccardSelfJoin(corpus, col("text"), col("doc_id"),
        n = 3, tauMilli = 500)
      .select(col("id_a"), col("id_b"), col("jac_milli"))
      .as[(Long, Long, Long)].collect().toSet
    val sets = corpus.select(col("doc_id"),
      array_distinct(graft.functions.TextFunctions
        .wordNgramsNative(col("text"), 3)).as("s"))
    val brute = sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        size(array_intersect(col("a.s"), col("b.s"))).cast("long").as("i"),
        (size(col("a.s")) + size(col("b.s"))).cast("long").as("ll"))
      .filter(lit(1000) * col("i") >= lit(500) * (col("ll") - col("i")))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("(1000 * i) div (ll - i)").as("j"))
      .as[(Long, Long, Long)].collect().toSet
    assert(brute.nonEmpty, "degenerate fixture: brute force found no pairs")
    assert(fast == brute, s"prefix filter diverged: fast=$fast brute=$brute")
  }

  test("frame sampling emits stride-spaced offsets within bounds") {
    val frames = Multimodal.sampleFrames(
      Multimodal.mediaFromDocuments(docs), stride = 2)
    val rows = frames.select(col("media_id"), col("n_frames"), col("frame_idx"))
      .as[(Long, Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, idx) =>
      assert(idx >= 0 && idx < n && idx % 2 == 0)
    }
  }
}
