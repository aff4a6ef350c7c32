package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.TextFunctions
import graft.plans.Hash32Expr

/** Property-based invariants (SURVEY §5 test plan) using scalacheck
  * generators with a fixed seed (deterministic CI): driver-side properties
  * loop pure samples; distributed properties batch all cases through one
  * DataFrame pass.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Composed MinHash signature of a shingle column (built-ins plus
    * hash32), whose estimate invariants the minhash property checks. */
  private def minhashSignature(shingles: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column =
    TextFunctions.minhashFromHashes(TextFunctions.hashedShingles(shingles), k)

  private val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val text = Gen.nonEmptyListOf(word).map(_.mkString(" "))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("kml color byte-pair reversal is an involution on any 8-hex color") {
    val hex = Gen.listOfN(8, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString)
    samples(hex, 100).foreach { c =>
      assert(graft.ates.Styles.kmlColor(graft.ates.Styles.kmlColor(c)) == c)
    }
  }

  test("Hash32Expr.hash is within [0, 2^32) and equals the md5 prefix") {
    samples(text, 100).foreach { s =>
      val h = Hash32Expr.hash(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      assert(h >= 0L && h < (1L << 32))
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      assert(h == java.lang.Long.parseLong(md5hex, 16))
    }
  }

  test("subword matcher pattern ≡ the lookaround split form (batched)") {
    // subwordTokens moved from a Java-only lookaround split to a
    // lookaround-free matcher (same pattern must run under DuckDB's RE2
    // for the q_subword oracle); pin the equivalence on adversarial text:
    // letter/digit boundaries, punctuation runs, mixed whitespace, unicode
    val messyChar = Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.oneOf("!?.,;:#&-_'\"()[]/+=*".toSeq),
      2 -> Gen.oneOf(" \t\n".toSeq), 1 -> Gen.oneOf("éß€汉".toSeq))
    val messy = Gen.listOf(messyChar).map(_.mkString)
    val cases = samples(messy, 300)
    val df = cases.toDF("t")
    val legacySplit = filter(
      split(col("t"),
        "(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])|\\s+|(?=[^a-zA-Z0-9 ])"),
      t => length(t) > 0)
    val rows = df.select(col("t"),
      TextFunctions.subwordTokens(col("t")).as("m"), legacySplit.as("s"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"matcher != split for ${r.getString(0)}")
    }
  }

  test("tokenBigrams ≡ wordNgrams(2) split back into pairs (batched)") {
    // the struct-pair bigram feed (7× faster) must produce exactly the
    // pair sequence of the string route: every 2-gram string rejoined
    // from its struct, and the single-token fallback gram (no space)
    // absent from the struct side. Messy text: punctuation runs, mixed
    // whitespace, unicode, digits.
    val messyChar = Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.oneOf("!?.,;:#&-_'\"()[]/+=*".toSeq),
      2 -> Gen.oneOf(" \t\n".toSeq), 1 -> Gen.oneOf("éß€汉".toSeq))
    val messy = Gen.listOf(messyChar).map(_.mkString)
    val df = samples(messy, 300).toDF("t")
    val viaStructs = transform(TextFunctions.tokenBigrams(col("t")),
      p => concat_ws(" ", p.getField("t1"), p.getField("t2")))
    val viaStrings = filter(TextFunctions.wordNgrams(col("t"), 2),
      s => s.contains(" "))
    val diff = df.select(col("t"), viaStructs.as("a"), viaStrings.as("b"))
      .filter(not(col("a") === col("b")))
    assert(diff.count() == 0,
      s"bigram routes diverge, e.g. ${diff.take(1).mkString}")
  }

  test("fingerprints are whitespace/case-normalization-invariant (batched)") {
    val cases = samples(text, 40)
    val df = cases.toDF("t")
      .select(
        TextFunctions.fingerprint(col("t")).as("f1"),
        TextFunctions.fingerprint(upper(concat(lit("  "), col("t"), lit("\t "))))
          .as("f2"),
        TextFunctions.fingerprint(concat(col("t"), lit(" x"))).as("f3"))
    assert(df.filter(col("f1") =!= col("f2")).count() == 0,
      "normalization must collapse case and outer whitespace")
    assert(df.filter(col("f1") === col("f3")).count() == 0,
      "distinct content must not collide (md5)")
  }

  test("minhash estimated jaccard is 1.0 on identical docs, in [0,1] always (batched)") {
    val docs = samples(text, 30).distinct
    val df = docs.toDF("t").select(
      minhashSignature(TextFunctions.wordNgrams(col("t"), 2), 16)
        .as("sig"))
    val est = df.select(
      (size(filter(zip_with(col("sig"), col("sig"),
        (a, b) => when(a === b, 1).otherwise(null)), v => v.isNotNull))
        .cast("double") / 16).as("self_j"))
    assert(est.filter(col("self_j") =!= 1.0).count() == 0)
    // signature entries in [0, p)
    val bad = df.select(explode(col("sig")).as("h"))
      .filter(col("h") < 0 || col("h") >= TextFunctions.MinhashPrime)
    assert(bad.count() == 0)
  }

  test("native kernels ≡ composed forms on random unicode text (batched)") {
    // beyond the fixed edge list in TextKernelsSpec: arbitrary unicode,
    // arbitrary whitespace runs, empty-ish strings
    val uniChar = Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(" \t\n\r".toSeq),
      1 -> Gen.oneOf("äöüßéèñ漢字汉مرحبаб✓€".toSeq),
      1 -> Gen.oneOf(".,;:!?-_'\"()".toSeq))
    val uniText = Gen.listOf(uniChar).map(_.mkString)
    val cases = samples(uniText, 120) :+ "" :+ " " :+ "\t\n"
    val df = cases.toDF("t").select(
      TextFunctions.wordNgrams(col("t"), 3).as("g_c"),
      TextFunctions.wordNgramsNative(col("t"), 3).as("g_n"),
      TextFunctions.minhashFromHashes(
        TextFunctions.hashedShingles(TextFunctions.wordNgrams(col("t"), 2)), 8)
        .as("m_c"),
      TextFunctions.minhashSigNative(col("t"), 2, 8).as("m_n"),
      TextFunctions.simhash64FromHashes(TextFunctions.hashedTokens(col("t")),
        TextFunctions.hashedTokensB(col("t")))
        .as("s_c"),
      TextFunctions.simhash64Native(col("t")).as("s_n"))
    assert(df.filter(not(col("g_c") <=> col("g_n"))).count() == 0, "wordNgrams")
    assert(df.filter(not(col("m_c") <=> col("m_n"))).count() == 0, "minhashSig")
    assert(df.filter(not(col("s_c") <=> col("s_n"))).count() == 0, "simhash64")
  }

  test("band join ≡ BETWEEN join on random facts and bands (batched)") {
    val vals = Gen.chooseNum(-50.0, 150.0)
    val facts = samples(vals, 200).zipWithIndex
      .map { case (v, i) => (i.toLong, math.rint(v * 4) / 4) }
      .toDF("id", "v")
    val bandGen = for {
      lo <- Gen.chooseNum(-60.0, 140.0)
      w <- Gen.chooseNum(0.0, 40.0)
    } yield (math.rint(lo), math.rint(lo + w))
    val bands = samples(bandGen, 25).zipWithIndex
      .map { case ((lo, hi), i) => (lo, hi, s"b$i") }
      .toDF("lo", "hi", "band")
    val custom = graft.plans.BandJoin
      .frame(facts, bands, facts("v"), bands("lo"), bands("hi"))
      .select(col("id"), col("band"))
    val generic = facts.join(bands,
        facts("v") >= bands("lo") && facts("v") <= bands("hi"))
      .select(col("id"), col("band"))
    val a = custom.as[(Long, String)].collect().sorted
    val b = generic.as[(Long, String)].collect().sorted
    assert(a.sameElements(b))
    assert(a.nonEmpty, "degenerate property: no matches generated")
  }

  test("media containers round-trip for any payload length (batched)") {
    // wavFromText/aviFromText must stay standards-correct at the edges:
    // empty payload (0 frames), odd lengths (frame-alignment truncation),
    // and multi-KB bodies — each reparsed by the REAL decoder
    val payload = Gen.choose(0, 4096)
      .flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
      .map(_.toArray)
    val cases = samples(payload, 40)
    val df = cases.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "data")
      .select(col("id"),
        graft.operators.Multimodal.wavFromText(col("data")).as("wav"),
        graft.operators.Multimodal.aviFromText(col("data"),
          lit(7) + pmod(length(col("data")), lit(100)),
          lit(320), lit(200)).as("avi"),
        length(col("data")).as("n"))
    df.select(col("id"), col("wav"), col("avi"), col("n"))
      .as[(Long, Array[Byte], Array[Byte], Int)].collect()
      .foreach { case (id, wav, avi, n) =>
        val even = n - n % 2
        val w = graft.operators.Multimodal.AudioCodec.decodeInfo(wav)
        assert(w.contains((16000, 1, even / 2L)),
          s"case $id (len $n): wav reparse $w")
        val expFrames = 7L + (n % 100)
        val v = graft.operators.Multimodal.VideoCodec.decodeInfo(avi)
        assert(v.contains((320, 200, expFrames, expFrames * 40L)),
          s"case $id (len $n): avi reparse $v")
        assert(wav.length == 44 + even && avi.length == 108 + even,
          s"case $id: container sizes ${wav.length}/${avi.length}")
      }
  }

  test("Cohen's kappa formula is bounded and hits ±1e6/0 on canonical " +
      "labelings (driver-side, random confusion tables)") {
    // the exact integer closed form used by q_cohen_kappa, replayed in
    // BigInt: κ ∈ [−10⁶, 10⁶], κ = 10⁶ iff perfect agreement with both
    // classes present, κ = 0 for independent marginals
    def kappa(tp: Long, fp: Long, fn: Long, tn: Long): Option[Long] = {
      val n = tp + fp + fn + tn
      val e = BigInt(tp + fp) * (tp + fn) + BigInt(fn + tn) * (fp + tn)
      val den = BigInt(n) * n - e
      if (den == 0) None
      else Some((BigInt(1000000) * (BigInt(n) * (tp + tn) - e) / den).toLong)
    }
    val cell = Gen.chooseNum(0L, 500L)
    val tables = samples(for {
      a <- cell; b <- cell; c <- cell; d <- cell
    } yield (a, b, c, d), 200).filter(t =>
      t._1 + t._2 + t._3 + t._4 > 0)
    tables.foreach { case (tp, fp, fn, tn) =>
      kappa(tp, fp, fn, tn).foreach { k =>
        assert(k >= -1000000L && k <= 1000000L, s"κ out of range: $k")
      }
    }
    assert(kappa(7, 0, 0, 13).contains(1000000L), "perfect agreement")
    // independent marginals: rows proportional (10,30 / 20,60): κ = 0
    assert(kappa(10, 30, 20, 60).contains(0L), "independence")
    // perfect disagreement on balanced marginals: κ = −1e6
    assert(kappa(0, 10, 10, 0).contains(-1000000L), "perfect disagreement")
  }

  test("simhash signature bits flip with vector negation (batched)") {
    // sign⟨−v, h⟩ = −sign⟨v, h⟩: negating a vector with no zero dots
    // complements all 16 signature bits — a structural check that the
    // quantized dot really drives every bit
    val vec = Gen.listOfN(64, Gen.chooseNum(-1000, 1000)
      .map(_ / 250.0f + 0.002f)) // offset avoids exact-zero dots
    val vs = samples(vec, 40).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }
    val df = vs.toDF("vec_id", "embedding")
    val both = df.unionByName(df.select((col("vec_id") + 1000L).as("vec_id"),
      transform(col("embedding"), x => -x).as("embedding")))
    // drive through the gate query's machinery via a temp dir write
    val dir = java.nio.file.Files.createTempDirectory("graft_simneg")
    both.coalesce(1).write.parquet(dir.resolve("tmp").toString)
    val part = java.nio.file.Files.list(dir.resolve("tmp")).toArray
      .map(_.toString).find(_.endsWith(".parquet")).get
    java.nio.file.Files.move(java.nio.file.Paths.get(part),
      dir.resolve("embeddings.parquet"))
    val sigs = SparkEntry.queries("q_embed_simhash")(spark, dir.toString)
      .select(col("vec_id"), col("sig")).as[(Long, Long)].collect().toMap
    vs.foreach { case (id, v) =>
      // a zero dot quantizes to bit=1 on both v and −v; tolerate only
      // exact complements OR bits where the dot is zero — with the
      // +0.002 offset, exact complement is the overwhelming case
      val s = sigs(id); val sn = sigs(id + 1000L)
      assert((s ^ sn) == 0xFFFFL || java.lang.Long.bitCount(s ^ sn) >= 14,
        s"vec $id: sig $s vs negated $sn — bits did not flip")
    }
  }

  test("st_envelope always bounds st_points (batched over random linestrings)") {
    val coords = Gen.listOfN(6,
      Gen.chooseNum(-179.0, 179.0).flatMap(x =>
        Gen.chooseNum(-89.0, 89.0).map(y => (x, y))))
    def line(pts: Seq[String]) =
      s"""{"type":"LineString","coordinates":[${pts.mkString(",")}]}"""
    val lines = samples(coords, 25).map(pts => line(pts.map(p => s"[${p._1},${p._2}]"))) ++
      Seq(line(Nil), line(Seq.fill(3)("[1.5,-2.5]")),
        line(Seq("[-0.0,0.0]", "[0.0,-0.0]", "[0.0,0.0]", "[-0.0,-0.0]")))
    import graft.functions.GeoFunctions._
    val df = lines.toDF("gj")
      .select(st_geomfromgeojson(col("gj")).as("g"))
      .select(st_envelope(col("g")).as("e"), st_points(col("g")).as("pts"))
    val violated = df.filter(
      exists(col("pts"), p =>
        element_at(p, 1) < col("e.xmin") || element_at(p, 1) > col("e.xmax") ||
          element_at(p, 2) < col("e.ymin") || element_at(p, 2) > col("e.ymax")))
    assert(violated.count() == 0)
    // each corner is exactly (sign of zero included; null for no vertices)
    // the composed array_min/array_max of the vertex coordinates
    val xs = transform(col("pts"), p => element_at(p, 1))
    val ys = transform(col("pts"), p => element_at(p, 2))
    val corners = Seq("xmin" -> array_min(xs), "ymin" -> array_min(ys),
      "xmax" -> array_max(xs), "ymax" -> array_max(ys))
    df.select(corners.flatMap { case (f, ref) => Seq(col(s"e.$f"), ref) }: _*)
      .collect().zip(lines).foreach { case (r, gj) =>
        corners.indices.foreach { i =>
          assert(java.util.Objects.equals(r.get(2 * i), r.get(2 * i + 1)),
            s"${corners(i)._1} of $gj: ${r.get(2 * i)} vs ${r.get(2 * i + 1)}")
        }
      }
  }
}
