package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kernel for the LLM-data-pipeline surface (SURVEY §2.11):
  * tokenization, normalization, shingling, fingerprinting, quality metrics,
  * language ID, and the portable 32-bit hash family used by MinHash/SimHash.
  *
  * Every function exists in two forms from one definition: a Spark `Column`
  * (codegen'd built-ins, no UDFs) and, where a query needs a DuckDB oracle,
  * a SQL-text generator producing the *same arithmetic* — the hash family is
  * md5-based precisely so both engines agree bit-for-bit (native `hash()`
  * functions are engine-specific).
  *
  * Scale posture: all per-row expressions (narrow, no shuffle); the arrays
  * they produce (tokens, shingles) stay inside one projection and are
  * consumed by aggregations downstream — nothing here materializes
  * token-level rows unless an operator explicitly explodes.
  */
object TextFunctions {

  // -- tokenization / normalization ------------------------------------------

  /** Strip leading/trailing whitespace of every kind — `trim` removes
    * spaces only, which leaves tab/newline artifacts in fingerprints
    * (caught by the normalization-invariance property test). */
  def wsTrim(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  def sqlWsTrim(expr: String): String =
    s"regexp_replace($expr, '^\\s+|\\s+$$', '', 'g')"

  def normalizeText(c: Column): Column =
    lower(regexp_replace(wsTrim(c), "\\s+", " "))

  def sqlNormalizeText(expr: String): String =
    s"lower(regexp_replace(${sqlWsTrim(expr)}, '\\s+', ' ', 'g'))"

  def tokens(c: Column): Column = split(wsTrim(c), "\\s+")

  def sqlTokens(expr: String): String =
    s"string_split_regex(${sqlWsTrim(expr)}, '\\s+')"

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword pretokenizer pattern, deliberately lookaround-FREE so
    * the identical pattern runs under RE2 (DuckDB `regexp_extract_all`) and
    * the query carries a real oracle. A token is: an ASCII letter run, a
    * digit run, or a single other-non-whitespace char glued to an
    * immediately-following letter run or digit run ("!cd5" → "!cd","5").
    * Equivalent to the former lookaround split form
    * `split(c, "(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])|\s+|(?=[^a-zA-Z0-9 ])")`
    * minus empty tokens — property-tested in TextFunctionsSpec. Caveat:
    * Java regex counts UTF-16 units where RE2 counts codepoints, so counts
    * agree for BMP text only (astral chars would read as 2 tokens here,
    * 1 in DuckDB — the corpus is ASCII). */
  val subwordPattern: String =
    "[^a-zA-Z0-9\\s](?:[a-zA-Z]+|[0-9]+)?|[a-zA-Z]+|[0-9]+"

  /** BPE-ish subword segmentation: splits on whitespace AND digit/letter
    * boundaries, the regex-only approximation of byte-pair pretokenizers. */
  def subwordTokens(c: Column): Column =
    regexp_extract_all(c, lit(subwordPattern), lit(0))

  /** Character k-shingles of a PRE-STAGED normalized text column: the
    * lambda re-evaluates its free references per element, so passing
    * `normalizeText(c)` inline costs one normalize PER SHINGLE — stage the
    * normalized text in its own projection for corpus-scale use. */
  def charShinglesOfNormalized(n: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(length(n) - (k - 1), lit(1))),
      i => n.substr(i, lit(k)))

  /** Word n-grams over the token array. slice+array_join measured 3× faster
    * than per-element element_at+concat_ws at sf0.1 (slice copies only n
    * elements; the per-access lambda/bounds machinery dominates the
    * alternative) — keep the slice form. */
  def wordNgrams(c: Column, n: Int): Column = {
    val ts = tokens(normalizeText(c))
    transform(
      sequence(lit(1), greatest(size(ts) - (n - 1), lit(1))),
      i => array_join(slice(ts, i, lit(n)), " "))
  }

  def sqlWordNgrams(expr: String, n: Int): String = {
    val ts = sqlTokens(sqlNormalizeText(expr))
    s"list_transform(generate_series(1, greatest(len($ts) - ${n - 1}, 1)), " +
      s"i -> array_to_string(list_slice($ts, i, i + ${n - 1}), ' '))"
  }

  /** Adjacent token pairs as (t1, t2) STRUCTS — the bigram feed for
    * collocation/LM counting. Same pair set as `wordNgrams(c, 2)` split
    * back apart (tokens never contain whitespace; a 1-token doc yields no
    * pairs either way), but ~7× cheaper measured at sf0.1 (8.3 s → 1.2 s
    * for q_lm_next_token): zip_with over two token-array slices allocates
    * one struct per bigram where the string route builds a joined string
    * per bigram and then regex-splits it downstream. */
  def tokenBigrams(c: Column): Column = {
    val ts = tokens(normalizeText(c))
    val len = greatest(size(ts) - 1, lit(0)) // split() never yields [], but guard the negative-length slice anyway
    zip_with(slice(ts, lit(1), len), slice(ts, lit(2), len),
      (a, b) => struct(a.as("t1"), b.as("t2")))
  }

  // -- fingerprinting / hashing ----------------------------------------------

  /** Document fingerprint: md5 of the whitespace-normalized lowercase text —
    * the content-identity key for exact dedup. */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  def sqlFingerprint(expr: String): String =
    s"md5(${sqlNormalizeText(expr)})"

  /** Winnowing document fingerprint (Schleimer, Wilkerson & Aiken 2003):
    * hash every char k-shingle of the normalized text, keep the minimum
    * hash of each w-wide shingle window, output the distinct selected
    * hashes sorted. Any shared substring of length ≥ k + w − 1 between two
    * documents is guaranteed to surface a common fingerprint hash — the
    * partial-overlap detector (copied paragraphs) that whole-document
    * [[fingerprint]] and near-global MinHash both miss. Narrow, no
    * shuffle; served by the native one-pass kernel
    * ([[graft.plans.WinnowFingerprintExpr]], ≡ TextKernelsSpec's composed
    * `hashedCharShinglesOfNormalized` then [[winnowFromHashes]]). */
  def winnowFingerprint(c: Column, k: Int = 5, w: Int = 4): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.WinnowFingerprintExpr(
      ColumnBridge.expression(c), k, w))
  }

  /** Window-min winnowing over a PRE-STAGED hash array column: with
    * TextKernelsSpec's `hashedCharShinglesOfNormalized`, the built-ins-only
    * form of [[winnowFingerprint]] — the executable spec of the native
    * kernel and the source of the oracle SQL shape. Two stages on purpose:
    * the hash array MUST materialize in its own projection first — inlined,
    * every window's lambda would recompute the whole shingle-hash pipeline
    * (O(n²) md5s per document; the round-1 staging lesson). */
  def winnowFromHashes(hs: Column, w: Int): Column =
    array_sort(array_distinct(transform(
      sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
      j => array_min(slice(hs, j, lit(w))))))

  /** `normExpr` must name a materialized normalized-text column — inlined,
    * DuckDB re-evaluates the normalize per shingle exactly like Spark. */
  def sqlHashedCharShinglesOfNormalized(normExpr: String, k: Int): String =
    s"list_transform(" +
      s"list_transform(generate_series(1, greatest(length($normExpr) - ${k - 1}, 1)), " +
      s"i -> substr($normExpr, i, $k)), s -> ${sqlHash32("s")})"

  /** `hsExpr` must name a materialized column (CTE-staged), mirroring the
    * staging requirement of [[winnowFromHashes]]. */
  def sqlWinnowFromHashes(hsExpr: String, w: Int): String =
    s"list_sort(list_distinct(list_transform(" +
      s"generate_series(1, greatest(len($hsExpr) - ${w - 1}, 1)), " +
      s"j -> list_min(list_slice($hsExpr, j, j + ${w - 1})))))"

  /** Portable 32-bit hash: first 4 md5 bytes as a long in [0, 2^32).
    * Identical in DuckDB via ('0x' || substr(md5(x),1,8))::BIGINT.
    * Served by the native [[graft.plans.Hash32Expr]] (codegen'd, no
    * hex-string round-trip — byte-identical to the built-in composition
    * `conv(substring(md5(c),1,8),16,10)`, asserted in CustomExprSpec). */
  def hash32(c: Column): Column =
    graft.plans.GraftExtensions.graft_hash32(c)

  /** The built-ins-only form of [[hash32]] (same value, ~2× the work):
    * kept for environments that exclude the native expression. */
  def hash32Composed(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  def sqlHash32(expr: String): String =
    s"('0x' || substr(md5($expr), 1, 8))::BIGINT"

  /** The banded-LSH candidate CTE fragment shared by every LSH oracle:
    * `banded` (per-band keys over a preceding `sigs(id, sig)` CTE) and
    * `cteName` (distinct same-band id<id pairs carrying both signatures).
    * ONE definition: the band arithmetic is the cross-engine contract
    * with [[graft.operators.Dedup.minhashPairs]]' banding — a k/bands
    * change must not be hand-synchronized across oracle strings. */
  def sqlBandedCandidates(bands: Int, rowsPerBand: Int,
      cteName: String = "cand"): String =
    s"""banded AS (
       |  SELECT id, sig, b || '_' || md5(array_to_string(
       |    list_slice(sig, b*$rowsPerBand + 1, b*$rowsPerBand + $rowsPerBand), ',')) AS band_key
       |  FROM sigs, (SELECT unnest(generate_series(0, ${bands - 1})) AS b)),
       |$cteName AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band_key = b.band_key AND a.id < b.id)""".stripMargin

  /** MinHash signature (SURVEY §2.11): k universal hashes
    * h_i(s) = (a_i * hash32(s) + b_i) mod p over the shingle set, min per i.
    * Deterministic (a_i, b_i) from the index; p = 2^31-1 keeps every product
    * within 63 bits (a_i ≤ 2^31, hash32 < 2^32 → salt the hash down first). */
  val MinhashPrime = 2147483647L // 2^31 - 1

  def minhashParams(i: Int): (Long, Long) = (2L * i + 1, 7919L * i + 13)

  /** One md5 per shingle; reuse via [[minhashFromHashes]] — computing the
    * k permutations over pre-hashed longs instead of re-hashing text k
    * times is a 16× md5 reduction on the hot path. */
  def hashedShingles(shingles: Column): Column =
    transform(shingles, s => hash32(s) % MinhashPrime)

  /** Signature from pre-hashed shingles (cheap arithmetic only). */
  def minhashFromHashes(hashes: Column, k: Int): Column = {
    val cols = (0 until k).map { i =>
      val (a, b) = minhashParams(i)
      array_min(transform(hashes, h => (h * a + b) % MinhashPrime))
    }
    array(cols: _*)
  }

  // -- native one-pass kernels (plans/TextKernels) ---------------------------
  // Byte-identical to the composed forms above (TextKernelsSpec asserts it on
  // the corpus + edge strings), but run inside WholeStageCodegen in a single
  // pass — the composed HOF pipelines are CodegenFallback and re-materialize
  // every intermediate array per row. Hot paths (Dedup, SimOps) use these;
  // the composed forms remain the executable spec and the oracle-SQL source.

  /** Native ≡ [[wordNgrams]]. */
  def wordNgramsNative(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.WordNgramsExpr(ColumnBridge.expression(c), n))
  }

  /** Native ≡ `minhashFromHashes(hashedShingles(wordNgrams(c, n)), k)`. */
  def minhashSigNative(c: Column, n: Int, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.MinhashSigExpr(ColumnBridge.expression(c), n, k))
  }

  /** Native ≡ `simhash64FromHashes(hashedTokens(c), hashedTokensB(c))`. */
  def simhash64Native(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.Simhash64Expr(ColumnBridge.expression(c)))
  }

  def sqlMinhashSignature(shinglesExpr: String, k: Int): String = {
    val parts = (0 until k).map { i =>
      val (a, b) = minhashParams(i)
      s"list_min(list_transform($shinglesExpr, " +
        s"s -> ((('0x' || substr(md5(s), 1, 8))::BIGINT % $MinhashPrime) * $a + $b) % $MinhashPrime))"
    }
    s"[${parts.mkString(", ")}]"
  }

  /** Raw 32-bit hashes of the normalized token array — materialize this
    * once (own projection) before any multi-reference consumer: SimHash
    * reads it 32 times (once per bit), and inlining would md5 every token
    * 32×. */
  def hashedTokens(c: Column): Column =
    transform(tokens(normalizeText(c)), t => hash32(t))

  /** The second 32 hash bits (md5 bytes 4-7) of the normalized token
    * array — the low half of the 64-bit SimHash vote. Built-ins-only
    * (spec/oracle path; the hot path is the fused native kernel). */
  def hashedTokensB(c: Column): Column =
    transform(tokens(normalizeText(c)),
      t => conv(substring(md5(t), 9, 8), 16, 10).cast("long"))

  /** 32-bit majority vote from pre-hashed tokens: bit b set iff the
    * majority of tokens have bit b set — one half of the 64-bit sketch. */
  def simhash32FromHashes(hashes: Column): Column = {
    // 2^b as an exact long (pow is exact for b ≤ 31; DuckDB's 1<<b agrees)
    def bit(b: Column): Column = pow(lit(2.0), b).cast("long")
    aggregate(
      sequence(lit(0), lit(31)),
      lit(0L),
      (acc, b) => acc +
        when(
          size(filter(hashes, h => h.bitwiseAND(bit(b)) =!= 0)) * 2
            > size(hashes),
          bit(b)).otherwise(lit(0L)))
  }

  /** 64-bit SimHash from the two 32-bit half votes: bits 32..63 from
    * `hiHashes` (hash32 = md5 bytes 0-3), bits 0..31 from `loHashes`
    * (md5 bytes 4-7). The shift wraps into the sign bit exactly like the
    * native kernel (Java shift semantics — no ANSI overflow, the sketch
    * is a bit pattern, not a magnitude). */
  def simhash64FromHashes(hiHashes: Column, loHashes: Column): Column =
    shiftleft(simhash32FromHashes(hiHashes), 32)
      .bitwiseOR(simhash32FromHashes(loHashes))

  /** One-projection composed form — only for single-use contexts; hot
    * paths go through the fused native kernel ([[simhash64Native]]). */
  def simhash64(c: Column): Column =
    simhash64FromHashes(hashedTokens(c), hashedTokensB(c))

  /** One 32-bit half vote in DuckDB: md5 hex chars [hexStart,
    * hexStart+8) of each token. */
  private def sqlSimhashHalf(toksExpr: String, hexStart: Int): String =
    s"""CAST(list_sum(list_transform(generate_series(0, 31), b ->
       |  CASE WHEN len(list_filter($toksExpr,
       |    t -> (('0x' || substr(md5(t), $hexStart, 8))::BIGINT & (1::BIGINT << b)) != 0)) * 2
       |    > len($toksExpr)
       |  THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)""".stripMargin

  /** 64-bit SimHash in DuckDB, mirroring [[simhash64Native]]'s bit
    * layout. DuckDB BIGINT shifts ERROR past bit 62 (no silent wrap), so
    * the high half combines via signed two's-complement arithmetic
    * (hi ≥ 2^31 sets the sketch's sign bit); the recentering-mod form
    * references the expensive half-vote once, since DuckDB re-evaluates
    * inlined subexpressions. */
  def sqlSimhash64(toksExpr: String): String = {
    val hi = sqlSimhashHalf(toksExpr, 1)
    val lo = sqlSimhashHalf(toksExpr, 9)
    s"((($hi + 2147483648) % 4294967296 - 2147483648) * 4294967296 + $lo)"
  }

  // -- quality metrics -------------------------------------------------------

  def punctCount(c: Column): Column = size(regexp_extract_all(c, lit("[\\p{Punct}]"), lit(0)))

  def sqlPunctCount(expr: String): String =
    s"len(regexp_extract_all($expr, '[[:punct:]]'))"

  /** Stopword hit count: token occurrences found in the given list. */
  def stopwordCount(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*)))

  def sqlStopwordCount(toksExpr: String, stopwords: Seq[String]): String =
    s"len(list_filter($toksExpr, t -> t IN (${stopwords.map(s => s"'$s'").mkString(", ")})))"

  // -- language ID -----------------------------------------------------------

  /** Stopword profiles per language — the n-gram-heuristic language ID's
    * model. Tiny on purpose: language ID here is a scoring harness, not a
    * trained model; profiles broadcast as literals. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"))

  /** Per-profile stopword scores (profile order) — materialize this array
    * once; [[langFromScores]] reads each entry twice (argmax + tie-break)
    * and inlining the token pipeline per read blows the expression tree up
    * exponentially through the fold. */
  def langScores(toks: Column): Column =
    array(langProfiles.map { case (_, words) => stopwordCount(toks, words) }: _*)

  /** Argmax over a materialized score array: first profile with the max
    * score wins (deterministic by profile order), 'zh' short-circuits on a
    * CJK charset hit. */
  def langFromScores(scores: Column, text: Column): Column = {
    val maxScore = array_max(scores)
    val pick = langProfiles.zipWithIndex.foldRight(lit(langProfiles.head._1)) {
      case (((lang, _), i), acc) =>
        when(element_at(scores, i + 1) === maxScore, lit(lang)).otherwise(acc)
    }
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh")).otherwise(pick)
  }

  /** Predicted language: CJK charset check first (zh), then argmax stopword
    * score with 'en' fallback on ties/zero — deterministic by profile order.
    * One-projection form; hot paths stage [[hashedTokens]]-style via
    * [[langScores]] + [[langFromScores]]. */
  def langId(text: Column): Column = {
    val toks = tokens(normalizeText(text))
    val scored = langProfiles.map { case (lang, words) =>
      (lang, stopwordCount(toks, words))
    }
    val best = scored.tail.foldLeft(
      struct(scored.head._2.as("score"), lit(scored.head._1).as("lang"))) {
      case (acc, (lang, score)) =>
        when(score > acc.getField("score"),
          struct(score.as("score"), lit(lang).as("lang"))).otherwise(acc)
    }
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .otherwise(best.getField("lang"))
  }

  def sqlLangId(textExpr: String): String = {
    val toks = sqlTokens(sqlNormalizeText(textExpr))
    val cases = langProfiles.tail.foldLeft(
      s"struct_pack(score := ${sqlStopwordCount(toks, langProfiles.head._2)}, lang := '${langProfiles.head._1}')") {
      case (acc, (lang, words)) =>
        s"(CASE WHEN ${sqlStopwordCount(toks, words)} > ($acc).score " +
          s"THEN struct_pack(score := ${sqlStopwordCount(toks, words)}, lang := '$lang') ELSE $acc END)"
    }
    s"(CASE WHEN regexp_matches($textExpr, '[\\x{4e00}-\\x{9fff}]') THEN 'zh' ELSE ($cases).lang END)"
  }
}
