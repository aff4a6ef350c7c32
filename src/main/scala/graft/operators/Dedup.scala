package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication family for large-scale training-data pipelines
  * (SURVEY §2.11). Four escalating strategies, each with a distinct
  * cost/recall point:
  *
  *  - [[exact]] — hash group-by on a content fingerprint. One shuffle on the
  *    fingerprint; at 100 TB this is the cheapest full-corpus pass (the
  *    md5 key is 16 bytes regardless of document size, so the shuffle
  *    carries keys + ids, never text).
  *  - [[minhashPairs]] — MinHash + LSH banding: shingle → k-hash signature →
  *    band keys → *bucket join*. The only join is |bucket|² within buckets,
  *    never corpus×corpus; recall/precision tuned by (k, bands) in the
  *    standard S-curve. The scale path for near-dup text dedup.
  *  - [[simhashGroups]] — SimHash: one 64-bit sketch per doc, exact-match
  *    grouping (Hamming-0). O(n) shuffle on an 8-byte key.
  *  - [[ngramJaccard]] — exact n-gram Jaccard on *candidate pairs only*;
  *    the verifier stage behind MinHash candidates, never run all-pairs.
  */
object Dedup {

  /** Exact dedup: one row per distinct normalized content, with the
    * canonical (min) id and the duplicate count. */
  def exact(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.select(fingerprint(textCol).as("fingerprint"), idCol.as("id"))
      .groupBy(col("fingerprint"))
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Per-document MinHash signature table: (id, sig ARRAY<BIGINT>[k]) via
    * the native one-pass kernel (plans/MinhashSigExpr — codegen'd, no
    * intermediate arrays; ≡ the staged composed form, TextKernelsSpec),
    * over the [[Spread]] input, so a one-split corpus still signs on
    * every core. */
  def minhashSignatures(df: DataFrame, textCol: Column, idCol: Column,
      shingleSize: Int = 3, k: Int = 16): DataFrame =
    Spread(df).select(idCol.as("id"),
      minhashSigNative(textCol, shingleSize, k).as("sig"))

  /** LSH banding → candidate pairs (id_a < id_b) whose estimated Jaccard
    * (signature agreement rate) ≥ `threshold`.
    *
    * Plan shape: signatures (narrow, one md5 per shingle, over the
    * [[Spread]] input: a one-split corpus is round-robined once into a
    * local checkpoint first, a wide one is signed where it lies) → explode
    * k/bands band-keys per doc → ONE shuffle on band-key (the window sort;
    * the following group-by reuses its hash partitioning, no second
    * exchange) → per-bucket pair expansion → (id_a, id_b) dedup (map-side
    * partial; the second, far smaller shuffle — candidate pairs only, never
    * the banded corpus) → agreement threshold. At 100 TB the band-key
    * shuffle carries (16-byte key, id, k longs) per doc — never text.
    *
    * Skew safety — real web corpora concentrate boilerplate into a few
    * degenerate buckets, so every per-bucket quantity is bounded:
    *  - the aggregation buffer holds at most `maxBucket` + 1 members
    *    (row_number caps membership BEFORE collect_list, and the window
    *    sort spills rather than buffers);
    *  - buckets that exceed `maxBucket` are dropped whole — an oversized
    *    LSH bucket means near-identical boilerplate, which exact dedup
    *    ([[exact]]) already catches more cheaply than |bucket|² pairs ever
    *    could. Pass `drops` to observe the dropped-bucket count in-flight
    *    (`Observation.get` after the action);
    *  - pair expansion is a two-stage explode, so no row ever materializes
    *    the |bucket|² pair array — peak per-row state is one ≤ `maxBucket`
    *    member array, and one task emits at most `maxBucket`²/2 pairs. */
  def minhashPairs(df: DataFrame, textCol: Column, idCol: Column,
      shingleSize: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 4096,
      drops: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    require(maxBucket > 1, "maxBucket must admit at least one pair")
    val rowsPerBand = k / bands
    val sigs = minhashSignatures(df, textCol, idCol, shingleSize, k)

    val banded = sigs.select(col("id"), col("sig"),
      explode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("_", b,
            md5(array_join(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), ",")))))
        .as("band_key"))

    // Agreement filter BEFORE the dedup: the estimate is a narrow per-row
    // function, so it prunes the (duplicated) pair stream pre-shuffle,
    // and distinct() over pair-functional columns then deduplicates the
    // survivors. Two deliberate non-choices: a first-agreeing-band filter
    // instead of the distinct is WRONG under the skew cap (the pair's
    // first agreeing bucket may be a dropped one — which band emitted is
    // not locally computable), and dropDuplicates(id_a, id_b) turns the
    // payloads into first() aggregates, which blocks this filter from
    // staying below the dedup shuffle (measured 7× slower at sf0.1).
    cappedBucketPairs(banded, "sig", maxBucket, drops)
      .drop("band_key")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(null)), v => v.isNotNull))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .distinct() // (id_a, id_b, sigs, est): sigs/est are pair-functions
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Shared skew-safe bucket → candidate-pair stage: rows (id, band_key,
    * `payload`) → all i<j same-bucket pairs
    * (band_key, id_a, id_b, payload_a, payload_b), with every per-bucket
    * quantity bounded. A pair surfaces once PER surviving co-bucketed band
    * — callers deduplicate on (id_a, id_b). (A band-arithmetic filter
    * cannot replace that dedup: under the skew cap, which band actually
    * emitted a pair is not computable from the payloads alone.) Bounds:
    *  - membership is capped BEFORE the collect (row_number over the
    *    band_key window; the window sort spills, an aggregation buffer
    *    would not) — at most `maxBucket` + 1 members ever reach one
    *    aggregation row, the +1 being the overflow sentinel;
    *  - buckets over `maxBucket` are dropped whole, observable via `drops`
    *    (metric `dropped_buckets`, readable after the action);
    *  - pair expansion is a two-stage explode — no row materializes the
    *    |bucket|² pair array, and one task emits ≤ `maxBucket`²/2 pairs.
    * The group-by reuses the window's hash partitioning, so the whole
    * stage costs ONE shuffle of (band_key, id, payload). */
  private def cappedBucketPairs(banded: DataFrame, payload: String,
      maxBucket: Int, drops: Option[org.apache.spark.sql.Observation]): DataFrame = {
    require(maxBucket > 1, "maxBucket must admit at least one pair")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_key")).orderBy(col("id"))
    val capped = banded
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= maxBucket + 1)
    val collected = capped.groupBy(col("band_key"))
      .agg(sort_array(collect_list(struct(col("id"), col(payload)))).as("members"))
      .filter(size(col("members")) > 1)
    val observed = drops.fold(collected)(o => collected.observe(o,
      sum(when(size(col("members")) === maxBucket + 1, 1L).otherwise(0L))
        .as("dropped_buckets")))
    observed.filter(size(col("members")) <= maxBucket)
      .select(col("band_key"),
        posexplode(col("members")).as(Seq("__pos", "m")), col("members"))
      .select(col("band_key"), col("m"),
        explode(slice(col("members"), col("__pos") + 2, size(col("members"))))
          .as("m2"))
      .select(col("band_key"),
        col("m.id").as("id_a"), col("m2.id").as("id_b"),
        col(s"m.$payload").as(s"${payload}_a"),
        col(s"m2.$payload").as(s"${payload}_b"))
  }

  /** Per-doc 64-bit SimHash sketch table (native one-pass kernel). */
  def simhashSketches(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.select(idCol.as("id"), simhash64Native(textCol).as("simhash"))

  /** SimHash sketch per doc + exact-sketch duplicate groups. */
  def simhashGroups(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    simhashSketches(df, textCol, idCol)
      .groupBy(col("simhash"))
      .agg(sort_array(collect_list(col("id"))).as("ids"),
        count(lit(1)).as("n"))

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`,
    * found WITHOUT an all-pairs comparison: the 64-bit sketch is split
    * into `maxHamming` + 1 bit-bands, and by pigeonhole two sketches
    * differing in ≤ `maxHamming` bits agree exactly on at least one band —
    * so banding is an EXACT candidate generator (unlike MinHash banding's
    * probabilistic S-curve), and the popcount filter removes the false
    * positives. One shuffle on an 8-byte band key; the same skew cap as
    * [[minhashPairs]] bounds degenerate buckets.
    *
    * Recall is 1.0 ONLY while no band bucket exceeds `maxBucket`: an
    * oversized bucket is dropped whole (boilerplate that [[exact]] dedup
    * catches more cheaply), and its pairs are lost unless another band
    * rediscovers them. Pass `drops` and check it is 0 after the action
    * when exactness matters — `q_simhash_neardup` instead sizes the cap
    * above the corpus so its parity vs the uncapped all-pairs oracle is
    * exact by construction.
    *
    * Output: (id_a, id_b, hamming), id_a < id_b. */
  def simhashNearDupPairs(df: DataFrame, textCol: Column, idCol: Column,
      maxHamming: Int = 3, maxBucket: Int = 4096,
      drops: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    hammingBandPairs(simhashSketches(df, textCol, idCol),
      col("id"), col("simhash"), maxHamming, maxBucket, drops)

  /** Pigeonhole bit-band near-dup pairs over ANY 64-bit sketch column —
    * the machinery behind [[simhashNearDupPairs]], reusable by every
    * Hamming-space family (text SimHash, embedding SimHash, image dHash):
    * split the sketch into `maxHamming` + 1 bit-bands; two sketches within
    * `maxHamming` bits agree exactly on ≥ 1 band, so banding is an EXACT
    * candidate generator and the popcount filter removes false positives.
    * One shuffle on an 8-byte band key; the [[cappedBucketPairs]] skew cap
    * bounds degenerate buckets (recall 1.0 only while `drops` stays 0 —
    * see [[simhashNearDupPairs]]).
    *
    * `groupCol` (optional) is a coarse CONTENT-KEY PRE-PARTITION folded
    * into every band key: pairs form only within equal group values, and
    * the declared semantics become "within `maxHamming` bits AND same
    * group". Why it exists: at large `maxHamming` the pigeonhole bands
    * are narrow (k = 8 → ~7-bit bands, ~2⁷ distinct keys per band), so
    * bucket occupancy — and pair work — grows LINEARLY with corpus size
    * no matter how the corpus is distributed over sketch space. A group
    * key with g effective values multiplies the key space by g and cuts
    * expected occupancy by g. The group rides INSIDE the shuffle key as a
    * struct field (exact equality by construction — no hash-collision
    * caveat), so the stage still costs one shuffle.
    *
    * Output: (id_a, id_b, hamming), id_a < id_b. */
  def hammingBandPairs(sketches: DataFrame, idCol: Column, sketchCol: Column,
      maxHamming: Int = 3, maxBucket: Int = 4096,
      drops: Option[org.apache.spark.sql.Observation] = None,
      groupCol: Option[Column] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val nBands = maxHamming + 1
    val sk = sketches.select((Seq(idCol.as("id"), sketchCol.as("sketch")) ++
      groupCol.map(_.as("__grp"))): _*)
    // band b covers bits [64b/n, 64(b+1)/n) — key = (band | bits), one
    // long: for n ≥ 2 every band is ≤ 32 bits so the tag at bit 32 is
    // collision-free; n == 1 (Hamming 0) is whole-sketch equality, so the
    // sketch itself is the key
    val bandKeys =
      if (nBands == 1) Seq(col("sketch"))
      else (0 until nBands).map { b =>
        val lo = 64 * b / nBands
        val width = 64 * (b + 1) / nBands - lo
        lit(b.toLong << 32).bitwiseOR(
          shiftrightunsigned(col("sketch"), lo)
            .bitwiseAND(lit((1L << width) - 1)))
      }
    val rawBanded = sk.withColumn("__raw_key",
      explode(array(bandKeys: _*)))
    val banded = groupCol match {
      case Some(_) => rawBanded.select(col("id"), col("sketch"),
        struct(col("__grp"), col("__raw_key")).as("band_key"))
      case None => rawBanded.select(col("id"), col("sketch"),
        col("__raw_key").as("band_key"))
    }
    // popcount filter BEFORE distinct() — see minhashPairs for why this
    // ordering and dedup form (and not a band filter or dropDuplicates)
    cappedBucketPairs(banded, "sketch", maxBucket, drops)
      .drop("band_key")
      .withColumn("hamming",
        bit_count(col("sketch_a").bitwiseXOR(col("sketch_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // (id_a, id_b, sketches, hamming): pair-functions
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Cross-corpus near-dedup: MinHash+LSH candidate pairs BETWEEN two
    * corpora — "dedup the new crawl against what we already trained on".
    * A `right` doc surfaces once per `left` doc whose estimated Jaccard
    * (signature agreement) ≥ `threshold`; pairs WITHIN either corpus are
    * not emitted. Output: (left_id, right_id, est_jaccard).
    *
    * Plan shape: both sides run the same narrow signature kernel, union
    * with a side tag, and flow through the one-shuffle capped banding of
    * [[minhashPairs]] — banding a union is strictly cheaper than a
    * band-key join of two banded sides (one exchange instead of two, and
    * the skew cap bounds the combined bucket, which is the quantity that
    * actually explodes on shared boilerplate). The side tag rides the
    * payload struct; cross-side survivors are oriented left→right after
    * the pair stage. At 100 TB the reference corpus is usually the big
    * side — nothing here assumes otherwise, and when the NEW side is small
    * its docs simply thin out the buckets.
    *
    * Ids must be distinct across the two corpora (they name output rows).
    * Same skew-cap semantics and `drops` observability as [[minhashPairs]]. */
  def minhashPairsAcross(left: DataFrame, right: DataFrame,
      textCol: Column, idCol: Column,
      shingleSize: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 4096,
      drops: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    val tagged = minhashSignatures(left, textCol, idCol, shingleSize, k)
        .withColumn("side", lit(0))
      .unionByName(
        minhashSignatures(right, textCol, idCol, shingleSize, k)
          .withColumn("side", lit(1)))
      .select(col("id"), struct(col("sig"), col("side")).as("pl"))

    val banded = tagged.select(col("id"), col("pl"),
      explode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("_", b,
            md5(array_join(slice(col("pl.sig"), b * rowsPerBand + 1,
              lit(rowsPerBand)), ",")))))
        .as("band_key"))

    // same stage ordering as minhashPairs: narrow agreement + side filters
    // prune the duplicated pair stream BEFORE the dedup shuffle
    cappedBucketPairs(banded, "pl", maxBucket, drops)
      .drop("band_key")
      .filter(col("pl_a.side") =!= col("pl_b.side"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("pl_a.sig"), col("pl_b.sig"),
          (x, y) => when(x === y, 1).otherwise(null)), v => v.isNotNull))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select(
        when(col("pl_a.side") === 0, col("id_a")).otherwise(col("id_b"))
          .as("left_id"),
        when(col("pl_a.side") === 0, col("id_b")).otherwise(col("id_a"))
          .as("right_id"),
        col("est_jaccard"))
      .distinct() // one row per (left, right) pair; est is a pair-function
  }

  /** The apply step of cross-corpus dedup: `right` (the new crawl) minus
    * every doc near-duplicating something in `left` (the corpus already
    * trained on) — [[minhashPairsAcross]] candidates → anti-join on the
    * right id (ids only shuffle, text never does). `right` is [[Spread]]
    * once, and that one frame feeds both the signatures and the anti-join,
    * so a narrow crawl is read once. */
  def scrubAgainst(left: DataFrame, right: DataFrame,
      textCol: Column, idCol: Column,
      shingleSize: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 4096): DataFrame = {
    val spread = Spread(right)
    val hit = minhashPairsAcross(left, spread, textCol, idCol,
        shingleSize, k, bands, threshold, maxBucket)
      .select(col("right_id")).distinct()
    spread.join(hit, idCol === hit("right_id"), "left_anti")
  }

  /** Exact SUBSTRING-level duplication census — the span-granular dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better": a training corpus repeats far more n-token SPANS than whole
    * documents (boilerplate, licenses, quotes), and span-level accounting
    * is what decides which docs to cut or scrub. Per doc: total n-token
    * spans (stride 1 — every window) and how many of its span INSTANCES
    * also occur elsewhere in the corpus (global occurrence ≥ `minCount`).
    *
    * Scale shape: four key exchanges — per-(doc, span) pre-agg, global
    * span census (both partial-aggregated map-side, so repeated spans
    * collapse before they travel), the span-keyed join of those two, and
    * the final per-doc rollup — and every one carries counted (id, span)
    * pairs, never raw text (spec-asserted). The hot-span hazard (a
    * boilerplate span repeated across millions of docs) lands on the
    * JOIN, where AQE skew splitting applies, rather than on a window
    * buffering the whole span group in one task — that is why this is a
    * census join and not the 3-exchange window formulation. Docs shorter
    * than `n` tokens contribute their single truncated shingle, same as
    * every other n-gram op here. */
  def duplicatedSpans(docs: DataFrame, textCol: Column, idCol: Column,
      n: Int = 8, minCount: Long = 2L): DataFrame = {
    require(n >= 1, s"span width must be positive, got $n")
    require(minCount >= 2, s"minCount below 2 flags everything, got $minCount")
    val perDoc = docs
      .select(idCol.as("id"), explode(wordNgramsNative(textCol, n)).as("span"))
      .groupBy(col("id"), col("span"))
      .agg(count(lit(1)).as("k"))
    val global = perDoc.groupBy(col("span"))
      .agg(sum(col("k")).as("c"))
    perDoc.join(global, Seq("span"))
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_spans"),
        sum(when(col("c") >= minCount, col("k")).otherwise(0L))
          .as("n_dup_spans"))
  }

  /** Exact n-gram Jaccard for given candidate pairs: a DataFrame with
    * (id_a, id_b) joined back to the texts. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame = {
    // Round 18 (guide §4, the q_clustering_coef kernel discipline): the
    // gram sets are sorted once per DOC, then each pair's overlap is one
    // native string merge scan (plans/SortedIntersectCountStrExpr) and
    // |A∪B| = |A| + |B| − |A∩B| — same integers, so the jaccard double
    // is bit-identical; the per-pair array_intersect AND array_union
    // hash-set builds (the union also materialized its array) are gone.
    val grams = docs.select(col(idCol).as("__id"),
      array_sort(array_distinct(wordNgramsNative(col(textCol), n)))
        .as("__grams"))
    val ic = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.SortedIntersectCountStrExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("grams_a")),
        org.apache.spark.sql.graft.ColumnBridge.expression(col("grams_b"))))
    pairs
      .join(grams.select(col("__id").as("id_a"), col("__grams").as("grams_a")), "id_a")
      .join(grams.select(col("__id").as("id_b"), col("__grams").as("grams_b")), "id_b")
      .withColumn("__ic", ic)
      .withColumn("jaccard",
        col("__ic").cast("double") /
          (size(col("grams_a")).cast("long") + size(col("grams_b"))
            - col("__ic")).cast("double"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact Jaccard τ self-join with prefix filtering (the AllPairs/PPJoin
    * family: Bayardo et al., "Scaling Up All Pairs Similarity Search",
    * WWW 2007; Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW 2008). Complements [[minhashPairs]]: LSH trades recall
    * for cost; this join is EXACT — every pair with shingle-set Jaccard
    * ≥ τ is emitted — yet never goes all-pairs.
    *
    * Prefix-filter principle: under any total order shared by all sets, two
    * sets A, B with |A∩B| ≥ c must share an element among the first
    * |A|−c+1 (resp. |B|−c+1) elements of each. J(A,B) ≥ τ implies
    * |A∩B| ≥ ceil(τ·|A|) (and symmetrically), so exploding only each
    * document's first |S|−ceil(τ·|S|)+1 shingles under the global order
    * still generates every qualifying pair. Ordering by ASCENDING document
    * frequency (ties on shingle text) makes prefixes maximally rare, so the
    * per-shingle bucket join fans out least — a stopword-like shingle lands
    * in a prefix only for documents where nothing rarer exists.
    *
    * Scale posture: one df-count shuffle on shingle keys, one per-doc
    * grouped sort (bounded by the doc's own shingle count), one equi-join
    * keyed on PREFIX shingles (rare by construction) with the τ·max ≤ min
    * size filter applied before the pair distinct, then exact verification
    * on candidates only (the [[ngramJaccard]] contract). All thresholds in
    * integer milli-units — no doubles, so engines agree bit-for-bit.
    *
    * Semi-eager: the shingle-set frame is `localCheckpoint`ed — it feeds
    * THREE consumers (the prefix explode and both sides of the verify
    * join), so without the checkpoint the n-gram pass re-runs for each;
    * the input is [[Spread]] first, so that single pass runs on every core
    * even when the input is one parquet split. (On the gate
    * corpus this is cost-neutral — its ~50-word vocabulary makes the
    * candidate join, not the n-gram pass, the dominant cost: shared
    * shingles have high df everywhere, the near-worst case for prefix
    * filtering. On a natural-text corpus the prefix buckets are rare and
    * the scan-side work matters.)
    */
  def jaccardSelfJoin(docs: DataFrame, textCol: Column, idCol: Column,
      n: Int = 3, tauMilli: Int = 500): DataFrame = {
    require(tauMilli > 0 && tauMilli <= 1000,
      s"tauMilli must be in (0, 1000], got $tauMilli")
    // Round 11: every shingle is DICTIONARY-ENCODED to an injective long
    // id at the df-census join (monotonically_increasing_id over the
    // vocab — an id table, not a hash, so encoded-set intersection counts
    // are EXACTLY the string-set counts), and everything downstream —
    // prefix join keys, pair dedup, verify intersection — runs on
    // primitive longs. The verify merge scan
    // (plans/SortedIntersectCountExpr) replaces array_intersect's
    // per-row UTF8String hash-set build, which was the suite's single
    // largest span on this boilerplate-heavy corpus (~300k candidates →
    // 256 true pairs at sf0.1).
    val ex = Spread(docs.select(idCol.as("id"), textCol.as("__t")))
      .select(col("id"),
        explode(array_distinct(wordNgramsNative(col("__t"), n))).as("g"))
    val vocab = ex.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .withColumn("mid", monotonically_increasing_id())
    // one grouped pass builds BOTH orderings of the encoded set: df-order
    // (rarest first, ties on dictionary id — any shared total order is
    // valid for prefix filtering) for the prefix, value-order for the
    // merge-scan verify. The localCheckpoint feeds three consumers (the
    // prefix explode and both verify sides) and pins one consistent
    // dictionary assignment.
    val ordered = ex.join(vocab, Seq("g"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("mid")))).as("og"))
      .select(col("id"), size(col("og")).cast("long").as("l"),
        sort_array(transform(col("og"), x => x.getField("mid"))).as("sv"),
        transform(col("og"), x => x.getField("mid")).as("dfo"))
      .select(col("id"), col("l"), col("sv"),
        slice(col("dfo"), lit(1),
          (col("l") - expr(s"($tauMilli * l + 999) div 1000") + 1)
            .cast("int")).as("prefix"))
      .localCheckpoint()
    val sets = ordered.select(col("id"), col("sv").as("s"), col("l"))
    // PPJoin positional filter (round 11): a shared prefix gram at
    // 1-based df-order positions (pa, pb) bounds the pair's overlap by
    //   o <= (min(pa, pb) - 1) + 1 + min(la - pa, lb - pb)
    // (common grams before g sit before it in BOTH df-ordered lists, so
    // there are at most min(pa, pb) - 1 of them; after g at most the
    // shorter remaining suffix). Sound per-match: the bound holds for
    // EVERY common gram, so a true pair's qualifying prefix match always
    // passes, and a match whose bound cannot reach the Jaccard minimum
    // overlap ceil(tau*(la+lb)/(1+tau)) is pruned BEFORE the pair-dedup
    // shuffle and the verify join. Integer form: bound*(1000+tau) >=
    // tau*(la+lb) (bound is integral, so >= ceil(x) iff >= x). On the
    // uniform-length gate corpus this prunes little (~0.4% — positions
    // sit early and suffixes are long at tau=0.5); its value is on
    // length-SKEWED corpora, where a short doc matching deep in a long
    // doc's prefix fails the bound outright. Cost is a few comparisons
    // per match; the brute-force equivalence spec pins that the pair
    // set is unchanged.
    val pe = ordered.select(col("id"), col("l"),
        posexplode(col("prefix")).as(Seq("p0", "g")))
      .select(col("id"), col("l"), (col("p0") + 1).cast("long").as("p"),
        col("g"))
    val posBound =
      least(col("a.p"), col("b.p")) +
        least(col("a.l") - col("a.p"), col("b.l") - col("b.p"))
    val cand = pe.as("a").join(pe.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          lit(1000) * least(col("a.l"), col("b.l")) >=
            lit(tauMilli) * greatest(col("a.l"), col("b.l")) &&
          posBound * lit(1000 + tauMilli) >=
            lit(tauMilli) * (col("a.l") + col("b.l")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("s").as("sa"),
        col("l").as("size_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("s").as("sb"),
        col("l").as("size_b")), "id_b")
      .withColumn("inter",
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.plans.SortedIntersectCountExpr(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("sa")),
            org.apache.spark.sql.graft.ColumnBridge.expression(col("sb")))))
      // single-reference form of 1000*i >= tau*(la+lb-i): predicate
      // inlining would otherwise run the merge scan twice per candidate
      .filter(lit(1000 + tauMilli) * col("inter") >=
        lit(tauMilli) * (col("size_a") + col("size_b")))
      .select(col("id_a"), col("id_b"), col("inter"),
        col("size_a"), col("size_b"),
        expr("(1000 * inter) div (size_a + size_b - inter)").as("jac_milli"))
  }
}
