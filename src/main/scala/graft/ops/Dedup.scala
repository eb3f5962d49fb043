package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus-scale pipelines.
  *
  * Scale design notes (the 100 TB posture):
  *  - exact/fingerprint dedup is one hash-partitioned shuffle on the
  *    content hash — the minimum possible; no full-text comparisons
  *    cross the wire, only (hash, doc_id);
  *  - MinHash signatures are computed as narrow expressions staged so
  *    each shingle is md5-hashed exactly ONCE (the hash array is
  *    materialized as a column; the k affine functions then read it) —
  *    no explode/shuffle per shingle;
  *  - candidate pairs come from LSH band buckets (self-join inside a
  *    bucket), never a global cross join; shingle sets are re-attached
  *    by id-join for the verify step so the wide arrays don't ride
  *    through the bucket shuffle;
  *  - all thresholds are integer comparisons (2*|A∩B| >= |A∪B| for
  *    Jaccard >= 0.5) so distributed re-computation can never flap.
  */
object Dedup {

  import TextOps.{hash32, hash60, tokens}

  /** Word n-gram shingles (distinct) — HOF differential reference for
    * the fused kernels (tests only; hot paths use
    * SketchExpressions.hashedShingles / TextOps.ngramsDistinct).
    */
  def shingles(text: Column, n: Int): Column =
    array_distinct(TextOps.ngramsHof(text, n))

  /** Exact dedup on a content key: marks each row kept/dropped by
    * min-doc_id-wins within identical keys. One shuffle on the key.
    */
  def exactDedup(df: DataFrame, key: Column, idCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(idCol))
    df.withColumn("dup_rank", row_number().over(w))
      .withColumn("is_duplicate", col("dup_rank") > 1)
  }

  /** MinHash parameters: k hash functions (a*h + b) mod P over 32-bit
    * shingle hashes reduced mod P. P prime ~2^20 and a,b < 2^20 keep
    * every product below 2^40 (no overflow in either engine). Values
    * are fixed constants — signatures must be reproducible across
    * runs, sessions, and engines.
    */
  val MinhashP = 1048573L
  val minhashParams: Seq[(Long, Long)] =
    (1 to 16).map(i => ((i * 7919L + 13) % MinhashP, (i * 104729L + 7) % MinhashP))

  /** MinHash signature from an ALREADY-HASHED shingle array
    * (array<long> of hash32 mod P): array<long> of length k.
    */
  def minhashSignature(hs: Column): Column =
    array(minhashParams.map { case (a, b) =>
      array_min(transform(hs, h => pmod(h * a + b, lit(MinhashP))))
    }: _*)

  /** Shingle-set -> reduced hash array (md5 once per shingle). */
  def shingleHashes(shingleSet: Column): Column =
    transform(shingleSet, s => pmod(hash32(s), lit(MinhashP)))

  /** LSH band keys: the signature split into `bands` slices of `rows`
    * each, each slice hashed to a compact string key. Docs sharing any
    * band key are near-dup candidates.
    */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws("_",
        lit(b) +: (0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*)
        .cast("binary"))
    }: _*)

  /** MinHash+LSH near-dup candidate pairs over (id, text):
    * staged signature (narrow) -> explode band keys (`bands` rows/doc,
    * ids only) -> bucket self-join -> distinct pairs -> re-attach
    * shingle sets by id -> exact Jaccard verify with integer threshold
    * num/den (e.g. 1/2 for >= 0.5).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rows: Int,
      num: Int, den: Int): DataFrame = {
    // One narrow pass computes hashed shingles + band keys via the
    // single-pass sketch kernels (SketchExpressions — ~20x faster than
    // the interpreted HOF formulation, same values); CACHED because
    // three downstream consumers (two join sides + the verify
    // re-attach) would otherwise re-run the md5-heavy scan 4x — at
    // cluster scale this is the difference between one pass over the
    // corpus and four.
    // Docs with fewer than n tokens have an EMPTY shingle set: their
    // signature is all-null, every such doc would share one band
    // bucket, and the 0/0 Jaccard verify is vacuously true — m^2
    // false pairs. They cannot be minhashed; exclude them up front.
    val hashed = graft.Scratch.cache(df
      .select(col(idCol).as("id"),
        SketchExpressions.hashedShingles(col(textCol), n).as("hs"),
        SketchExpressions.minhashSignature(col(textCol), n).as("sig"))
      .filter(size(col("hs")) > 0)
      .withColumn("bk", bandKeys(col("sig"), bands, rows)))
    // exactly-once candidate emission from the FIRST band both docs
    // share (the crossMinhashPairs trick, applied to the self-join):
    // `bands` codegen'd comparisons per collision instead of shuffling
    // the candidate flood through dropDuplicates
    val ea = hashed.select(posexplode(col("bk")).as(Seq("bi", "band")),
      col("id").as("id_a"), col("bk").as("bk_a"))
    val eb = hashed.select(explode(col("bk")).as("band"),
      col("id").as("id_b"), col("bk").as("bk_b"))
    val firstShared = (0 until bands).foldRight(lit(-1): Column) { (i, els) =>
      when(element_at(col("bk_a"), i + 1) === element_at(col("bk_b"), i + 1),
        lit(i)).otherwise(els)
    }
    val cand = ea.join(eb, Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("bi") === firstShared)
      .select(col("id_a"), col("id_b"))
    // Verify on the HASHED shingle sets (longs mod P): ~10x smaller
    // than the string sets on the wire and in the intersect; the
    // ~2^-20 per-pair collision probability is the standard MinHash
    // trade and the oracle replicates it exactly.
    val sets = hashed.select(col("id"), col("hs"))
    cand
      .join(sets.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("i_cnt", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("u_cnt", size(array_union(col("hs_a"), col("hs_b"))))
      .filter(col("i_cnt") * den >= col("u_cnt") * num)
      .select(col("id_a"), col("id_b"), col("i_cnt"), col("u_cnt"))
  }

  /** SimHash (60-bit, positive in a signed long) from an
    * ALREADY-MATERIALIZED array of 60-bit token hashes: bit b is set
    * when more hashes have bit b set than not. The 60 bit positions
    * are unrolled statically (shift amounts must be literals), all
    * reading the one materialized hash array.
    */
  def simhashFromHashes(hs: Column): Column = {
    val nTok = size(hs)
    (0 until 60).map { b =>
      val ones = size(filter(hs, h => shiftright(h, b) % 2 === 1))
      when(ones * 2 > nTok, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** MinHash near-dup pairs with a TEMPORAL HORIZON: only pairs whose
    * `weekCol` buckets differ by at most 1 are candidates — the
    * blocking an append-only corpus needs at scale, where "is this a
    * near-dup of something ingested recently" is the real question
    * and the candidate space must not grow with total corpus AGE,
    * only with the horizon window.
    *
    * Blocking key is (band, week-ish): each doc emits every band key
    * under weeks {w, w+1}, so docs meet iff they share a band AND
    * |w_a - w_b| <= 1. Exactly-once emission on BOTH axes: across
    * bands by the first-shared-band filter (the minhashPairs trick),
    * across weeks by keeping only the meeting key w == max(w_a, w_b)
    * (same-week pairs also meet at w+1; Δ=1 pairs meet only at the
    * max). Verify is the exact hashed-shingle Jaccard.
    */
  def minhashPairsHorizon(df: DataFrame, idCol: String, textCol: String,
      week: Column, n: Int, bands: Int, rows: Int,
      num: Int, den: Int): DataFrame = {
    val hashed = graft.Scratch.cache(df
      .select(col(idCol).as("id"), week.as("wk"),
        SketchExpressions.hashedShingles(col(textCol), n).as("hs"),
        SketchExpressions.minhashSignature(col(textCol), n).as("sig"))
      .filter(size(col("hs")) > 0)
      .withColumn("bk", bandKeys(col("sig"), bands, rows)))
    val ea = hashed
      .select(posexplode(col("bk")).as(Seq("bi", "band")),
        col("id").as("id_a"), col("wk").as("wk_a"), col("bk").as("bk_a"))
      .withColumn("wj", explode(array(col("wk_a"), col("wk_a") + 1)))
    val eb = hashed
      .select(explode(col("bk")).as("band"),
        col("id").as("id_b"), col("wk").as("wk_b"), col("bk").as("bk_b"))
      .withColumn("wj", explode(array(col("wk_b"), col("wk_b") + 1)))
    val firstShared = (0 until bands).foldRight(lit(-1): Column) { (i, els) =>
      when(element_at(col("bk_a"), i + 1) === element_at(col("bk_b"), i + 1),
        lit(i)).otherwise(els)
    }
    val cand = ea.join(eb, Seq("band", "wj"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("wj") === greatest(col("wk_a"), col("wk_b")))
      .filter(col("bi") === firstShared)
      .select(col("id_a"), col("id_b"), col("wk_a"), col("wk_b"))
    val sets = hashed.select(col("id"), col("hs"))
    cand
      .join(sets.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("i_cnt", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("u_cnt", size(array_union(col("hs_a"), col("hs_b"))))
      .filter(col("i_cnt") * den >= col("u_cnt") * num)
      .select(col("id_a"), col("id_b"), col("wk_a"), col("wk_b"),
        col("i_cnt"), col("u_cnt"))
  }

  /** Distinct-token 60-bit hash array (md5 once per token). */
  def tokenHashes60(text: Column): Column =
    transform(array_distinct(tokens(text)), t => hash60(t))

  /** Hamming distance between two simhashes via xor bit count. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Pigeonhole band blocking over a (id, sig) signature table: the 60
    * bits are split into `maxDist + 1` contiguous bands, so any pair at
    * hamming distance <= maxDist differs in at most maxDist bands and
    * MUST agree exactly on at least one — candidate recall is 100% by
    * construction (an earlier top-prefix blocking silently missed pairs
    * whose differing bits fell inside the prefix). Candidates are the
    * union of per-(band idx, band value) bucket self-joins, deduped,
    * then hamming-verified.
    *
    * Scale note: expected bucket size is corpus / 2^bandWidth per band
    * (~64-128 values per band at 60 bits / 9 bands). For corpora where
    * that is too coarse, grow the signature (e.g. 128-bit SimHash)
    * so each band carries more bits — the blocking shape is unchanged.
    */
  /** Triangle decomposition of a bucket self-join, shared by the
    * simhash pair scans: bucket members are split into `g` groups by
    * id, and the self-join key becomes (bucket, min-group, max-group).
    * Side A carries each row under keys (own, own..g-1), side B under
    * (0..own, own), so every unordered pair meets under EXACTLY one
    * key (min(ga,gb), max(ga,gb)) — the exactly-once emission proof is
    * unchanged. Purpose: a HOT bucket (a band value shared by a large
    * corpus fraction — measured 66% of docs in one band value on the
    * clustered test corpus) is one join key and therefore ONE task's
    * work; splitting turns it into g(g+1)/2 tasks at the cost of
    * replicating only (id, sig) rows ~g/2 times. Measured at sf0.1:
    * the 60-bit pair scan went from straggler-bound (4 threads 5.0 s,
    * 32 threads 4.0 s) to parallel.
    */
  private def trianglePairs(e: DataFrame, g: Int,
      verify: DataFrame => DataFrame): DataFrame = {
    // group on a HASH of the id: pmod on the raw id would coerce a
    // string id to null (sequence(null,..) -> explode drops the row,
    // silently losing every pair); xxhash64 gives every orderable id
    // type a uniform group
    val withG = e.withColumn("grp",
      pmod(xxhash64(col("id")), lit(g)).cast("int"))
    val a = withG
      .withColumn("gj", explode(sequence(col("grp"), lit(g - 1))))
      .select(col("bk"), col("grp").as("gi"), col("gj"),
        col("id").as("id_a"), col("sig").as("sig_a"))
    val b = withG
      .withColumn("gi", explode(sequence(lit(0), col("grp"))))
      .select(col("bk"), col("gi"), col("grp").as("gj"),
        col("id").as("id_b"), col("sig").as("sig_b"))
    // At a CROSS-group key (gi < gj) the pair meets exactly once with
    // roles fixed by group — the smaller id may be on either side, so
    // requiring id_a < id_b there would DROP pairs; only the
    // intra-group key (gi == gj), where both orientations meet, needs
    // the ordering filter. Output ids are then normalized (the verify
    // predicates — band agreement, hamming — are symmetric in the
    // sigs, so only the id columns need swapping).
    // The join INPUTS are sketch-sized (ids + sigs) but the join
    // OUTPUT explodes quadratically inside hot buckets — AQE sizes
    // post-shuffle partitions by input bytes and would coalesce this
    // join onto a handful of tasks (measured: thread-count-insensitive
    // wall time). An explicit partition count is the explode-aware
    // override AQE honors; co-partitioned on the join key, so the join
    // itself adds no extra exchange.
    val n = e.sparkSession.sessionState.conf.numShufflePartitions
    val keys = Seq(col("bk"), col("gi"), col("gj"))
    val met = a.repartition(n, keys: _*)
      .join(b.repartition(n, keys: _*), Seq("bk", "gi", "gj"))
      .filter(col("gi") =!= col("gj") || col("id_a") < col("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val norm = met
      .withColumn("id_lo", least(col("id_a"), col("id_b")))
      .withColumn("id_hi", greatest(col("id_a"), col("id_b")))
      .drop("id_a", "id_b")
      .withColumnRenamed("id_lo", "id_a")
      .withColumnRenamed("id_hi", "id_b")
    verify(norm)
  }

  /** SMALL-CORPUS variant: recall-complete pigeonhole blocking over
    * the 60-bit signature. With maxDist=8 its 9 bands carry only 6-7
    * bits each — 64-128 distinct band values — so expected bucket
    * population is LINEAR in corpus size and candidate generation
    * quadratic at scale. Pedagogically useful (the layout arithmetic
    * is readable) and fine up to ~10^6 docs; at corpus scale use the
    * 120-bit [[simhashPairsFromSigsWide]] (12-15-bit bands, the q56
    * form), which keeps the same recall guarantee with a band-value
    * space ~100x larger. SkewSpec pins the bucket-population gap
    * between the two layouts.
    */
  def simhashPairsFromSigs(sigs: DataFrame, maxDist: Int,
      splitG: Int = 8): DataFrame = {
    val bands = maxDist + 1
    val base = 60 / bands
    val extra = 60 % bands // the first `extra` bands are one bit wider
    val widths = Seq.tabulate(bands)(i => if (i < extra) base + 1 else base)
    val los = widths.scanLeft(0)(_ + _).init
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("bi"),
        shiftright(col("sig"), los(b))
          .bitwiseAND(lit((1L << widths(b)) - 1)).as("bv"))
    }: _*)
    val e = sigs.select(col("id"), col("sig"), explode(bandStructs).as("bk"))
    // A close pair collides in SEVERAL bands. Emitting it only from its
    // FIRST agreeing band makes every output row unique by construction
    // — nine codegen'd comparisons per candidate instead of shuffling
    // the whole (skew-prone) candidate flood through dropDuplicates.
    def bandVal(sig: Column, b: Int): Column =
      shiftright(sig, los(b)).bitwiseAND(lit((1L << widths(b)) - 1))
    val firstAgreeingBand = (0 until bands).foldRight(lit(-1): Column) { (b, els) =>
      when(bandVal(col("sig_a"), b) === bandVal(col("sig_b"), b), lit(b))
        .otherwise(els)
    }
    trianglePairs(e, splitG, cand => cand
      .filter(col("bk").getField("bi") === firstAgreeingBand)
      // hamming verify is one codegen'd xor+popcount — candidates from
      // hot band values die inside the join stage, nothing shuffles
      .withColumn("dist", hamming(col("sig_a"), col("sig_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist")))
  }

  /** Band layout for a multi-word signature: `bands` contiguous slices
    * that never straddle a word boundary (so extraction is one shift +
    * mask per band, sign-safe because every word is < 2^wordBits).
    * Words get ceil/floor shares of the bands; bits within a word get
    * ceil/floor shares of the word's width. Returns (word, lo, width).
    */
  private[ops] def wideBandLayout(words: Int, wordBits: Int,
      bands: Int): Seq[(Int, Int, Int)] = {
    require(bands >= words, s"need >= $words bands to cover $words words")
    val perWord = Seq.tabulate(words)(w =>
      bands / words + (if (w < bands % words) 1 else 0))
    perWord.zipWithIndex.flatMap { case (k, w) =>
      val base = wordBits / k
      val extra = wordBits % k
      val widths = Seq.tabulate(k)(i => if (i < extra) base + 1 else base)
      val los = widths.scanLeft(0)(_ + _).init
      los.zip(widths).map { case (lo, wd) => (w, lo, wd) }
    }
  }

  /** Pigeonhole band blocking over a MULTI-WORD (id, sig: array<long>)
    * signature table — the wide-signature upgrade of
    * [[simhashPairsFromSigs]]. Same recall-complete construction
    * (maxDist+1 bands; a <=maxDist pair must agree on one), but with
    * `words` x `wordBits` signature bits each band carries
    * words*wordBits/(maxDist+1) bits, so the per-band value space is
    * ~2^13-2^15 instead of 2^6-2^7: bucket population stays
    * corpus/2^bandWidth — the quadratic-bucket ceiling of the 60-bit
    * form is gone at large corpus sizes.
    */
  def simhashPairsFromSigsWide(sigs: DataFrame, maxDist: Int,
      words: Int = 2, wordBits: Int = 60, splitG: Int = 8): DataFrame = {
    val layout = wideBandLayout(words, wordBits, maxDist + 1)
    def bandVal(sig: Column, b: Int): Column = {
      val (w, lo, wd) = layout(b)
      shiftright(element_at(sig, w + 1), lo).bitwiseAND(lit((1L << wd) - 1))
    }
    val bandStructs = array(layout.indices.map { b =>
      struct(lit(b).as("bi"), bandVal(col("sig"), b).as("bv"))
    }: _*)
    val e = sigs.select(col("id"), col("sig"), explode(bandStructs).as("bk"))
    val firstAgreeingBand = layout.indices.foldRight(lit(-1): Column) { (bd, els) =>
      when(bandVal(col("sig_a"), bd) === bandVal(col("sig_b"), bd), lit(bd))
        .otherwise(els)
    }
    val dist = (0 until words).map(w =>
      bit_count(element_at(col("sig_a"), w + 1)
        .bitwiseXOR(element_at(col("sig_b"), w + 1)))).reduce(_ + _)
    trianglePairs(e, splitG, cand => cand
      .filter(col("bk").getField("bi") === firstAgreeingBand)
      .withColumn("dist", dist)
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist")))
  }

  /** 120-bit SimHash near-dup pairs over (id, text): complete recall
    * at hamming distance <= maxDist, scale-safe band-value space
    * (see [[simhashPairsFromSigsWide]]).
    */
  def simhashPairs120(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame = {
    val sigs = graft.Scratch.cache(df
      .select(col(idCol).as("id"),
        SketchExpressions.simhash120(col(textCol)).as("sig"))
      ) // every band self-join side reads it; sigs are md5-heavy
    simhashPairsFromSigsWide(sigs, maxDist)
  }

  /** SimHash near-dup pairs over (id, text): complete recall at
    * hamming distance <= maxDist via pigeonhole band blocking.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame = {
    val sigs = graft.Scratch.cache(df
      .select(col(idCol).as("id"),
        SketchExpressions.simhash60(col(textCol)).as("sig"))
      ) // every band self-join side reads it; sigs are md5-heavy
    simhashPairsFromSigs(sigs, maxDist)
  }

  /** Skew-resistant blocked Jaccard pairs: each doc is emitted into k
    * blocks keyed by its k SMALLEST word-n-gram SHINGLE hashes (the
    * min-of-k rarest-feature trick). Shingles, not tokens: the shingle
    * space is ~vocab^n, so per-shingle document frequency is low and no
    * single key can capture a corpus fraction — measured on the test
    * corpus (SCALING.md "Retired probes", block-key skew) the max block
    * is 0.6-1.2% of docs and SHRINKS with scale, vs 1.9-2.8% for the
    * natural (lang, first-token) key
    * and 77-81% (!) for single-token min-hashes, which degenerate when
    * one frequent token draws a globally-minimal hash value. Two docs
    * are candidates when their k-min sets intersect; each candidate
    * pair is emitted exactly once from its SMALLEST shared key (no
    * dedup shuffle — same pattern as the simhash first-agreeing-band
    * emission), then token-Jaccard-verified with the integer threshold.
    *
    * Recall: near-dup docs share most shingles, so their global-min
    * shingle hash coincides with probability ~= shingle-Jaccard
    * (the MinHash estimator); k min-keys push that toward 1.
    */
  def jaccardPairsMinK(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, num: Int, den: Int): DataFrame = {
    val base = graft.Scratch.cache(df.select(
      col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("toks"),
      slice(array_sort(SketchExpressions.hashedShingles(col(textCol), n)), 1, k)
        .as("keys"))
      .filter(size(col("keys")) > 0)) // sub-n-token docs cannot block; both self-join sides
    val e = base.select(explode(col("keys")).as("bk"),
      col("id"), col("toks"), col("keys"))
    val a = e.select(col("bk"), col("id").as("id_a"),
      col("toks").as("toks_a"), col("keys").as("keys_a"))
    val b = e.select(col("bk"), col("id").as("id_b"),
      col("toks").as("toks_b"), col("keys").as("keys_b"))
    a.join(b, Seq("bk")).filter(col("id_a") < col("id_b"))
      // exactly-once: only the smallest shared key emits the pair
      .filter(col("bk") === array_min(array_intersect(col("keys_a"), col("keys_b"))))
      .withColumn("i_cnt", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("u_cnt", size(col("toks_a")) + size(col("toks_b")) - col("i_cnt"))
      .filter(col("i_cnt") * den >= col("u_cnt") * num)
      .select(col("id_a"), col("id_b"), col("i_cnt"), col("u_cnt"))
  }

  /** Incremental near-dup clustering: docs below `splitId` are
    * "yesterday's" corpus with its clusters already computed; the new
    * batch is absorbed WITHOUT re-clustering the old graph. Old
    * components contract to supernodes (their min-id labels), the
    * contracted graph sees only the NEW edges (pairs touching a new
    * doc), and a second CC runs on that — typically orders of
    * magnitude smaller than the full graph. Label semantics are
    * preserved exactly: a component's label is the min member id in
    * both the contracted and the original graph (supernode ids ARE
    * min ids), so incremental output == from-scratch output — which
    * is precisely what the oracle checks, via the recursive
    * transitive closure over ALL pairs.
    *
    * Scale posture: this is the daily-ingest path — prior pairs are
    * never reprocessed (absorbed in the label table), and the
    * contracted CC's input is new-edge-sized. Both CC calls follow
    * the loop discipline (AQE off in-loop, one action per round,
    * lineage cuts).
    */
  def incrementalClusters(docs: DataFrame, idCol: String, textCol: String,
      splitId: Long, n: Int, bands: Int, rows: Int,
      num: Int, den: Int): DataFrame = {
    val allPairs = graft.Scratch.localCheckpoint(
      minhashPairs(docs, idCol, textCol, n, bands, rows, num, den)
        .select(col("id_a"), col("id_b")))
    val priorPairs = allPairs
      .filter(col("id_a") < splitId && col("id_b") < splitId)
    val newPairs = allPairs
      .filter(col("id_a") >= splitId || col("id_b") >= splitId)
    val lab = graft.Scratch.cache(connectedComponents(priorPairs))
    val contracted = newPairs
      .join(lab.select(col("id").as("id_a"), col("comp").as("ca")),
        Seq("id_a"), "left")
      .join(lab.select(col("id").as("id_b"), col("comp").as("cb")),
        Seq("id_b"), "left")
      .select(coalesce(col("ca"), col("id_a")).as("id_a"),
        coalesce(col("cb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val cc2 = connectedComponents(contracted)
    docs.select(col(idCol).cast("long").as("id"))
      .join(lab, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("rep"))
      .join(cc2.select(col("id").as("rep"), col("comp").as("c2")),
        Seq("rep"), "left")
      .select(col("id").as(idCol),
        coalesce(col("c2"), col("rep")).as("cluster"))
  }

  /** Catalog-level overlap triage: one MinHash signature PER SOURCE
    * (componentwise minimum over that source's per-doc signatures —
    * exactly the signature of the union of the source's shingle
    * sets), then all source pairs scored by matching components in
    * permille (the standard MinHash Jaccard estimate, here of
    * source-union overlap). Answers "which two crawls/dumps largely
    * duplicate each other" BEFORE any doc-level work is spent.
    *
    * Scale posture: per-doc signatures reduce map-side to k longs
    * per source; the pair join is over #sources × k rows (catalog-
    * sized, nothing data-sized moves after the first aggregate).
    */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sigs = df.select(col(srcCol).as("src"),
      SketchExpressions.minhashSignature(col(textCol), n).as("sig"))
      .filter(size(filter(col("sig"), v => v.isNotNull)) > 0)
      .select(col("src"), posexplode(col("sig")).as(Seq("k", "v")))
      .groupBy(col("src"), col("k")).agg(min(col("v")).as("v"))
    sigs.select(col("src").as("src_a"), col("k"), col("v").as("v_a"))
      .join(sigs.select(col("src").as("src_b"), col("k"), col("v").as("v_b")),
        Seq("k"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("k_cnt"),
        sum(when(col("v_a") === col("v_b"), 1L).otherwise(0L)).as("matches"))
      .select(col("src_a"), col("src_b"), col("matches"),
        (col("matches") * 1000 / col("k_cnt")).cast("long").as("est_permille"))
  }

  /** EXACT n-gram-set overlap matrix between sources — the
    * calibration differential for [[sourceOverlap]]'s MinHash
    * estimate: same pair key and (with the default n = 3) the same
    * shingle-set statistic the signatures estimate, computed exactly
    * in permille. A different n would be a DIFFERENT statistic —
    * unigram vocabularies overlap far more than 3-gram sets, and a
    * calibration against the wrong set definition attributes the gap
    * to estimator error. Zero-intersection pairs are kept (complete
    * matrix) via a catalog-sized pair frame.
    *
    * Scale posture: the corpus collapses ONCE to the distinct
    * (source, gram) table (n-gram-vocab × sources, not corpus-sized);
    * intersections come from a self-join on gram whose fan-out per
    * gram is C(k,2) for a gram in k sources — bounded by the CATALOG
    * pair count, not the corpus; per-source set sizes and the full
    * pair frame are catalog-sized and broadcast.
    */
  def sourceOverlapExact(df: DataFrame, srcCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams =
      if (n == 1) array_distinct(TextOps.tokens(col(textCol)))
      else TextOps.ngramsDistinct(col(textCol), n)
    val tok = graft.Scratch.cache(df
      .select(col(srcCol).as("src"), explode(grams).as("token"))
      .distinct()) // set semantics; both the size agg and the join side
    val sizes = tok.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val pairs = broadcast(sizes.select(col("src").as("src_a"), col("n").as("n_a")))
      .join(broadcast(sizes.select(col("src").as("src_b"), col("n").as("n_b"))),
        col("src_a") < col("src_b"))
    val inter = tok.select(col("src").as("src_a"), col("token"))
      .join(tok.select(col("src").as("src_b"), col("token")), Seq("token"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("i"))
    // inter is catalog-sized after its aggregation (<= C(#sources, 2)
    // rows) — broadcast it so the completion join never sort-merges
    pairs.join(broadcast(inter), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("i"), lit(0L)).as("inter"),
        col("n_a"), col("n_b"))
      // integer DIV (not double `/`): exact past 2^53 set sizes
      .withColumn("jaccard_permille",
        expr("(inter * 1000) DIV (n_a + n_b - inter)"))
  }

  /** Asymmetric containment pairs: |shingles(A) ∩ shingles(B)| over
    * |shingles(A)| (and over |B|), in permille — the detector for a
    * SMALL doc quoted inside a big one, which symmetric-Jaccard
    * minhash blocking structurally misses (containment with a large
    * size ratio has low Jaccard, so the signatures never collide).
    *
    * Blocking is PREFIX FILTERING (the SSJoin/PPJoin discipline):
    * order each doc's shingles by ascending corpus df (ties by
    * hash), and probe the inverted index with only the first
    * n - ceil(t*n) + 1 of them. Pigeonhole guarantee: a pair whose
    * smaller-side containment reaches t MUST share a probe shingle
    * of the contained doc — if it missed the whole prefix, the
    * overlap could be at most ceil(t*n) - 1 < t*n. Every doc probes
    * (covering either containment direction), the index side holds
    * all shingles, and because probes are each doc's RAREST
    * shingles, per-probe fan-out is the df of a rare shingle, not a
    * hot one. Recall is therefore EXACT — the oracle checks this
    * query against brute-force all-pairs containment — while probe
    * volume stays ~(1-t) of the exploded corpus. Candidates dedupe
    * by pair key, then containment is verified exactly on the full
    * distinct shingle sets re-attached by id.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thrPermille: Int = 800): DataFrame = {
    // sorted once so the verify can run the merge-scan intersect kernel
    val base = graft.Scratch.cache(df.select(
      col(idCol).as("id"),
      array_sort(SketchExpressions.hashedShingles(col(textCol), n)).as("hs"))
      .filter(size(col("hs")) > 0))
    val ex = base.select(col("id"), explode(col("hs")).as("sh"))
    // hashedShingles is distinct-per-doc, so count(*) IS doc frequency
    val dfc = ex.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("sh"))
    // every doc's shingles with their (df, sh)-order position — the
    // probe side filters to the prefix, the index side keeps all but
    // carries the position for the POSITIONAL filter below
    val wd = graft.Scratch.cache(ex.join(dfc, Seq("sh"))
      .select(col("id"), col("sh"),
        row_number().over(wDoc).as("rn"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("id")))
          .as("n")))
    // overlap needed for floor(i*1000/n) >= t: o_min = ceil(t*n/1000)
    val probes = wd
      .filter(col("rn") <=
        col("n") - floor((lit(thrPermille) * col("n") + 999) / 1000) + 1)
      .select(col("sh"), col("id").as("id_p"),
        col("rn").as("rn_p"), col("n").as("n_p"))
    // positional filter (PPJoin): the shared subset sorts identically
    // in both lists under the GLOBAL (df, sh) order, so at the
    // earliest shared shingle the remaining-suffix bound
    // min(n_p-rn_p, n_i-rn_i)+1 upper-bounds the overlap; pruning
    // occurrences that cannot reach o_min of the smaller side keeps
    // exactly-once recall (the earliest shared occurrence always
    // survives) while discarding most random collisions.
    val cand = probes
      .join(wd.select(col("sh"), col("id").as("id_i"),
        col("rn").as("rn_i"), col("n").as("n_i")), Seq("sh"))
      .filter(col("id_p") =!= col("id_i"))
      .filter(least(col("n_p") - col("rn_p"), col("n_i") - col("rn_i")) + 1 >=
        floor((lit(thrPermille) * least(col("n_p"), col("n_i")) + 999) / 1000))
      .select(least(col("id_p"), col("id_i")).as("id_a"),
        greatest(col("id_p"), col("id_i")).as("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        SketchExpressions.sortedIntersectCount(col("hs_a"), col("hs_b"))
          .as("i_cnt"),
        size(col("hs_a")).as("n_a"), size(col("hs_b")).as("n_b"))
      // widen BEFORE the x1000: Int i_cnt * 1000 wraps negative past
      // ~2.1M shared shingles (a multi-megatoken doc) and would
      // silently drop a true containment pair
      .withColumn("cont_a",
        (col("i_cnt").cast("long") * 1000 / col("n_a")).cast("long"))
      .withColumn("cont_b",
        (col("i_cnt").cast("long") * 1000 / col("n_b")).cast("long"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= thrPermille)
  }

  /** Cross-corpus near-dup pairs (train/test CONTAMINATION check):
    * MinHash band buckets of corpus A hash-joined with corpus B's —
    * never a self-join, never A x B. Each (a, b) contaminated pair is
    * emitted exactly once from the FIRST band both sides share (the
    * no-dedup-shuffle trick), then Jaccard-verified on hashed shingle
    * sets with the integer threshold. At scale the band join shuffles
    * ids+band keys only; shingle sets re-attach by id afterwards.
    */
  def crossMinhashPairs(a: DataFrame, b: DataFrame, idCol: String,
      textCol: String, n: Int, bands: Int, rows: Int,
      num: Int, den: Int): DataFrame = {
    def prep(df: DataFrame, side: String): DataFrame = df
      .select(col(idCol).as(s"id_$side"),
        SketchExpressions.hashedShingles(col(textCol), n).as(s"hs_$side"),
        SketchExpressions.minhashSignature(col(textCol), n).as("sig"))
      .filter(size(col(s"hs_$side")) > 0)
      .withColumn(s"bk_$side", bandKeys(col("sig"), bands, rows))
      .drop("sig")
    def prepC(df: DataFrame, side: String): DataFrame =
      graft.Scratch.cache(prep(df, side)) // band join side + verify re-attach
    val pa = prepC(a, "a")
    val pb = prepC(b, "b")
    val ea = pa.select(posexplode(col("bk_a")).as(Seq("bi", "band")),
      col("id_a"), col("bk_a"))
    val eb = pb.select(explode(col("bk_b")).as("band"), col("id_b"), col("bk_b"))
    val firstShared = (0 until bands).foldRight(lit(-1): Column) { (i, els) =>
      when(element_at(col("bk_a"), i + 1) === element_at(col("bk_b"), i + 1), lit(i))
        .otherwise(els)
    }
    val cand = ea.join(eb, Seq("band"))
      .filter(col("bi") === firstShared)
      .select(col("id_a"), col("id_b"))
    cand
      .join(pa.select(col("id_a"), col("hs_a")), Seq("id_a"))
      .join(pb.select(col("id_b"), col("hs_b")), Seq("id_b"))
      .withColumn("i_cnt", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("u_cnt", size(array_union(col("hs_a"), col("hs_b"))))
      .filter(col("i_cnt") * den >= col("u_cnt") * num)
      .select(col("id_a"), col("id_b"), col("i_cnt"), col("u_cnt"))
  }

  /** Connected components of an undirected pair graph (id_a, id_b) by
    * iterative min-label propagation: every node ends labeled with the
    * smallest id reachable from it. This is the step that turns
    * near-dup PAIRS (minhash/simhash/embedding) into DEDUP CLUSTERS —
    * pick one canonical doc per component, drop the rest.
    *
    * Scale posture: each round is a neighbor-min step (equi-join +
    * map-side-combinable min shuffle on node id) followed by a
    * pointer-doubling step (comp := comp(comp), one self-join) — the
    * doubling halves remaining path lengths, so rounds are
    * O(log diameter) rather than O(diameter) even on adversarial
    * chain graphs. The loop's per-round driver action is a LIMIT-1
    * convergence probe, never data-sized; lineage is truncated every
    * few rounds (localCheckpoint) so plans don't grow unboundedly.
    */
  /** Below this many (directed) edge rows the component labels are
    * computed with a driver-side union-find instead of the
    * distributed loop: the collect is BOUNDED by this constant
    * (~32 MB of longs at the cap — a size-adaptive strategy choice,
    * same spirit as Spark's broadcast threshold, NOT data-sized
    * driver state), and at bench scale the near-dup graph is a few
    * hundred edges where the loop's per-round job overhead dwarfs
    * the work by orders of magnitude. Larger graphs — e.g. a full
    * 100 TB corpus re-cluster — take the distributed loop below.
    */
  val DriverCcMaxEdges = 1000000L

  /** Session override for the driver-replay cap: like Spark's own
    * `autoBroadcastJoinThreshold`, the size-adaptive cutoff is a
    * CONFIG, not a burned-in constant — an operator fleet tuned for a
    * beefier driver raises it, a test forces the distributed path
    * with 0. ANY explicit per-call `driverMaxEdges >= 0` wins over
    * the session conf (callers that pass a value know their graph
    * better than the session default does); the negative
    * [[UseSessionReplayCap]] sentinel — the parameter default — defers
    * to the conf. A negative sentinel rather than value-equality with
    * the default, so a caller explicitly passing the default cap
    * still wins over the conf.
    */
  val DriverReplayCapKey = "spark.graft.driverReplayMaxEdges"

  /** Default for `driverMaxEdges` parameters: "not passed — resolve
    * from [[DriverReplayCapKey]], falling back to
    * [[DriverCcMaxEdges]]".
    */
  val UseSessionReplayCap = -1L

  def driverReplayCap(df: DataFrame, passed: Long): Long =
    if (passed >= 0L) passed
    else df.sparkSession.conf
      .get(DriverReplayCapKey, DriverCcMaxEdges.toString).toLong

  def connectedComponents(pairs: DataFrame, maxIters: Int = 25,
      driverMaxEdges: Long = UseSessionReplayCap): DataFrame = {
    val replayCap = driverReplayCap(pairs, driverMaxEdges)
    // AQE is OFF for the duration of the loop (restored after). Adaptive
    // planning re-optimizes and resubmits every shuffle stage of every
    // round as its own scheduling step; on the pair graph — which is
    // orders of magnitude smaller than the corpus that produced it —
    // that per-round planning latency dominates the actual work
    // (measured: 2.2 s/round with AQE vs 0.5-0.9 s/round without, same
    // plan shapes; SCALING.md "Retired probes", connected components).
    // The loop's joins are uniform id-keyed hash
    // joins with stable per-round statistics, exactly the case static
    // planning handles; near-dup-graph skew shows up as big components
    // (handled by pointer doubling), not as hot shuffle keys.
    val spark = pairs.sparkSession
    // The caller's pair pipeline may be corpus-sized and skew-prone
    // (e.g. dedupClusters hands in the lazy band-bucket self-join) —
    // materialize it HERE, under the session's adaptive settings, so
    // AQE skew-splitting applies to the hot-bucket join. Only the
    // loop's uniform id-keyed rounds run with AQE off. The count
    // doubles as the loop's edge-count input.
    val sym = graft.Scratch.cache(pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .unionByName(pairs
        .select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst"))))
    val edgeCnt = sym.count()
    if (edgeCnt <= replayCap) {
      val out = driverUnionFind(sym)
      sym.unpersist()
      out
    } else {
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try connectedComponentsLoop(sym, edgeCnt, maxIters)
      finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  /** Driver-side union-find over a size-bounded symmetric edge table
    * (see [[DriverCcMaxEdges]]). Union-by-min-root keeps every
    * component's root at its MINIMUM member id, so labels are
    * identical to the distributed loop's min-label fixpoint — the
    * choice of path is invisible to every consumer and oracle. The
    * result is a LocalRelation, so downstream joins broadcast it.
    */
  private def driverUnionFind(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    sym.collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.map(id => (id, find(id))).toSeq.toDF("id", "comp")
  }

  private def connectedComponentsLoop(sym: DataFrame, edgeCnt: Long,
      maxIters: Int): DataFrame = {
    var labels = graft.Scratch.cache(sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")))
    // ONE Spark action per round (the convergence count, which also
    // materializes the round's cache): on small/medium graphs the loop
    // cost is per-job constant overhead, not data. Tables from the
    // previous round are released one round LATE (prev/prevStepped) so
    // nothing a lazy plan still references is evicted before its
    // consumer materializes.
    var prevStepped: DataFrame = null
    var prev: DataFrame = null
    var iter = 0
    // size-aware loop partitioning: the in-loop shuffles are sized to
    // the EDGE TABLE, not the corpus (AQE, which would coalesce them,
    // is off in-loop by design — see connectedComponents). At 100 TB
    // the edge count drives this to the session ceiling; on a small
    // graph it collapses every round's shuffle to a handful of tasks,
    // which is most of a toy-scale round's wall time. edgeCnt arrives
    // from the caller, which counted sym under AQE.
    val spark = sym.sparkSession
    val partsWas = spark.conf.get("spark.sql.shuffle.partitions")
    val parts = math.max(1L, math.min(partsWas.toLong,
      edgeCnt / 50000L + 1L)).toString
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try {
    var done = edgeCnt == 0L
    while (!done && iter < maxIters) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("comp")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("comp")).as("nbr"))
        .withColumnRenamed("src", "id")
      var stepped = labels.withColumnRenamed("comp", "oc")
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("oc"),
          least(col("oc"), coalesce(col("nbr"), col("oc"))).as("comp"))
      // lazy checkpoint: the convergence count below materializes it,
      // so this stays one action per round
      if (iter % 3 == 2) stepped = graft.Scratch.localCheckpoint(stepped)
      stepped = graft.Scratch.cache(stepped)
      // the count materializes stepped's cache AND decides convergence
      done = stepped.filter(col("comp") =!= col("oc")).count() == 0
      if (prev != null) prev.unpersist()
      if (prevStepped != null) prevStepped.unpersist()
      prev = labels
      prevStepped = stepped
      labels =
        if (done) stepped.select(col("id"), col("comp"))
        else {
          // pointer doubling: follow the label's label (comp is always
          // a node id, so the lookup is a self-join on the cached label
          // table); halves remaining path lengths -> O(log diameter)
          // rounds even on chain graphs. Skipped on the confirm round:
          // a fixpoint of the neighbor step is a fixpoint of doubling.
          graft.Scratch.cache(stepped
            .join(stepped.select(col("id").as("comp"), col("comp").as("cc")),
              Seq("comp"), "left")
            .select(col("id"),
              least(col("comp"), coalesce(col("cc"), col("comp"))).as("comp")))
        }
      iter += 1
    }
    sym.unpersist()
    // cut the loop lineage under the returned (id, comp) table:
    // caching short-circuits execution but consumers would still
    // re-ANALYZE a plan embedding the pair generation + up to 3
    // rounds of label joins on every downstream action (measured
    // seconds of pure planning per action on the q99 funnel)
    graft.Scratch.localCheckpoint(labels)
    } finally spark.conf.set("spark.sql.shuffle.partitions", partsWas)
  }

  /** Dedup clustering over (id, text): near-dup pairs (MinHash+LSH)
    * -> connected components -> every doc labeled with its cluster and
    * whether it is the canonical (minimum-id) member. Docs without
    * near-dups are their own singleton cluster.
    */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rows: Int, num: Int, den: Int): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, n, bands, rows, num, den)
      .select(col("id_a"), col("id_b"))
    val comps = connectedComponents(pairs)
    df.select(col(idCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol)).as("cluster"))
      .withColumn("is_canonical", col(idCol) === col("cluster"))
  }

  /** Blocked n-gram Jaccard near-dup pairs: block on caller-supplied
    * key columns, compare distinct token sets with integer threshold.
    * Small-corpus / pedagogical variant: a natural-key block (lang,
    * first token, ...) is Zipf-skewed — at corpus scale prefer
    * [[jaccardPairsMinK]], whose hash-derived blocks are uniform.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[Column], num: Int, den: Int): DataFrame = {
    // null-PROPAGATING block key (concat, not concat_ws): a null block
    // component must disqualify the row, exactly like the oracle's
    // SQL `||`. Empty-token docs are excluded outright - their 0/0
    // Jaccard would pass any threshold vacuously (same defect class
    // as the minhash sub-n-token fix).
    val blockKey = blockCols.map(_.cast("string"))
      .reduce((a, b) => concat(a, lit("\u0001"), b))
    val base = graft.Scratch.cache(df.select(
      col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("toks"),
      blockKey.as("block"))
      .filter(size(col("toks")) > 0 && col("block").isNotNull)
      ) // both self-join sides
    val a = base.select(col("block"), col("id").as("id_a"), col("toks").as("toks_a"))
    val b = base.select(col("block"), col("id").as("id_b"), col("toks").as("toks_b"))
    a.join(b, Seq("block")).filter(col("id_a") < col("id_b"))
      .withColumn("i_cnt", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("u_cnt", size(col("toks_a")) + size(col("toks_b")) - col("i_cnt"))
      .filter(col("i_cnt") * den >= col("u_cnt") * num)
      .select(col("id_a"), col("id_b"), col("i_cnt"), col("u_cnt"))
  }
}
