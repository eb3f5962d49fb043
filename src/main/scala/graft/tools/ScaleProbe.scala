package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.{Dedup, TextOps}

/** Empirical scaling evidence for the linear-output curation
  * operators: replicate the sf0.1 documents corpus x1/x2/x4 (fresh
  * doc_ids per replica) and time each operator end-to-end. An
  * operator whose plan is scale-correct shows ~linear wall time here;
  * a quadratic candidate generator or a driver-side bottleneck shows
  * super-linear immediately. Pair emitters (q23-q26 family) are
  * deliberately EXCLUDED: replicating the corpus duplicates every
  * document, so their OUTPUT grows quadratically by construction and
  * wall time follows the output, not the plan.
  *
  * Run: sbt "runMain graft.tools.ScaleProbe"
  */
object ScaleProbe {

  /** SPARK_GRAFT_PROBE=sub1,sub2 filters probes by label substring
    * (the Bench SPARK_GRAFT_ONLY convention) — lets a new operator's
    * probe run without repeating the full ~10-minute battery.
    */
  private val only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_PROBE").map(_.split(",").toSeq)
  private def enabled(label: String): Boolean =
    only.forall(_.exists(label.contains))

  /** SPARK_GRAFT_SCALES=1,128 overrides the replication points (the
    * leading 1 stays the untimed JIT warm-up). Default x2/x8/x32;
    * the x128 decade exists to time the headline dedup/ANN ops where
    * data, not per-job overhead, dominates.
    */
  private val scales: Seq[Int] =
    sys.env.get("SPARK_GRAFT_SCALES")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 2, 8, 32))

  private def time(label: String, k: Int)(df: => DataFrame): Unit = {
    if (!enabled(label)) return
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.foreach(_ => ())
    if (k > 1) // k=1 is the untimed warm-up round
      println(f"[scale] $label%-18s x$k%-2d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder.master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = base.count()
    // k=1 is an untimed warm-up (JIT + codegen); the timed points must
    // be large enough that per-job overhead stops dominating
    for (k <- scales) {
      // LAZY replica build: under SPARK_GRAFT_PROBE filters that
      // disable every probe in this loop, the k-way union + cache
      // never materializes (a x512+ union would cost minutes of
      // driver analysis for probes that then don't run)
      var docsForced = false
      lazy val docs = {
        val d = (0 until k).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * n)))
          .reduce(_ unionByName _)
          .cache()
        d.count() // materialize input outside the timed region
        docsForced = true
        d
      }
      time("exact_dedup", k)(Dedup.exactDedup(
        docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
        col("fp"), "doc_id"))
      time("repetition", k)(docs.select(col("doc_id"),
        TextOps.repetitionStats(col("text")).as("r")))
      time("top_ngrams", k)(docs
        .select(explode(TextOps.ngrams(col("text"), 3)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("g")).limit(100))
      time("token_budget", k)(TextOps.tokenBudgetSample(
        docs, "doc_id", "text", budget = 10000L, salt = "sp"))
      time("reshard", k)(TextOps.reshard(
        docs.select(col("doc_id")), "doc_id", 16, "sp"))
      time("passage_dedup", k)(TextOps.passageDedup(
        docs, "doc_id", "text", chunk = 16))
      time("mixture_sample", k)(TextOps.temperatureSample(
        docs, col("doc_id"), col("source")))
      if (k > 1 && enabled("bpe_learn")) { // learn() drives its own actions; time it wall-clock
        val t0 = System.nanoTime()
        graft.ops.Bpe.learn(spark, docs, "text", rounds = 4).collect()
        println(f"[scale] ${"bpe_learn(4)"}%-18s x$k%-2d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      }
      time("decontam_bloom", k) {
        val grams = docs.select(col("doc_id"),
          explode(TextOps.ngramsDistinct(col("text"), 8)).as("gram"))
        val test = grams.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("gram")).distinct().cache()
        val nTest = test.count()
        val bloom = graft.ops.BloomExpressions.buildLongBloom(test,
          xxhash64(col("gram")), expectedItems = nTest)
        grams.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .filter(graft.ops.BloomExpressions.mightContain(
            xxhash64(col("gram")), bloom))
          .join(graft.ops.Hints.broadcastIfSmall(test, nTest),
            Seq("gram"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      }
      // release diff of the replicated corpus against an edited copy —
      // the q105 shape: one id shuffle, hashes travel, text does not
      time("corpus_diff", k) {
        val a = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
          .select(col("doc_id"), col("source"),
            md5(col("text").cast("binary")).as("h_a"))
        val b = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
          .select(col("doc_id"), col("source").as("sb"),
            md5(concat(col("text"), when(pmod(col("doc_id"), lit(5)) === 0,
              lit(" v2")).otherwise(lit(""))).cast("binary")).as("h_b"))
        a.join(b, Seq("doc_id"), "full_outer")
          .select(coalesce(col("source"), col("sb")).as("source"),
            when(col("h_a").isNull, lit("added"))
              .when(col("h_b").isNull, lit("removed"))
              .when(col("h_a") =!= col("h_b"), lit("changed"))
              .otherwise(lit("unchanged")).as("status"))
          .groupBy(col("source"), col("status")).agg(count(lit(1)).as("n"))
      }
      // round-5 linear ops: per-doc outputs (pair emitters excluded —
      // replication makes their OUTPUT quadratic by construction)
      time("boilerplate", k)(TextOps.boilerplateStats(
        docs, "doc_id", "text", segLen = 8, maxDocs = 2))
      time("winnow_fps", k)(TextOps.winnowFingerprints(
        docs, "doc_id", "text")
        .groupBy(col("fp")).agg(count(lit(1)).as("df")))
      time("token_rarity", k)(TextOps.tokenRarity(docs, "doc_id", "text"))
      time("bigram_surprise", k)(TextOps.bigramSurprise(docs, "doc_id", "text"))
      time("match_dist", k)(TextOps.matchDistribution(docs, "doc_id", "lang",
        Seq("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15), "sp"))
      time("source_overlap", k)(Dedup.sourceOverlap(docs, "source", "text"))
      // audit family (q132-q135): per-doc signal extraction + domain-
      // sized aggregation — the frames past the first aggregate are
      // rule-, catalog-, or score-domain-sized, so wall time tracks
      // the scan alone. Replication also leaves winsorize cutoffs and
      // sweep ratios IDENTICAL (histogram counts scale k-fold, ranks
      // in permille don't) — asserted in AuditOpsSpec.
      time("redaction_audit", k)(graft.ops.Scrub.redactionAudit(
        docs, col("text"), col("source"),
        Seq(graft.ops.Scrub.Rule("stop_the", "the", "<T>"),
          graft.ops.Scrub.Rule("digit_run", "[0-9]{6,}", "<ID>"))))
      time("source_jac_exact", k)(Dedup.sourceOverlapExact(
        docs, "source", "text"))
      time("winsorize", k)(TextOps.winsorizedStats(
        docs, col("lang"), col("n_chars"), 50, 950))
      time("threshold_sweep", k) {
        val sig = docs.select(
          TextOps.qualitySignals(col("text")).as("q"),
          TextOps.repetitionStats(col("text")).as("r"))
        graft.ops.Eval.thresholdSweep(
          sig.select((col("q.n_distinct") * 2 + col("q.n_stop") * 3).as("s"),
            when(col("r.n_dup_bigrams") * 5 <= col("r.n_bigrams"), 1L)
              .otherwise(0L).as("l")),
          col("s"), col("l"))
      }
      if (k > 1 && enabled("heavy_hitters")) { // drives its own k-sized candidate collect
        val t0 = System.nanoTime()
        graft.ops.HeavyHitters.heavyHitters(
          docs.select((col("doc_id") % 97).cast("string").as("key")), "key", 16)
          .queryExecution.toRdd.foreach(_ => ())
        println(f"[scale] ${"heavy_hitters"}%-18s x$k%-2d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      }
      // statistics family (q137/q138/q144/q145/q147): every one
      // collapses to a domain-, catalog-, or histogram-sized frame
      // after one scan+shuffle, so wall time must track the scan.
      // Replication leaves AUC/KS/Gini bit-identical (asserted in
      // AuditOpsSpec); chi2 contributions scale exactly k-fold.
      time("group_auc", k) {
        val sig = docs.select(col("lang"),
          TextOps.qualitySignals(col("text")).as("q"),
          TextOps.repetitionStats(col("text")).as("r"))
        graft.ops.Eval.groupAuc(
          sig.select(col("lang"),
            (col("q.n_distinct") * 2 + col("q.n_stop") * 3).as("s"),
            when(col("r.n_dup_bigrams") * 5 <= col("r.n_bigrams"), 1L)
              .otherwise(0L).as("l")),
          col("lang"), col("s"), col("l"))
      }
      time("ks_drift", k)(graft.ops.Eval.ksDrift(
        docs, col("source"), col("n_chars")))
      time("chi2_indep", k)(graft.ops.Eval.chi2Independence(
        docs, col("source"), col("lang")))
      time("vocab_richness", k)(TextOps.vocabRichness(
        docs, col("source"), col("text")))
      time("encoding_audit", k)(graft.ops.Scrub.encodingAudit(
        docs, col("text"), col("source")))
      time("ols_trend", k)(graft.ops.Eval.olsTrend(
        docs, col("source"), col("doc_id"), col("n_chars")))
      time("key_skew", k)(graft.ops.Skew.keySkewProfile(
        docs, pmod(col("doc_id"), lit(997L))))
      // DSIR weights (q157): two bucket-keyed passes + one doc-keyed
      // aggregate — the bucket stats table is feature-space-sized at
      // any corpus scale, so wall time must track the scan
      time("importance_w", k)(TextOps.importanceWeights(
        docs, "doc_id", "text", col("lang") === "en",
        buckets = 4096, selectThreshold = 440000L))
      // k-anonymity (q158) / calibration (q159): value-domain frames
      // after one scan — replication scales counts k-fold and leaves
      // permille shares identical
      time("k_anonymity", k)(graft.ops.Scrub.kAnonymity(docs,
        Seq(col("source"), col("lang"), expr("n_chars DIV 100")),
        Seq(2, 5, 10)))
      time("calib_bins", k) {
        val sig = docs.select(
          TextOps.qualitySignals(col("text")).as("q"),
          TextOps.repetitionStats(col("text")).as("r"))
        graft.ops.Eval.calibrationBins(
          sig.select((col("q.n_distinct") * 2 + col("q.n_stop") * 3).as("s"),
            when(col("r.n_dup_bigrams") * 5 <= col("r.n_bigrams"), 1L)
              .otherwise(0L).as("l")),
          col("s"), col("l"), nbins = 10)
      }
      // span layer (q161/q162): gram-keyed dup set + doc-keyed island
      // merge — per-doc output bounded by doc length, so linear.
      // (Replication makes every gram cross-doc-duplicated, which
      // maximizes the hit density — a worst-case timing, not a skew.)
      time("dup_spans", k) {
        val grams = docs.select(col("doc_id"),
          posexplode(TextOps.ngrams(col("text"), 8)).as(Seq("pos", "gram")))
        val dup = grams.groupBy(col("gram"))
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select(col("gram"))
        graft.ops.Spans.mergeSpans(
          grams.join(dup, Seq("gram"), "left_semi")
            .select(col("doc_id"), col("pos")), "doc_id", "pos", 8)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      }
      // NB classifier (q163): model frame is vocabulary x classes-
      // sized (fixed under replication); apply is |C| x test tokens
      time("nb_confusion", k)(graft.ops.NaiveBayes.confusion(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "lang", "text"))
      // collocations (q164): vocabulary-sized count frames, broadcast
      // joins, TakeOrderedAndProject top-k
      time("collocations", k)(TextOps.collocations(
        docs, "text", k = 50, minCount = 5))
      // Spearman (q167): per-axis rank window within each source
      time("spearman", k)(graft.ops.Eval.spearman(
        docs, col("source"), col("n_chars"), col("doc_id") % 1000))
      // modularity (q166) over a synthetic linear-sized edge chain
      // (pair emitters are excluded by policy; the REPORT itself is
      // what must scale linearly in edges)
      time("modularity", k) {
        val chain = docs.select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
        graft.ops.GraphOps.modularity(chain,
          chain.select(col("id_a").as("node"),
            expr("id_a DIV 64").as("community")))
      }
      // round-6 ops (q174-q184 batch): all per-doc or domain-bounded
      // outputs — replication multiplies counts, never pair spaces.
      // crossLabelLeakage: replicas carry the SAME labels, so the
      // label-set collapse is identical and output is constant in k.
      time("lm_surprisal", k)(TextOps.lmSurprisal(docs, "doc_id", "text"))
      time("repeat_runs", k)(TextOps.repeatRuns(docs, "doc_id", "text"))
      time("cross_leakage", k)(TextOps.crossLabelLeakage(
        docs, "doc_id", col("lang"), "text", n = 8))
      time("curriculum", k)(TextOps.curriculumPhases(docs, "doc_id",
        col("n_chars"), TextOps.tokenCount(col("text")), phases = 3))
      time("prefix_templates", k)(TextOps.prefixTemplates(
        docs, col("source"), "text", k = 6))
      // round-7 ops: DSIR = two bucket-keyed gram passes + one
      // doc-keyed aggregate (ratio table is 64 rows at any scale);
      // frame dedup = the mapPartitions digest kernel + one
      // digest-keyed aggregate. Both linear per-doc shapes.
      time("dsir_scores", k)(TextOps.dsirScores(docs, "doc_id", "text",
        pmod(col("doc_id"), lit(10)) <= 2, nBuckets = 64))
      time("frame_dedup", k)(graft.ops.Multimodal.sampleFrames(
        graft.ops.Multimodal.synthesizePayload(docs, "text"),
        "doc_id", "payload", frameBytes = 100)
        .groupBy(col("frame_digest"))
        .agg(count(lit(1)).as("n_frames"))
        .filter(col("n_frames") >= 2))
      // round-10 multi-frame path: encode + REAL JDK GIF decode of
      // 3-5 frames per clip, then the fingerprint-keyed dedup
      // aggregate (q222's shape) — per-clip work is constant, so
      // the whole chain must scale linearly in k. The clip-id frame
      // is a PRUNED range, not the wide cached union: the media
      // chain composes three .rdd conversions, and each re-analyzes
      // its whole lineage — over the k-branch full-schema union that
      // driver-side analysis tax is 4-8x the actual decode work with
      // run-to-run swings (SCALING.md round-10 media probes, trap 1; the
      // same k-way-union lesson as the embedding loop's crossJoin
      // replication note). Same ids, same clips, same decode volume.
      val clipIds = spark.range(n * k).select(col("id").as("doc_id"))
      time("gif_frame_decode", k)(graft.ops.Multimodal.decodeFrames(
        graft.ops.Multimodal.synthesizeVideos(clipIds, "doc_id"),
        "id", "payload")
        .groupBy(col("sum_gray"), col("frame_checksum"))
        .agg(count(lit(1)).as("n_frames"))
        .filter(col("n_frames") >= 2))
      time("frame_features", k)(graft.ops.Multimodal.extractFrameFeatures(
        graft.ops.Multimodal.synthesizeVideos(clipIds, "doc_id"),
        "id", "payload", dims = 8)
        .select(sum(element_at(col("features"), 1)).as("s")))
      // audio fingerprint on-ramp (q250): encode + REAL JDK WAV
      // decode + strided pooling — per-clip work constant (256-383
      // samples), so linear in k like the other media chains
      time("audio_fingerprint", k)(graft.ops.Multimodal.extractAudioFeatures(
        graft.ops.Multimodal.synthesizeAudio(clipIds, "doc_id"),
        "id", "payload", dims = 8)
        .select(sum(element_at(col("features"), 1)).as("s")))
      graft.Scratch.release()
      if (docsForced) docs.unpersist()
    }
    // Banded dedup + CC at scale. The pair emitters are excluded from
    // the loop above because IDENTICAL replicas make their OUTPUT
    // quadratic by construction (every doc gains k-1 exact twins).
    // Suffixing every token with its replica index instead makes each
    // replica its own near-dup universe: within-replica shingle
    // equality — and therefore the entire pair structure — is
    // preserved exactly (all tokens of replica i carry the same
    // suffix), while cross-replica shingles can never collide. True
    // output is exactly k-fold the base output, so a scale-correct
    // banded plan must show ~linear wall time here.
    for (k <- scales) {
      var docsForced = false
      lazy val docs = { // lazy: see the first replica loop
        val d = (0 until k).map { i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * n))
            .withColumn("text", concat_ws(" ",
              transform(split(col("text"), " "),
                t => concat(t, lit("\u0001" + i.toString)))))
        }.reduce(_ unionByName _).cache()
        d.count()
        docsForced = true
        d
      }
      // round-10 BM25 (q260's shape): postings aggregate + broadcast
      // query-term joins — one corpus tokenization pass dominates, so
      // the fit should be ~linear in k (query count fixed)
      time("bm25_topk", k)(TextOps.bm25TopK(docs, "doc_id", "text",
        nQueries = 5, qTerms = 4, topK = 10, gram = 2))
      graft.Scratch.release()
      time("minhash_band_lsh", k)(Dedup.minhashPairs(docs, "doc_id", "text",
        n = 3, bands = 4, rows = 4, num = 1, den = 2))
      graft.Scratch.release()
      time("simhash120_pairs", k)(Dedup.simhashPairs120(
        docs, "doc_id", "text", maxDist = 8))
      graft.Scratch.release()
      // Connected components on a k-fold chain graph (n-1 edges and
      // one n-diameter component per replica: iteration count is set
      // by the DIAMETER — constant in k — while per-iteration work is
      // linear in k, the shape that isolates the loop's scaling).
      // cap=0 forces the DISTRIBUTED min-label + pointer-doubling
      // path — the one that runs at 100 TB — not the driver replay.
      if (k > 1 && enabled("cc_distributed")) {
        val edges = docs.select(col("doc_id").as("id_a"),
            (col("doc_id") + 1).as("id_b"))
          .filter(pmod(col("id_a"), lit(n)) =!= (n - 1))
        val t0 = System.nanoTime()
        Dedup.connectedComponents(edges, maxIters = 25, driverMaxEdges = 0L)
          .queryExecution.toRdd.foreach(_ => ())
        println(f"[scale] ${"cc_distributed"}%-18s x$k%-2d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        graft.Scratch.release()
      }
      if (docsForced) docs.unpersist()
    }
    // embedding-side linear ops (q100 shape): replicate the vector
    // corpus; the audit's shuffles stay dimension-sized regardless of k
    val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val embN = embBase.count()
    for (k <- scales) {
      // k-way replication as ONE range crossJoin, not a k-way union:
      // identical replica rows and the same shifted-id scheme, but
      // plan analysis stays O(1) in k (a 512-way union costs minutes
      // of driver-side analysis before a single task runs — at the
      // x512/x2048 decades that fixed cost would drown the signal
      // being measured). The 1-row-per-replica range side broadcasts.
      var embForced = false
      lazy val emb = { // lazy: see the first replica loop
        val e = embBase.crossJoin(
            broadcast(spark.range(k).select(col("id").as("_rep"))))
          .withColumn("vec_id", col("vec_id") + col("_rep") * lit(embN))
          .drop("_rep")
          .repartition(32).cache()
        e.count()
        embForced = true
        e
      }
      time("quantize_audit", k)(
        graft.ops.Quantize.quantizeAudit(emb, "embedding"))
      time("embedding_audit", k)(
        graft.ops.Quantize.embeddingAudit(emb, "embedding"))
      time("centroid_dist", k)(graft.ops.Quantize.centroidDistances(
        emb, "embedding", col("label"), dims = 64))
      // probe count fixed -> cost is nProbes x corpus, linear in k
      time("trunc_recall", k)(graft.ops.Similarity.truncationRecall(
        emb, "vec_id", "embedding", nProbes = 10, k = 10, prefixDims = 16))
      // round-10 SQ8 ADC recall (q259's shape): one stats pass (dims
      // rows to the driver) + probes x corpus through two fused long
      // kernels — linear in k, same class as trunc_recall. Drives its
      // own action (the stats collect) -> wall clock.
      if (enabled("sq8_recall")) { // runs at k=1 too: untimed JIT warm-up
        val t0 = System.nanoTime()
        graft.ops.Quantize.sq8AdcRecall(
          emb, "vec_id", "embedding", dims = 64, nProbes = 10, k = 10)
          .queryExecution.toRdd.foreach(_ => ())
        if (k > 1)
          println(f"[scale] ${"sq8_recall"}%-18s x$k%-2d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        graft.Scratch.release()
      }
      // SemDeDup's LINEAR stages (q156): Lloyd fit + assignment are
      // broadcast-centroid passes (drives its own per-round actions
      // -> wall clock). The within-cell prune is excluded: replicas
      // are IDENTICAL vectors, so replication packs each cell with
      // cos=1 pairs and the candidate count grows quadratically by
      // construction, like the pair emitters above.
      if (k > 1 && enabled("semdedup_fit")) {
        val t0 = System.nanoTime()
        graft.ops.SemDedup.fixedPointCentroids(
          emb, "vec_id", "embedding", k = 8, dims = 64, iters = 2)
        println(f"[scale] ${"semdedup_fit"}%-18s x$k%-2d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        graft.Scratch.release()
      }
      // round-10 cluster-quality card (q252's shape): the Lloyd fit
      // plus three fused zero-shuffle projections and a k-row
      // aggregate — expected to track semdedup_fit (the fit
      // dominates; the card adds ~1 corpus scan). Drives its own
      // per-round actions -> wall clock.
      if (k > 1 && enabled("cluster_quality")) {
        val t0 = System.nanoTime()
        graft.ops.SemDedup.clusterQuality(
          emb, "vec_id", "embedding", k = 8, dims = 64, iters = 2)
          .queryExecution.toRdd.foreach(_ => ())
        println(f"[scale] ${"cluster_quality"}%-18s x$k%-2d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        graft.Scratch.release()
      }
      // round-10 filtered IVF probe (q245's pre-filter strategy):
      // one routed, predicate-restricted scan — candidate volume is
      // selectivity x nprobe/cells of the corpus, linear in k.
      // Drives its own actions (ivfCentroids collects) -> wall clock.
      if (k > 1 && enabled("filtered_ivf")) {
        val t0 = System.nanoTime()
        val cents = graft.ops.Similarity.ivfCentroids(
          emb, "vec_id", "embedding", k = 16, iters = 1, sampleMod = 4)
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0)
          .toArray.map(_.toDouble)
        graft.ops.Similarity.topKCosineIvfFiltered(emb, "vec_id",
          "embedding", q, 10, cents, nprobe = 4,
          pmod(col("vec_id"), lit(10)) === 0)
          .queryExecution.toRdd.foreach(_ => ())
        println(f"[scale] ${"filtered_ivf"}%-18s x$k%-2d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        graft.Scratch.release()
      }
      // PQ encode + ADC probe scoring (q185/q186 shapes): codebook
      // fits and assignment are broadcast-centroid passes, the ADC
      // table is (nProbes x m x k) — both linear in the corpus.
      // Drives its own actions (lloyd collects) -> wall clock.
      if (k > 1 && enabled("pq_adc")) {
        val t0 = System.nanoTime()
        graft.ops.Quantize.pqAdcRecall(emb, "vec_id", "embedding",
          dims = 64, m = 2, k = 4, iters = 1, nProbes = 5, topK = 10)
          .queryExecution.toRdd.foreach(_ => ())
        println(f"[scale] ${"pq_adc"}%-18s x$k%-2d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        graft.Scratch.release()
      }
      if (embForced) emb.unpersist()
    }
    // event-side linear ops: anomaly flags (q103) and the z-order
    // layout audit (q106) — both reduce to key-bounded aggregates
    val evBase = graft.queries.Registry.table(spark, "/root/testdata/sf0.1", "events")
    val evN = evBase.count()
    for (k <- scales) {
      var evForced = false
      lazy val ev = { // lazy: see the first replica loop
        val e = (0 until k).map(i =>
          evBase.withColumn("event_id", col("event_id") + lit(i * evN)))
          .reduce(_ unionByName _).cache()
        e.count()
        evForced = true
        e
      }
      time("anomaly_minutes", k) {
        val cnt = ev.select(expr("ts DIV 60000000000").as("minute"))
          .groupBy(col("minute")).agg(count(lit(1)).as("cnt"))
        val st = cnt.agg(count(lit(1)).as("nm"),
          sum(col("cnt")).as("s"), sum(expr("cnt * cnt")).as("ss"))
        cnt.crossJoin(broadcast(st))
          .withColumn("dev_n", expr("nm * cnt - s"))
          .withColumn("flag", (col("dev_n") > 0 &&
            expr("dev_n * dev_n > 9 * (nm * ss - s * s)")).cast("long"))
      }
      time("zorder_audit", k) {
        val pts = ev.select(pmod(col("user_id"), lit(1024L)).as("x"),
          pmod(expr("ts DIV 1000000000"), lit(1024L)).as("y"))
        pts.groupBy(shiftright(
            graft.ops.Layout.morton(col("x"), col("y"), 10), 10).as("bucket"))
          .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y")),
            count(lit(1)))
      }
      if (evForced) ev.unpersist()
    }
    // streaming-state scaling: input grows k-fold, state must not
    if (enabled("stream_state"))
      for (k <- Seq(2, 8)) streamStateProbe(spark, k)
    spark.stop()
  }

  /** The 100 TB streaming argument, measured instead of asserted: the
    * q92/q96 stateful operators hold state bounded by the WATERMARK
    * HORIZON, not by input size. Replicate the events stream k-fold
    * in TIME (replica i shifted by i * span, one file per replica, so
    * each micro-batch is a time-contiguous slice and the watermark
    * advances between batches), run with a horizon much shorter than
    * the total span, and record the max state-store rows the engine
    * reports: input grows k-fold, max state stays ~flat.
    */
  private def streamStateProbe(spark: SparkSession, k: Int): Unit = {
    import org.apache.spark.sql.streaming.OutputMode
    val ev = graft.queries.Registry.table(spark, "/root/testdata/sf0.1", "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts DIV 1000").as("tsu"))
    val mm = ev.agg(min(col("tsu")), max(col("tsu"))).head()
    val span = mm.getLong(1) - mm.getLong(0) + 3600L * 1000000L
    val nIn = ev.count() * k
    val dir = s"/tmp/graft_scaleprobe_stream_$k"
    (0 until k).foreach { i =>
      ev.withColumn("tsm", timestamp_micros(col("tsu") + lit(i * span)))
        .drop("tsu")
        .coalesce(1).write
        .mode(if (i == 0) "overwrite" else "append").parquet(dir)
    }
    val schema = spark.read.parquet(dir).schema
    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    def maxState(q: org.apache.spark.sql.streaming.StreamingQuery): Long = {
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
    }
    // q92 shape: watermark-bounded exact dedup, 60-min horizon << span
    val dedupState = maxState(graft.streaming.StreamingAnalyzer
      .dedupStream(src.select(col("tsm").as("timestamp"),
        col("event_type").as("query"),
        col("event_id").cast("string").as("primary_key")),
        Seq("query", "primary_key"), "timestamp", "60 minutes")
      .writeStream.outputMode(OutputMode.Append).format("noop").start())
    println(f"[scale] stream_dedup_state  x$k%-2d input=$nIn%9d maxStateRows=$dedupState")
    // q96 shape: stream-stream interval join, both sides watermarked
    def side(tpe: String, idAs: String, userAs: String, tsAs: String) =
      src.filter(col("event_type") === tpe)
        .select(col("user_id").as(userAs), col("event_id").as(idAs),
          col("tsm").as(tsAs))
    val joinState = maxState(graft.streaming.StreamingAnalyzer
      .intervalJoinStream(
        side("signup", "signup_id", "l_user", "lts"),
        side("purchase", "purchase_id", "r_user", "rts"),
        joinKey = "l_user = r_user", leftTs = "lts", rightTs = "rts",
        within = "1 HOUR", watermark = "60 minutes")
      .writeStream.outputMode(OutputMode.Append).format("noop").start())
    println(f"[scale] stream_join_state   x$k%-2d input=$nIn%9d maxStateRows=$joinState")
  }
}
