package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.SemDedup

/** CLI: ANN index BUILD / SEARCH split with persisted artifacts — the
  * production retrieval shape (index once, probe many) composed from
  * the library's exact-integer primitives:
  *
  *   - IVF coarse router: fixed-point Lloyd cells over the full
  *     vectors ([[SemDedup]]'s integer k-means contract), persisted
  *     as a (cell, i, c) centroid frame + (id, cell) assignments;
  *   - PQ payload: m per-subspace codebooks + per-vector codes
  *     ([[graft.ops.Quantize.pqCodes]]'s layout in long form), so the
  *     search set ships log2(k)-bit codes, not vectors.
  *
  * Storage goes through [[Artifacts]] (round 13): artifacts are
  * manifest-listed SEGMENTS, and the corpus-sized membership
  * artifacts (`assignments`, `pq_codes`, `sq8_codes`) are PARTITIONED
  * by a BOUNDED cell bucket `cb = pmod(cell, 64)` with `cell` a
  * sorted data column — so build/update/compact writes parallelize
  * across `repartition(cb)` tasks (the round-12 `weak` was one
  * `coalesce(1)` task writing the whole index), the serve path's
  * probed-cell restriction prunes whole bucket DIRECTORIES
  * (PartitionFilters on cb) then row groups (min/max on the sorted
  * cell column), and every
  * command publishes in ONE atomic manifest flip — compact never
  * overwrites the files it reads, so a crash mid-compact leaves the
  * prior index serving byte-identically (IndexCorpusSpec's crash
  * test). Model artifacts (centroids, codebooks, sq8 ranges, summary)
  * are catalog-sized single segments.
  *
  * Search routes a probe to its `nprobe` nearest cells (driver math
  * on the catalog-sized centroid frame), scores ONLY those cells'
  * members by ADC (probe slices vs codebook entries, one broadcast
  * join), and returns the top-k (id, adc). Global-PQ simplification:
  * codes quantize the raw vectors, not per-cell residuals — the
  * standard first rung of the IVF-PQ ladder; `--residual true` is the
  * second rung (same artifact layout, flag recorded in `summary`).
  *
  * Every artifact is integer-exact parquet, so a rebuilt index is
  * byte-identical and IndexCorpusSpec can re-derive a search answer
  * from the persisted files alone.
  *
  * An optional SECOND storage tier, `--sq8 true`, persists int8
  * scalar-quantization artifacts alongside PQ: `sq8_ranges` (per-dim
  * lo/width, the [[graft.ops.Quantize.quantizeAudit]] formulas) and
  * `sq8_codes` (per-vector codes packed ONE BYTE per dimension into
  * a binary column — 64 B/vector at dims = 64, the real 4x vs
  * fp32). `search --tier sq8` then ADC-scores the
  * probed cells against SQ8 reconstructions instead of PQ tables —
  * the measured ladder (RECALL.md round 10: SQ8 9.9/10 vs PQ 0.8/10
  * recall@10) made concrete as a serving choice per query.
  *
  * The GRAPH tier (round 13) completes the serving ladder: `graph`
  * persists a kNN graph over the corpus
  * ([[graft.ops.Similarity.knnGraph]] — LSH-blocked candidates, exact
  * cosine verify, per-node top-deg; q274's kernel), partitioned by an
  * id bucket, and `search --tier graph` runs a deterministic BEAM
  * traversal over it: seeds from the IVF router's probed cells, then
  * `--hops` rounds of expand-score-prune (each hop reads only the
  * frontier's adjacency rows — pushed literal `id IN` + bucket
  * partition filter — and scores only NEW candidates by pushed
  * literal id lookups against the float source). Per-hop cost is
  * O(beam x degree) rows however large the corpus; recall vs the
  * exact tier is measured in RECALL.md's ladder.
  *
  * Usage:
  *   runMain graft.tools.IndexCorpus build <emb.parquet> <indexDir>
  *     [--id vec_id] [--vec embedding] [--dims 64] [--ivf-k 8]
  *     [--pq-m 2] [--pq-k 4] [--iters 1] [--residual true]
  *     [--sq8 true]
  *   runMain graft.tools.IndexCorpus update <indexDir> <newEmb.parquet>
  *     [--id vec_id] [--vec embedding]
  *   runMain graft.tools.IndexCorpus delete <indexDir> <ids.parquet>
  *     [--id vec_id]
  *   runMain graft.tools.IndexCorpus compact <indexDir>
  *     [--threshold <permille>]
  *   runMain graft.tools.IndexCorpus graph <indexDir> <emb.parquet>
  *     [--id vec_id] [--vec embedding] [--deg 3]
  *     [--planes N]      # default: AUTO-SIZED from the input count
  *                       # (bands x log2(n/250), floor 12 — the
  *                       # SCALING.md round-15 resolution rule)
  *     [--bands 2] [--min-cos -1.0] [--gbuckets 16]
  *     [--append true]   # fold NEW vectors in, == full rebuild
  *   runMain graft.tools.IndexCorpus search <indexDir> <emb.parquet>
  *     <probeId> [--id vec_id] [--vec embedding] [--k 10] [--nprobe 2]
  *     [--filter "<sqlExpr over id, cell>"] [--rerank N]
  *     [--tier sq8|exact|graph] [--beam 8] [--hops 2]
  *     [--at <manifestVersion>]
  *   runMain graft.tools.IndexCorpus searchBatch <indexDir>
  *     <emb.parquet> <probes.parquet> [--id vec_id] [--vec embedding]
  *     [--k 10] [--nprobe 2] [--tier pq|sq8|graph]
  *     [--filter "<sqlExpr>"] [--rerank N] [--beam 8] [--hops 2]
  *     [--max-broadcast-probes 65536] [--at <manifestVersion>]
  *   runMain graft.tools.IndexCorpus history <indexDir>
  *   runMain graft.tools.IndexCorpus export <srcIndexDir> <dstIndexDir>
  *     [--at <manifestVersion>]
  *   runMain graft.tools.IndexCorpus fsck <indexDir>
  *   runMain graft.tools.IndexCorpus contention <indexDir>
  *
  * The lifecycle shared with [[LexIndex]] — delete, compact, history,
  * export, fsck, contention, the retention flags every mutating
  * command accepts, and the `--at V` TIME-TRAVEL read of
  * `search`/`searchBatch` (q301 proves it with the full-corpus sq8
  * oracle through a post-delete index) — lives in [[IndexLifecycle]];
  * this object supplies the vector artifacts, kernels and audits.
  */
object IndexCorpus extends IndexLifecycle {

  protected def appName = "graft-index"
  protected def familyCommands = Seq(
    "build" -> (build _), "update" -> (update _), "graph" -> (graph _),
    "search" -> (search _), "searchBatch" -> (searchBatch _))
  protected def members = "assignments"
  protected def idColumn = "vec_id"

  /** The membership artifacts' partition key is a BOUNDED bucket of
    * the IVF cell — `cb = pmod(cell, 64)` — with `cell` kept as a
    * sorted DATA column. The first round-13 decade partitioned by raw
    * `cell` and measured the failure mode directly: a scaled router
    * (ivf_k = 1024 at x128) put 1024 directories under every segment
    * and serve latency tripled on listing alone, compact quadrupled.
    * The bucket caps directory count at any router size; the probed
    * cells still prune as `cb IN` PartitionFilters (whole
    * directories) followed by `cell IN` row-group min/max pruning on
    * the sorted column.
    */
  private val cellBuckets = 64L
  private def cellBucket(buckets: Long = cellBuckets)
      : Option[Artifacts.Bucket] =
    Some(Artifacts.Bucket("cb", pmod(col("cell"), lit(buckets)),
      Seq("cell")))

  /** Restrict a cell-keyed frame to the probed cells: the bucket
    * column prunes directories (PartitionFilters), the cell column
    * prunes row groups within them.
    */
  private def restrictCells(df: DataFrame, cells: Seq[Long],
      buckets: Long): DataFrame =
    df.filter(col("cb").isin(cells
        .map(c => Long.box(((c % buckets) + buckets) % buckets))
        .distinct: _*))
      .filter(col("cell").isin(cells.map(Long.box): _*))

  private def cellBucketsOf(snap: Artifacts.Snapshot): Long =
    summaryVal(snap, "cbuckets").getOrElse(cellBuckets)

  /** The graph artifact's pruning key: an arithmetic id bucket, so
    * the traversal derives the frontier's buckets with driver math
    * (no hash job per hop). The count is a BUILD-TIME knob
    * (`graph --gbuckets N`) recorded in graph_meta; every later
    * command (traversal AND compact rewrite) derives the bucket from
    * the persisted value — never this compile-time default — so the
    * partition math always matches what the graph was written with.
    */
  private val graphBuckets = 16L
  private def graphBucket(buckets: Long): Option[Artifacts.Bucket] =
    Some(Artifacts.Bucket("gb", pmod(col("id"), lit(buckets)),
      Seq("id")))

  private def graphBucketsOf(snap: Artifacts.Snapshot): Long =
    if (!snap.has("graph_meta")) graphBuckets
    else snap.collectKV("graph_meta").getOrElse("gbuckets", graphBuckets)

  /** Summary lookup BY NAME from the (key, value) `summary` catalog
    * artifact (driver-side, memoized — see
    * [[Artifacts.Snapshot.collectKV]]).
    */
  private def summaryVal(snap: Artifacts.Snapshot, key: String): Option[Long] =
    snap.collectKV("summary").get(key)

  private def summaryFlag(snap: Artifacts.Snapshot, key: String): Boolean =
    summaryVal(snap, key).contains(1L)

  /** Compact plan, vector arm: the membership artifacts rewrite
    * without the deleted ids, per-cell-partitioned with the bucket
    * count the index was WRITTEN with (cellBucketsOf); knn_graph
    * rewrites with graph_meta's gbuckets — a compact must never
    * silently re-partition the graph while graph_meta still
    * advertises the old count. The model artifacts (centroids,
    * codebooks, sq8 ranges, summary) are untouched — compaction is a
    * membership rewrite, never a retrain.
    */
  protected def compactPlan(base: Artifacts.Snapshot,
      thresholdPm: Option[Long]): Seq[(String, Boolean, Option[Artifacts.Bucket])] = {
    val cb = cellBucket(cellBucketsOf(base))
    Seq(("assignments", true, cb), ("pq_codes", true, cb),
      ("sq8_codes", true, cb),
      ("knn_graph", true, graphBucket(graphBucketsOf(base))))
  }

  /** radii are CELL-keyed, so the tombstone anti-join does not apply —
    * compact folds the appended per-ingest maxes to one row per cell.
    * Post-delete radii may overestimate (max over fewer members),
    * which only weakens the exact tier's pruning, never its answers.
    */
  override protected def compactFolds(spark: SparkSession,
      base: Artifacts.Snapshot,
      pend: Map[String, Seq[String]]): Map[String, Seq[String]] =
    if (!base.has("ivf_radii")) pend
    else Artifacts.withReplaced(spark, base.idx, pend, "ivf_radii",
      base.read("ivf_radii").groupBy(col("cell")).agg(max(col("r2")).as("r2")))

  /** Build the index artifacts; returns (artifact, rows) per write.
    * `--residual true` quantizes each vector's RESIDUAL against its
    * IVF cell centroid instead of the raw vector (the second rung of
    * the IVF-PQ ladder: the router absorbs the coarse structure, so
    * the codebooks spend their bits on what remains). Artifact layout
    * is identical; the flag is recorded in `summary` and honored by
    * [[search]].
    */
  def build(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2, "usage: build <emb.parquet> <indexDir> [flags]")
    val (in, out) = (args(0), args(1))
    val flags = flagsOf(args, 2)
    val idCol = flags.getOrElse("id", "vec_id")
    val vecCol = flags.getOrElse("vec", "embedding")
    val dims = flags.getOrElse("dims", "64").toInt
    val ivfK = flags.getOrElse("ivf-k", "8").toInt
    val pqM = flags.getOrElse("pq-m", "2").toInt
    val pqK = flags.getOrElse("pq-k", "4").toInt
    val iters = flags.getOrElse("iters", "1").toInt
    val residual = flags.getOrElse("residual", "false").toBoolean
    require(dims % pqM == 0, s"pq-m must divide dims; got $pqM, $dims")
    val sub = dims / pqM
    GraftSession.tune(spark)
    import spark.implicits._

    // float source cached; the micros view recomputes per pass via
    // the fused kernel (caching derived long-array columns measured
    // 30-100x the recompute cost at millions of rows — SCALING.md r8)
    val srcF = graft.Scratch.cache(
      spark.read.parquet(in).filter(size(col(vecCol)) === dims)
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("v")))
    val base = srcF.select(col("id"),
      SemDedup.microsVec(col("v")).as("mv"))
    var pend = Map.empty[String, Seq[String]]
    val written = Seq.newBuilder[(String, Long)]
    // counted writes (round 17): the returned/summary row counts are
    // captured DURING each segment write (Dataset.observe) — the
    // previous shape re-read every artifact it had just written as a
    // separate count job (8-9 extra jobs per build; at scale a second
    // full pass over fresh output). Catalog-sized frames built from
    // driver-local Seqs additionally coalesce(1): a LocalRelation
    // write otherwise fans a 256-row centroid table across
    // defaultParallelism tasks — 32 part files whose per-file
    // open/footer cost is pure overhead on every later read (guide
    // §6, small files).
    def write(name: String, df: DataFrame,
        bucket: Option[Artifacts.Bucket] = None): Unit = {
      val (seg, rows, _) =
        Artifacts.writeSegmentCounted(spark, out, name, df, bucket)
      pend += name -> Seq(seg)
      written += (name -> rows)
    }

    // IVF router: full-dim fixed-point cells + assignments + per-cell
    // RADII (max member squared distance — the triangle-inequality
    // bound `--tier exact` prunes with; one cached assignment pass
    // feeds both artifacts)
    val cells = SemDedup.lloyd(base, ivfK, dims, iters)
    write("ivf_centroids", cells.zipWithIndex.flatMap { case (c, j) =>
      c.zipWithIndex.map { case (v, i) => (j.toLong, i.toLong, v) }
    }.toSeq.toDF("cell", "i", "c").coalesce(1))
    val asgnAll = graft.Scratch.cache(SemDedup.assignDist(base, cells))
    val cellOf = asgnAll
      .select(col("id"), col("cluster").cast("long").as("cell"))
    write("assignments", cellOf, cellBucket())
    write("ivf_radii", asgnAll
      .groupBy(col("cluster").cast("long").as("cell"))
      .agg(max(col("d")).as("r2")).coalesce(1))

    // Encoding input: raw vectors, or residuals against the cell
    // centroid (one broadcast join + a zip_with — still one narrow
    // pass over the corpus)
    val encBase =
      if (!residual) base
      else {
        val centsDf = cells.zipWithIndex
          .map { case (c, j) => (j.toLong, c.toSeq) }.toSeq.toDF("cell", "cv")
        graft.Scratch.cache(base
          .join(cellOf, Seq("id"))
          .join(broadcast(centsDf), Seq("cell"))
          .select(col("id"),
            zip_with(col("mv"), col("cv"), (a, b) => a - b).as("mv")))
      }

    // PQ payload: per-subspace codebooks + long-form codes. Slices
    // derive per pass (narrow kernel + slice over the cached float
    // source / materialized residual) — no derived-array caches.
    // Codes carry the CELL key as their PARTITION column: search
    // meets the code artifact with a literal `cell IN (...)` that
    // prunes whole directories.
    val slices = (0 until pqM).map { s =>
      encBase.select(col("id"),
        slice(col("mv"), s * sub + 1, sub).as("mv"))
    }
    val books = slices.map(sl => SemDedup.lloyd(sl, pqK, sub, iters))
    write("pq_codebooks", books.zipWithIndex.flatMap { case (b, s) =>
      b.toSeq.zipWithIndex.flatMap { case (c, j) =>
        c.toSeq.zipWithIndex.map { case (v, i) =>
          (s.toLong, j.toLong, i.toLong, v)
        }
      }
    }.toDF("s", "j", "i", "c").coalesce(1))
    write("pq_codes", (0 until pqM).map { s =>
      SemDedup.assignDist(slices(s), books(s))
        .select(col("id"), lit(s.toLong).as("s"),
          col("cluster").cast("long").as("code"))
    }.reduce(_ unionByName _)
      .join(cellOf, Seq("id"))
      .select(col("id"), col("s"), col("code"), col("cell")),
      cellBucket())

    // optional SQ8 tier: per-dim range table + per-vector code arrays
    val sq8 = flags.getOrElse("sq8", "false").toBoolean
    if (sq8) {
      val rangesDf = base
        .select(posexplode(col("mv")).as(Seq("i", "m")))
        .groupBy(col("i"))
        .agg(min(col("m")).as("lo"), (max(col("m")) - min(col("m"))).as("wd"))
        .select(col("i").cast("long").as("i"), col("lo"), col("wd"))
        .coalesce(1) // dims rows — one file, one footer
      write("sq8_ranges", rangesDf)
      // the build's working state: no base manifest, only its pending
      // segments
      val (lo, wd) = rangeArrays(Artifacts.Snapshot(out, -1L, pend)(spark), dims)
      // ONE BYTE per dimension on disk (64 B/vector at dims = 64 —
      // the real 4x-vs-fp32 artifact, not longs a parquet encoder
      // merely dictionary-packs); cell partition key for the pushed
      // probed-cell restriction at search time
      write("sq8_codes", base.select(col("id"),
        graft.ops.VectorExpressions.sq8PackBytes(col("mv"), lo, wd)
          .as("codes"))
        .join(cellOf, Seq("id"))
        .select(col("id"), col("codes"), col("cell")), cellBucket())
    }

    val res = written.result()
    write("summary",
      (Seq(("dims", dims), ("ivf_k", ivfK), ("pq_m", pqM), ("pq_k", pqK),
        ("iters", iters), ("residual", if (residual) 1 else 0),
        ("sq8", if (sq8) 1 else 0), ("cbuckets", cellBuckets.toInt))
        .map { case (k, v) => (k, v.toLong) } ++ res)
        .toDF("key", "value").coalesce(1))
    Artifacts.commit(spark, out, pend)
    refresh(spark, out)
    res
  }

  /** Per-dim SQ8 (lo, width) arrays from the persisted range table. */
  private def rangeArrays(snap: Artifacts.Snapshot, dims: Int)
      : (Array[Long], Array[Long]) = {
    val lo = new Array[Long](dims)
    val wd = new Array[Long](dims)
    snap.collectLongs("sq8_ranges", Seq("i", "lo", "wd")).foreach { r =>
      val i = r(0).toInt
      lo(i) = r(1)
      wd(i) = r(2)
    }
    (lo, wd)
  }

  /** Incremental maintenance: ingest NEW vectors into an existing
    * index without touching the codebooks — assign each to its
    * nearest IVF cell and PQ-encode with the FROZEN codebooks (the
    * production ingest path: centroids retrain offline on a cadence,
    * appends land continuously). Appends segments to `assignments`
    * and `pq_codes` (and `sq8_codes` when the tier exists); ids
    * already present are rejected (callers dedup upstream — see
    * q78's incremental contract).
    */
  def update(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2, "usage: update <indexDir> <newEmb.parquet> [flags]")
    val (idx, in) = (args(0), args(1))
    val flags = flagsOf(args, 2)
    val idCol = flags.getOrElse("id", "vec_id")
    val vecCol = flags.getOrElse("vec", "embedding")
    Artifacts.applyRetentionFlag(spark, flags, idx)
    Seq("ingested" ->
      ingestFrame(spark, idx, spark.read.parquet(in), idCol, vecCol))
  }

  /** The frozen-model ingest core shared by the [[update]] CLI and
    * the STREAMING maintenance path (q278's foreachBatch calls this
    * once per micro-batch): assign against the frozen router, encode
    * with the frozen codebooks (and frozen SQ8 ranges), append — all
    * of a batch's segments publish in ONE manifest flip. The index is
    * searchable between batches; the end-of-stream state is identical
    * to one batch update over everything that arrived — q278 shares
    * q202's closed-form oracle.
    */
  def ingestFrame(spark: SparkSession, idx: String,
      raw: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String): Long = {
    GraftSession.tune(spark)
    val snap = Artifacts.snapshot(spark, idx)
    import spark.implicits._

    val cents = centroidArrays(snap)
    val books = codebookArrays(snap)
    val residual = summaryFlag(snap, "residual")
    val dims = cents(0).length
    val pqM = books.length
    val sub = dims / pqM

    // localCheckpoint cuts the lineage back to the assignments path:
    // the appends below must not carry a plan that re-reads the very
    // files they are superseding. Dedup is against assignments PLUS
    // the tombstones: a retracted id must never re-enter, even after
    // a compact rewrote it out of assignments (permanent retraction —
    // see delete()).
    val existing = knownIds(snap)
    val base = graft.Scratch.localCheckpoint(
      raw.filter(size(col(vecCol)) === dims)
        .select(col(idCol).cast("long").as("id"),
          SemDedup.microsVec(col(vecCol)).as("mv"))
        .join(existing, Seq("id"), "left_anti"))

    val asgnD = graft.Scratch.cache(SemDedup.assignDist(base, cents)
      .select(col("id"), col("cluster").cast("long").as("cell"),
        col("d")))
    val asgn = asgnD.select(col("id"), col("cell"))
    val cbIngest = cellBucket(cellBucketsOf(snap))
    // CONCURRENT-WRITER path (mirrors LexIndex.ingestFrame): every
    // artifact here is a pure APPEND of base-independent segments, so
    // a lost CAS race rebases onto the winner's manifest and retries —
    // two ingests of disjoint vector batches serialize safely in
    // either order. validateRebase aborts if a competitor ingested (or
    // tombstoned) any of OUR ids meanwhile — merging would
    // double-index them.
    // counted write (round 17): the ingested-row count rides the
    // assignments write — the previous `asgn.count()` was one more
    // job over the cached frame
    val (segAsgn, nIngested, _) = Artifacts.writeSegmentCounted(
      spark, idx, "assignments", asgn, cbIngest)
    var deltas = Map("assignments" -> Seq(segAsgn))
    // an ingested vector may sit FARTHER from its cell centroid than
    // any built one — append the per-cell max so the exact tier's
    // pruning bound stays an overestimate (search maxes per cell at
    // read time; appends never race a rewrite)
    if (snap.has("ivf_radii"))
      deltas += "ivf_radii" -> Seq(Artifacts.writeSegment(spark, idx,
        "ivf_radii", asgnD.groupBy(col("cell")).agg(max(col("d")).as("r2"))
          .coalesce(1)))

    val encBase =
      if (!residual) base
      else {
        val centsDf = cents.zipWithIndex
          .map { case (c, j) => (j.toLong, c.toSeq) }.toSeq.toDF("cell", "cv")
        base.join(asgn, Seq("id")).join(broadcast(centsDf), Seq("cell"))
          .select(col("id"),
            zip_with(col("mv"), col("cv"), (a, b) => a - b).as("mv"))
      }
    val newCodes = (0 until pqM).map { s =>
      SemDedup.assignDist(
        encBase.select(col("id"), slice(col("mv"), s * sub + 1, sub).as("mv")),
        books(s))
        .select(col("id"), lit(s.toLong).as("s"),
          col("cluster").cast("long").as("code"))
    }.reduce(_ unionByName _)
      .join(asgn, Seq("id"))
      .select(col("id"), col("s"), col("code"), col("cell"))
    deltas += "pq_codes" -> Seq(Artifacts.writeSegment(spark, idx,
      "pq_codes", newCodes, cbIngest))
    // the SQ8 tier ingests too (frozen per-dim ranges, like the
    // frozen codebooks) — without this append an updated vector
    // would be silently unsearchable under `--tier sq8`
    if (summaryFlag(snap, "sq8")) {
      val (lo, wd) = rangeArrays(snap, dims)
      deltas += "sq8_codes" -> Seq(Artifacts.writeSegment(spark, idx,
        "sq8_codes", base.select(col("id"),
          graft.ops.VectorExpressions.sq8PackBytes(col("mv"), lo, wd)
            .as("codes"))
          .join(asgn, Seq("id"))
          .select(col("id"), col("codes"), col("cell")), cbIngest))
    }
    val n = nIngested
    val mySeg = deltas("assignments")
    Artifacts.commitAppendsWithRetry(spark, idx, deltas,
      validateRebase = base => {
        val mine = Artifacts.readSegs(spark, idx, "assignments", mySeg)
          .select(col("id"))
        val clash = knownIds(base).join(mine, Seq("id"), "left_semi").count()
        if (clash > 0) throw Artifacts.CommitConflictException(idx,
          base.version + 1,
          s"$clash vector ids were concurrently ingested or retracted " +
            "by another writer; re-run this ingest to re-dedup")
      })
    Artifacts.vacuum(spark, idx)
    refresh(spark, idx)
    n
  }

  /** Every id `snap` has ever ingested: assignments plus tombstones (a
    * compact folds retracted ids out of assignments, never out of the
    * tombstones).
    */
  private def knownIds(snap: Artifacts.Snapshot): DataFrame = {
    val asgn = snap.read("assignments").select(col("id"))
    if (!snap.has("tombstones")) asgn
    else asgn.unionByName(snap.read("tombstones").select(col("id")))
  }

  /** `history` columns: per-version membership statistics (vectors,
    * tombstones, live) — `vectors` counts assignment rows, which keep
    * dead entries until a compact folds the tombstones in; `live` is
    * the anti-joined serving population. Each version reads through
    * its own snapshot (`Artifacts.snapshot(…, Some(v))` — the
    * resolution `--at v` gives), and the whole chain is ONE Spark job
    * (round 18): every version's counts ride tagged branches of a
    * single union-aggregate keyed by version. The left_outer join is
    * row-preserving because the tombstone branch is made distinct
    * first, so `live` equals the anti-join count exactly.
    */
  protected def historyColumns = Seq("vectors", "tombstones", "live")
  protected def versionStats(spark: SparkSession, idx: String,
      chain: Seq[Long]): Seq[Seq[Long]] = {
    val branches: Seq[DataFrame] = chain.flatMap { v =>
      val m = Artifacts.snapshot(spark, idx, Some(v))
      val asgn = m.read("assignments").select(col("id"))
      if (!m.has("tombstones"))
        Seq(asgn.select(lit(v).as("version"), lit(1L).as("vec"),
          lit(1L).as("live"), lit(0L).as("tomb")))
      else {
        val ts = m.read("tombstones").select(col("id")).distinct()
        Seq(
          asgn.join(ts.withColumn("dead", lit(1L)), Seq("id"), "left_outer")
            .select(lit(v).as("version"), lit(1L).as("vec"),
              when(col("dead").isNull, 1L).otherwise(0L).as("live"),
              lit(0L).as("tomb")),
          ts.select(lit(v).as("version"), lit(0L).as("vec"),
            lit(0L).as("live"), lit(1L).as("tomb")))
      }
    }
    val counts = branches.reduce(_ unionByName _)
      .groupBy(col("version"))
      .agg(sum(col("vec")).as("nv"), sum(col("tomb")).as("nt"),
        sum(col("live")).as("nl"))
      .collect()
      .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    chain.map(v => counts.getOrElse(v, Seq(0L, 0L, 0L)))
  }

  /** `fsck` invariants, vector arm — the ANN serving contract:
    *
    *   - assignment_dupes: ids with more than one assignment row
    *     (the ingest dedup contract — a dupe double-counts ADC mass).
    *   - codes_cell_mismatch: pq_codes rows whose denormalized cell
    *     disagrees with the assignment (the probed-cell restriction
    *     would silently skip or mis-route them).
    *   - codes_incomplete: assigned ids whose pq_codes rows don't
    *     cover all pq_m subspaces exactly once.
    *   - codes_orphans: pq_codes ids with no assignment row (an
    *     encode that outlived its membership).
    *
    * Checks run over ALL rows including tombstoned ones (assignments
    * and codes carry dead rows symmetrically until compact).
    */
  protected def invariants = Seq("assignment_dupes", "codes_cell_mismatch",
    "codes_incomplete", "codes_orphans")
  protected def audit(spark: SparkSession,
      snap: Artifacts.Snapshot): Seq[(Long, Long)] = {
    val pqM = summaryVal(snap, "pq_m").getOrElse(2L)
    val asgn = graft.Scratch.cache(
      snap.read("assignments").select(col("id"), col("cell")))
    val codes = graft.Scratch.cache(
      snap.read("pq_codes").select(col("id"), col("s"),
        col("cell").as("code_cell")))
    // ALL FOUR invariant counts in ONE job (round 18): tagged branches
    // under a single union-aggregate replace four separate count jobs
    val audit = asgn.groupBy(col("id")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(lit("dup").as("inv"))
      .unionByName(asgn.select(col("id"))
        .join(codes.groupBy(col("id"))
          .agg(count_distinct(col("s")).as("m"),
            count(lit(1)).as("rows")),
          Seq("id"), "left_outer")
        .filter(col("m").isNull || col("m") =!= pqM ||
          col("rows") =!= pqM)
        .select(lit("inc").as("inv")))
      .unionByName(codes.select(col("id")).distinct()
        .join(asgn.select(col("id")), Seq("id"), "left_anti")
        .select(lit("orp").as("inv")))
      .unionByName(codes
        .join(asgn, Seq("id"), "inner")
        .filter(col("code_cell") =!= col("cell"))
        .select(lit("mis").as("inv")))
      .groupBy(col("inv")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("dup", "mis", "inc", "orp").map(k => (audit.getOrElse(k, 0L), 0L))
  }

  /** cell -> centroid long array, from the persisted frame
    * (driver-side catalog read — ivf_k x dims rows).
    */
  private def centroidArrays(snap: Artifacts.Snapshot): Array[Array[Long]] =
    snap.collectLongs("ivf_centroids", Seq("cell", "i", "c"))
      .groupBy(_(0)).toSeq.sortBy(_._1).map { case (_, rows) =>
        rows.sortBy(_(1)).map(_(2)).toArray
      }.toArray

  /** s -> code -> codebook entry long array (driver-side catalog
    * read — m x k x sub rows).
    */
  private def codebookArrays(snap: Artifacts.Snapshot)
      : Array[Array[Array[Long]]] =
    snap.collectLongs("pq_codebooks", Seq("s", "j", "i", "c"))
      .groupBy(_(0)).toSeq.sortBy(_._1).map { case (_, rows) =>
        rows.groupBy(_(1)).toSeq.sortBy(_._1).map { case (_, rs) =>
          rs.sortBy(_(2)).map(_(3)).toArray
        }.toArray
      }.toArray

  /** Persist the kNN GRAPH artifact — q274's construction kernel
    * ([[graft.ops.Similarity.knnGraph]]: LSH OR-construction
    * candidates, fused exact-cosine verify, per-node top-deg via
    * WindowGroupLimit — no cartesian) written as a `knn_graph`
    * segment partitioned by the arithmetic id bucket the beam
    * traversal prunes with. Graph parameters persist to `graph_meta`
    * so a traversal (and RECALL.md's ladder) can state what it
    * searched.
    *
    * Maintenance contract: the graph is a MODEL-CLASS artifact, like
    * the router and codebooks — rebuilt on a cadence (re-run this
    * command), never incrementally patched by [[update]]. Vectors
    * ingested since the last graph build are reachable through the
    * pq/sq8/exact tiers immediately and join the graph tier at the
    * next rebuild; DELETED nodes need no graph rewrite — their
    * outgoing edges fold out at the next [[compact]] (tombstone
    * anti-join on `id`) and edges INTO them are dropped by the
    * traversal's scoring-side tombstone filter either way.
    */
  def graph(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2, "usage: graph <indexDir> <emb.parquet> [flags]")
    val (idx, in) = (args(0), args(1))
    val flags = flagsOf(args, 2)
    val idCol = flags.getOrElse("id", "vec_id")
    val vecCol = flags.getOrElse("vec", "embedding")
    GraftSession.tune(spark)
    Artifacts.applyRetentionFlag(spark, flags, idx)
    val snap = Artifacts.snapshot(spark, idx)
    import spark.implicits._

    // --chunk-rows N > 0 turns on the skew-parallel grid split of the
    // LSH bucket self-joins (Similarity.nearDupPairsMultiTable): the
    // pair SET is identical (q299 shares q284's oracle verbatim), but
    // a hot bucket's quadratic enumeration spreads over
    // ceil(n/N)^2 tasks instead of single-threading one shuffle task
    // — the measured x512 build tail (SCALING.md round 14).
    val chunkRows0 = flags.getOrElse("chunk-rows", "0").toInt
    val chunkRows = if (chunkRows0 > 0) chunkRows0 else Int.MaxValue

    // --max-broadcast-wave N (round 17): --append waves up to N rows
    // take the broadcast-wave candidate shape (no corpus cache or
    // per-table corpus shuffle — Similarity.knnGraphAppendPairs'
    // broadcastWave contract); larger waves keep the shuffle-join +
    // skew-grid path. The default is 64k, set by MEASUREMENT, not by
    // broadcast-size budget: the broadcast shape also forfeits the
    // hot-bucket grid split, and the append-stage probe measured the
    // crossover — at a 32k wave the broadcast shape wins (12.1 vs
    // 15.1 s pair generation at x512), at a 128k wave the skewed
    // fan-out single-threads scan tasks and loses 3.4x (117.2 vs
    // 34.8 s at x2048, SCALING.md round 17) — LSH buckets on real
    // embeddings are heavily non-uniform, so past ~64k new rows the
    // grid is worth more than the avoided shuffle.
    val maxBcastWave = flags.getOrElse("max-broadcast-wave", "65536").toLong

    if (flags.getOrElse("append", "false").toBoolean)
      return graphAppend(spark, snap, in, idCol, vecCol, chunkRows,
        maxBcastWave)

    val deg = flags.getOrElse("deg", "3").toInt
    val bands = flags.getOrElse("bands", "2").toInt
    // LSH resolution: an explicit --planes wins; otherwise AUTO-SIZE
    // from the input count ([[autoPlanes]] — the SCALING.md round-15
    // deployment rule in code: a fixed default at 1M vectors is the
    // measured quadratic 969-second regime)
    val planes = flags.get("planes").map(_.toInt).getOrElse {
      val n = spark.read.parquet(in).count()
      val p = autoPlanes(n, bands)
      println(s"[graph] auto-sized LSH resolution: planes=$p " +
        s"(bands=$bands, n=$n, target occupancy ~250/bucket); " +
        "pass --planes to override")
      p
    }
    val minCos = flags.getOrElse("min-cos", "-1.0").toDouble
    val gB = flags.get("gbuckets").map(_.toLong).getOrElse(graphBuckets)
    val dims = summaryVal(snap, "dims")
      .getOrElse(sys.error(s"$idx has no summary dims")).toInt
    val all = graft.ops.Similarity.hyperplanes(planes, dims)
    val per = planes / bands
    val tables = (0 until bands).map(b => all.slice(b * per, (b + 1) * per))
    // DELTA-REBASE structural commit (round 16): the build's output is
    // BASE-INDEPENDENT — the edges derive from the input file + flags
    // alone, and all three graph artifacts are replace-style — so the
    // kNN derivation and its segment writes happen exactly ONCE, and a
    // lost CAS race retries only the manifest merge
    // (commitReplaceWithRetry: current ++ pend, re-read per attempt).
    // The previous shape re-ran Similarity.knnGraph — the engine's
    // most expensive derivation (325-969 s at x512 locally, hours at
    // cluster scale) — inside commitStructuralWithRetry on every lost
    // race, despite the closure ignoring its base entirely.
    val edges = graft.ops.Similarity.knnGraph(
      spark.read.parquet(in), idCol, vecCol, deg, tables, minCos,
      chunkRows)
      .select(col("id"), col("nbr"),
        round(col("cos") * lit(1000000d)).cast("long").as("cos_x1e6"),
        col("rn").cast("long").as("rn"),
        lit(0L).as("ver"))
    // counted write (round 17): the edge count the command reports
    // rides the segment write — the previous shape re-read the whole
    // knn_graph artifact post-commit as a separate count job (the
    // engine's largest derived artifact, scanned twice per build)
    val (segEdges, edgeRows, _) = Artifacts.writeSegmentCounted(
      spark, idx, "knn_graph", edges, graphBucket(gB))
    var pend: Map[String, Seq[String]] = Map("knn_graph" -> Seq(segEdges))
    // the coverage manifest: which ids the graph has CONSIDERED —
    // --append's new set is the input minus this, so repeated appends
    // stay wave-proportional
    pend = Artifacts.withReplaced(spark, idx, pend, "graph_ids",
      spark.read.parquet(in).select(col(idCol).cast("long").as("id")),
      graphBucket(gB))
    pend = Artifacts.withReplaced(spark, idx, pend, "graph_meta", Seq(
      ("deg", deg.toLong), ("planes", planes.toLong),
      ("bands", bands.toLong), ("gbuckets", gB),
      ("min_cos_x1e6", math.round(minCos * 1000000d)), ("gver", 0L))
      .toDF("key", "value").coalesce(1))
    Artifacts.commitReplaceWithRetry(spark, idx, pend)
    Artifacts.vacuum(spark, idx)
    refresh(spark, idx)
    Seq("knn_graph" -> edgeRows)
  }

  /** Auto-sized LSH resolution (round 16): planes = bands x
    * ceil(log2(n / targetOccupancy)) keeps per-bucket occupancy — and
    * with it the quadratic candidate-pair volume of the LSH bucket
    * self-joins — roughly constant as the corpus grows. SCALING.md
    * round 15 measured the ladder this formula reproduces: 256k
    * vectors want planes 20 and 1M want planes 24 (both ~250
    * rows/bucket, near-linear build), while a fixed planes 12-14 at
    * those sizes is the 969-second quadratic regime. Floored at the
    * historical default 12 so small corpora keep their long-verified
    * behavior; RECALL.md round 15 prices the recall side of the knob.
    */
  private[tools] def autoPlanes(n: Long, bands: Int,
      targetOccupancy: Long = 250L): Int = {
    val perTable = math.ceil(
      math.log(math.max(1L, n).toDouble / targetOccupancy.toDouble) /
        math.log(2d)).toInt
    math.max(12, bands * math.max(1, perTable))
  }

  /** `graph --append`: fold NEW vectors into the persisted kNN graph
    * WITHOUT a full rebuild — the graph-tier answer to the staleness
    * window its model-class contract creates (vectors ingested after
    * the last build are unreachable through hops until the next
    * rebuild; RECALL.md's staleness table prices it).
    *
    * EXACT by construction: the result equals a from-scratch `graph`
    * over the union, on the build's own parameters (all read from
    * graph_meta — never CLI flags). Why: the LSH tables are
    * deterministic, so a full rebuild's candidate set = old pairs +
    * pairs touching a new node
    * ([[graft.ops.Similarity.knnGraphAppendPairs]] generates exactly
    * the latter, wave-proportionally); and per node, top-deg of
    * (full old candidates + new pairs) = top-deg of (old top-deg +
    * new pairs), because candidates the old build already ranked
    * below deg can only rank lower once more arrive. The persisted
    * cos_x1e6 IS the build's ranking key (knnGraph ranks the 6dp-
    * rounded cosine), so merge-ranking superseded adjacency against
    * new pairs is exact, not approximate — IndexCorpusSpec pins
    * append == rebuild on the artifact values and q294 shares q284's
    * full-build oracle verbatim.
    *
    * Storage: one APPENDED edge segment carrying the new nodes'
    * adjacency plus re-ranked adjacency for affected old nodes, at
    * `ver = gver + 1`; readers take the per-node LATEST version
    * (supersede-on-read), so nothing rewrites and the manifest flip
    * publishes the wave atomically. Superseded rows are reclaimed at
    * the next full `graph` rebuild (or compact's tombstone fold for
    * deleted nodes).
    */
  /** Sentinel unwinding the structural retry loop when an append wave
    * turns out empty (first attempt, or a competitor covered every
    * new id on a retry): the epilogue (vacuum + refresh) still runs —
    * the previous shape used a non-local `return` from inside the
    * closure, which skipped both and leaked a retried attempt's
    * segments past the eager reclaim (the round-15 ADVICE finding).
    */
  private case object EmptyWaveException
    extends Exception with scala.util.control.NoStackTrace

  private def graphAppend(spark: SparkSession, snap: Artifacts.Snapshot,
      in: String, idCol: String, vecCol: String,
      chunkRows: Int = Int.MaxValue,
      maxBcastWave: Long = 65536L): Seq[(String, Long)] = {
    import spark.implicits._
    val idx = snap.idx
    require(snap.has("knn_graph"),
      s"$idx has no knn_graph artifact (run `graph` first)")
    // structural: the appended adjacency merge-ranks against one
    // snapshot's persisted edges — a concurrent commit makes that
    // derivation stale, so the publish CAS-fails and the MERGE-RANK
    // re-derives from the attempt's base (commitStructuralWithRetry).
    // The expensive term — candidate generation + the wave-side
    // top-deg rank — is cached across attempts (round 16; round 17
    // caches the RANKED wave adjacency — deg rows per affected node —
    // instead of the raw pair frame, which at x2048 was 376M rows
    // whose block-storage pin was itself a scale hazard: evictable
    // under memory pressure and avoidable, since regenerating the
    // pairs is a ~35 s map-side pass while pinning them squeezed the
    // whole executor — SCALING.md round 17 graph append): it depends
    // only on the input wave, the LSH tables, and the new-id set, so a
    // lost race against an INGEST (which never touches graph_ids) reuses
    // it and pays only the small merge window; the cache invalidates
    // exactly when the new-id set or the persisted build parameters
    // changed (a competing append or rebuild). nNewOut carries the
    // wave size out of the closure.
    var nNewOut = 0L
    var cachedNewTop: Option[(String, Long, DataFrame, DataFrame)] = None
    try {
      Artifacts.commitStructuralWithRetry(spark, idx) { base =>
    val meta = base.collectKV("graph_meta")
    require(meta.contains("gver"),
      s"$idx's graph predates --append support (re-run `graph` to enable)")
    val deg = meta("deg").toInt
    val planes = meta("planes").toInt
    val bands = meta("bands").toInt
    val gB = meta("gbuckets")
    val minCos = meta("min_cos_x1e6").toDouble / 1000000d
    val newVer = meta("gver") + 1L
    val dims = summaryVal(base, "dims")
      .getOrElse(sys.error(s"$idx has no summary dims")).toInt
    val allPlanes = graft.ops.Similarity.hyperplanes(planes, dims)
    val per = planes / bands
    val tables = (0 until bands).map(b =>
      allPlanes.slice(b * per, (b + 1) * per))

    val raw = spark.read.parquet(in)
    val newIds = graft.Scratch.localCheckpoint(
      raw.select(col(idCol).cast("long").as("id")).distinct()
        .join(base.read("graph_ids").select(col("id")),
          Seq("id"), "left_anti"))
    val nNew = newIds.count()
    nNewOut = nNew
    if (nNew == 0L) throw EmptyWaveException

    val paramsKey = s"$planes|$bands|${meta("min_cos_x1e6")}"
    val wDeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("cos_x1e6").desc, col("nbr"))
    // RANKED wave adjacency (round 17): per-node top-deg of the NEW
    // candidate pairs alone. Exact under truncation — per node,
    // top-deg(current ∪ all new pairs) = top-deg(current ∪ top-deg(new
    // pairs)): a candidate outside the wave's own top-deg can never
    // enter the merged top-deg. The pair frame is deliberately NOT
    // materialized: the union's two mirror arms regenerate it (a
    // map-side pass each), which at x2048 measures 101 s for this
    // whole rank vs 376M rows of block storage the old shape pinned —
    // and WindowGroupLimit keeps the per-mapper shuffle contribution
    // at deg rows per node. Only this deg x affected-nodes result is
    // checkpointed (it feeds affected, the merge window, and the
    // CAS-retry reuse).
    val newTop = cachedNewTop match {
      case Some((key, n, ids, df)) if key == paramsKey && n == nNew &&
        newIds.join(ids, Seq("id"), "left_anti").isEmpty =>
        df // same wave, same tables: the ranked generation is reusable
      case _ =>
        val p0 = graft.ops.Similarity.knnGraphAppendPairs(
          raw, newIds, idCol, vecCol, tables, minCos, chunkRows,
          broadcastWave = nNew <= maxBcastWave)
        val mirrored = p0
          .select(col("id_a").as("id"), col("id_b").as("nbr"), col("cos"))
          .unionByName(p0
            .select(col("id_b").as("id"), col("id_a").as("nbr"),
              col("cos")))
          .select(col("id"), col("nbr"),
            round(col("cos") * lit(1000000d)).cast("long").as("cos_x1e6"))
        val t = graft.Scratch.localCheckpoint(
          mirrored.withColumn("rn", row_number().over(wDeg).cast("long"))
            .filter(col("rn") <= deg)
            .select(col("id"), col("nbr"), col("cos_x1e6")))
        cachedNewTop = Some((paramsKey, nNew, newIds, t))
        t
    }
    // affected nodes: every endpoint of a new pair (new nodes + old
    // nodes whose top-deg may change) — exactly the ids newTop holds
    // (each has >= 1 candidate). Their CURRENT adjacency (latest
    // version) merges with the ranked wave candidates and re-ranks;
    // untouched nodes' segments stay byte-identical.
    val affected = newTop.select(col("id")).distinct()
    val current = latestAdjacency(
      base.read("knn_graph")
        .join(affected, Seq("id"), "left_semi")
        .select(col("id"), col("nbr"), col("cos_x1e6"), col("ver")))
      .select(col("id"), col("nbr"), col("cos_x1e6"))
    // the merge window runs over <= 2 x deg rows per affected node —
    // wave-proportional, never corpus- or pair-volume-sized
    val reRanked = current.unionByName(newTop)
      .withColumn("rn", row_number().over(wDeg).cast("long"))
      .filter(col("rn") <= deg)
      .withColumn("ver", lit(newVer))
    var pend = Artifacts.withAppended(spark, base, Map(), "knn_graph",
      reRanked, graphBucket(gB))
    pend = Artifacts.withAppended(spark, base, pend, "graph_ids",
      newIds, graphBucket(gB))
    pend = Artifacts.withReplaced(spark, idx, pend, "graph_meta",
      (meta + ("gver" -> newVer)).toSeq.toDF("key", "value").coalesce(1))
    (base ++ pend).segments
      }
    } catch {
      case EmptyWaveException => () // nothing to publish; epilogue runs
    }
    Artifacts.vacuum(spark, idx)
    refresh(spark, idx)
    Seq("appended" -> nNewOut)
  }

  /** Per-node LATEST-version adjacency of a (possibly appended)
    * knn_graph frame: appended segments SUPERSEDE a node's earlier
    * rows rather than add to them. Pre-append graphs (no ver column)
    * read as version 0. Call this AFTER any frontier/bucket
    * restriction — the window then runs over beam x degree rows, not
    * the artifact.
    */
  private def latestAdjacency(g0: DataFrame): DataFrame = {
    val g = if (g0.columns.contains("ver")) g0
      else g0.withColumn("ver", lit(0L))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    g.withColumn("mxv", max(col("ver")).over(w))
      .filter(col("ver") === col("mxv")).drop("mxv")
  }

  /** Search the persisted index: route, ADC-score the probed cells,
    * top-k. The probe vector is read from `emb` by id (the serving
    * path would pass the vector directly — same math).
    *
    * `--filter <sqlExpr>` constrains the search to a stratum by
    * PRE-filtering candidates INSIDE the probed cells (the dominant
    * strategy of the q245 sweep — a probed-cell stratum member is
    * never lost to the predicate; the expression sees the
    * assignment columns `id`, `cell`). `--rerank <N>` re-ranks the
    * N ADC-best candidates EXACTLY on the float source (the q246
    * ladder): only N ids rejoin the vectors, and the output gains
    * the exact `cos_x1e6` next to the ADC score.
    */
  def search(spark: SparkSession, args: Array[String]): DataFrame = {
    require(args.length >= 3, "usage: search <indexDir> <emb.parquet> <probeId> [flags]")
    val (idx, in, probeId) = (args(0), args(1), args(2).toLong)
    val flags = flagsOf(args, 3)
    val idCol = flags.getOrElse("id", "vec_id")
    val vecCol = flags.getOrElse("vec", "embedding")
    val k = flags.getOrElse("k", "10").toInt
    val nprobe = flags.getOrElse("nprobe", "2").toInt
    val filterSql = flags.get("filter")
    val rerankN = flags.get("rerank").map(_.toInt)
    GraftSession.tune(spark)
    import spark.implicits._
    val snap = Artifacts.snapshot(spark, idx, flags.get("at").map(_.toLong))

    val cents = centroidArrays(snap).zipWithIndex
      .map { case (c, j) => j.toLong -> c }.toMap
    val dims = cents.head._2.length
    val cbN = cellBucketsOf(snap)

    // ONE source frame and ONE probe row per search: every tier below
    // reuses `src` (a second spark.read.parquet would schedule its own
    // schema-inference job) and this row, which carries both the
    // micros form the integer tiers route and score with (`pv`) and
    // the float vector the cosine tails score with (`pf`)
    val src = spark.read.parquet(in)
    val probeRow = src
      .filter(col(idCol).cast("long") === probeId && size(col(vecCol)) === dims)
      .select(SemDedup.microsVec(col(vecCol)), col(vecCol)).head()
    val pv = probeRow.getSeq[Long](0).toArray
    val pf = probeRow.getSeq[Float](1)
    def l2(a: Array[Long], off: Int, c: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < c.length) { val x = a(off + i) - c(i); d += x * x; i += 1 }
      d
    }
    // route: nprobe nearest cells (ties to the lowest cell id)
    val probedCells = cents.toSeq
      .map { case (j, c) => (l2(pv, 0, c), j) }.sorted.take(nprobe)
      .map(_._2)

    // EXACT tier: recall 10/10 by construction through the artifacts.
    // Triangle inequality kept in INTEGER space (round-12 advisory: a
    // floating-point sqrt comparison could over-prune by ulps on an
    // exact tie): any member x of cell j satisfies
    // d(q,x) >= d(q,c_j) - r_j in true distances, so with squared
    // D = d(q,c_j)^2, R = r_j^2, dk = kth-best squared distance, cell
    // j can contribute only if D <= dk + R + 2*sqrt(dk*R) — the
    // sqrt's ceiling (+ slack) only ever WEAKENS pruning. Two phases:
    // score the nprobe nearest cells exactly on the float source
    // (that top-k's kth distance is a valid upper bound on the final
    // kth), then score every unpruned remaining cell and re-rank.
    // Fewer than k phase-1 hits -> no pruning -> exhaustive scan
    // (still exact). Stored radii only ever OVERESTIMATE after a
    // delete/compact (max over fewer members) — an overestimate
    // weakens pruning, never correctness; update appends per-batch
    // cell maxes and search maxes per cell at read time.
    if (flags.getOrElse("tier", "pq") == "exact") {
      require(filterSql.isEmpty && rerankN.isEmpty,
        "--tier exact composes with neither --filter nor --rerank")
      require(snap.has("ivf_radii"),
        s"$idx has no ivf_radii artifact (rebuild to enable --tier exact)")
      // driver-side catalog read + fold: radii are one row per cell
      // per ingest wave — catalog-sized; the max-per-cell fold is
      // driver math, not a Spark aggregate job
      val r2 = snap.collectLongs("ivf_radii",
        Seq("cell", "r2"))
        .groupBy(_(0)).map { case (c, rows) => c -> rows.map(_(1)).max }
      val dc = cents.toSeq.map { case (j, c) => j -> l2(pv, 0, c) }
      def score(cellIds: Seq[Long]): DataFrame = {
        val m0 = restrictCells(
          snap.read("assignments"), cellIds, cbN)
          .filter(col("id") =!= probeId)
        val m =
          if (snap.has("tombstones"))
            m0.join(snap.read("tombstones")
              .select(col("id")), Seq("id"), "left_anti")
          else m0
        src.filter(size(col(vecCol)) === dims)
          .select(col(idCol).cast("long").as("id"),
            SemDedup.microsVec(col(vecCol)).as("mv"))
          .join(m.select(col("id")), Seq("id"), "left_semi")
          .select(col("id"), graft.ops.VectorExpressions.sqDist(
            col("mv"), typedLit(pv.toSeq)).as("d"))
      }
      val phase1 = dc.map { case (j, d) => (d, j) }.sorted
        .take(nprobe).map(_._2)
      val top1 = score(phase1).orderBy(col("d"), col("id")).limit(k)
        .collect()
      val dkOpt =
        if (top1.length < k) None // no bound -> nothing prunes
        else Some(top1.last.getAs[Long]("d"))
      val survivors = dc.collect {
        case (j, dSq) if !phase1.contains(j) && (dkOpt match {
          case None => true
          case Some(dk) =>
            val r = r2.getOrElse(j, Long.MaxValue)
            r == Long.MaxValue || {
              // integer-space bound with ceil slack: never over-prunes
              val cross = 2L * math.ceil(
                math.sqrt(dk.toDouble * r.toDouble)).toLong + 2L
              dSq <= dk + r + cross
            }
        }) => j
      }
      return score(phase1 ++ survivors)
        .orderBy(col("d"), col("id")).limit(k)
    }

    // GRAPH tier: deterministic beam traversal over the persisted kNN
    // graph, seeded from the IVF router's probed cells — the serving
    // rung HNSW-class indexes add above IVF. Each hop touches only
    // the frontier's adjacency rows (literal `id IN` + arithmetic
    // bucket partition filter) and scores only NEW candidates by
    // literal id lookups against the float source — per-hop work is
    // O(beam x degree) rows at any corpus size. Ties break (cos desc,
    // id) everywhere, so the answer is hashable; q284's oracle
    // replays the graph construction, the router seeds, and every
    // hop in closed form.
    if (flags.getOrElse("tier", "pq") == "graph") {
      require(snap.has("knn_graph"),
        s"$idx has no knn_graph artifact (run `graph` first)")
      val beam = flags.getOrElse("beam", "8").toInt
      val hops = flags.getOrElse("hops", "2").toInt
      require(k <= beam, s"--k $k must be <= --beam $beam")
      rerankN.foreach(n => require(n >= k,
        s"--rerank $n must be >= --k $k"))
      // the bucket count the graph was WRITTEN with governs the
      // partition math — never the current compile-time constant
      val gB = graphBucketsOf(snap)
      val tombOpt =
        if (snap.has("tombstones"))
          Some(snap.read("tombstones").select(col("id")))
        else None
      // candidate ADMISSION (tombstones + the --filter stratum
      // predicate over `id`): applied to the seeds AND to every hop's
      // expansion BEFORE the beam prune — the q245 pre-filter
      // contract lifted to the walk: a stratum member is never lost
      // to a non-member occupying a beam slot, and the traversal is
      // confined to the stratum subgraph (its connectivity bounds
      // recall, like graph density does — RECALL.md's knob).
      def admit(idsDf: DataFrame): DataFrame = {
        val live = tombOpt.fold(idsDf)(ts =>
          idsDf.join(ts, Seq("id"), "left_anti"))
        filterSql.fold(live)(f => live.filter(expr(f)))
      }
      // traversal metric: exact cosine by default. With --rerank the
      // walk scores candidates by PQ-ADC instead — code lookups only,
      // never the float source (the HNSW-style cheap-walk/exact-tail
      // split: per-hop cost stays O(beam x degree) CODE rows, and the
      // float source is touched once, for the final shortlist).
      val walkByAdc = rerankN.isDefined
      val books0 = if (walkByAdc) codebookArrays(snap) else Array.empty[Array[Array[Long]]]
      val residualW = walkByAdc && summaryFlag(snap, "residual")
      val adcTable: DataFrame = if (!walkByAdc) null else {
        val pqM = books0.length
        val sub = dims / pqM
        if (!residualW)
          books0.zipWithIndex.flatMap { case (bk, s) =>
            bk.zipWithIndex.map { case (c, j) =>
              (s.toLong, j.toLong, l2(pv, s * sub, c))
            }
          }.toSeq.toDF("s", "code", "d")
        else
          // residual codes quantize (vector - cell centroid): the
          // probe's table is keyed by the CANDIDATE's cell — walk
          // candidates live in ANY cell, so derive all ivf_k tables
          // (catalog-sized: ivf_k x m x k rows)
          cents.toSeq.flatMap { case (cell, cc) =>
            val pr = Array.tabulate(dims)(i => pv(i) - cc(i))
            books0.zipWithIndex.toSeq.flatMap { case (bk, s) =>
              bk.zipWithIndex.toSeq.map { case (c, j) =>
                (cell, s.toLong, j.toLong, l2(pr, s * sub, c))
              }
            }
          }.toDF("cell", "s", "code", "d")
      }
      // (id, score): cos_x1e6 (higher better) or ADC (lower better)
      def scoreOf(idsDf: DataFrame): Seq[(Long, Long)] = {
        val cand = admit(idsDf)
        if (walkByAdc)
          snap.read("pq_codes")
            .join(cand.select(col("id")), Seq("id"), "left_semi")
            .join(broadcast(adcTable),
              if (residualW) Seq("cell", "s", "code") else Seq("s", "code"))
            .groupBy(col("id")).agg(sum(col("d")).as("sc"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        else
          // dims filter: the graph may carry edges to ragged vectors
          // (knnGraph indexes the raw table); they are unscorable
          // against the probe and drop here — same as the oracle's
          // len = dims restriction
          src.filter(size(col(vecCol)) === dims)
            .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
            .join(cand, Seq("id"), "left_semi")
            .select(col("id"),
              round(round(graft.ops.Similarity.cosine(col("v"),
                typedLit(pf)), 6) * lit(1000000d)).cast("long")
                .as("cos_x1e6"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      def sortKey(p: (Long, Long)): (Long, Long) =
        if (walkByAdc) (p._2, p._1) else (-p._2, p._1)
      // seeds: the probed cells' members, scored, top-beam
      val seedMembers0 = restrictCells(
        snap.read("assignments"), probedCells, cbN)
        .filter(col("id") =!= probeId)
        .select(col("id"))
      val visited = scala.collection.mutable.Map.empty[Long, Long]
      scoreOf(seedMembers0)
        .sortBy(sortKey).take(beam)
        .foreach { case (id, c) => visited(id) = c }
      val graphDf = snap.read("knn_graph")
      var hop = 0
      var frontierChanged = true
      while (hop < hops && frontierChanged) {
        val beamIds = visited.toSeq
          .sortBy(sortKey).take(beam).map(_._1)
        val gbs = beamIds.map(i => ((i % gB) + gB) % gB)
          .distinct.map(Long.box)
        // latest-version adjacency AFTER the frontier restriction:
        // appended segments supersede a node's earlier rows
        val nbrs = latestAdjacency(graphDf
          .filter(col("gb").isin(gbs: _*))
          .filter(col("id").isin(beamIds.map(Long.box): _*)))
          .select(col("nbr")).distinct()
          .collect().map(_.getLong(0))
          .filter(n => n != probeId && !visited.contains(n))
        if (nbrs.isEmpty) frontierChanged = false
        else {
          val newScores = scoreOf(
            nbrs.toSeq.toDF("id").select(col("id").cast("long").as("id")))
          newScores.foreach { case (id, c) => visited(id) = c }
          hop += 1
        }
      }
      return rerankN match {
        case None =>
          visited.toSeq.sortBy(sortKey).take(k)
            .toDF("id", "cos_x1e6")
        case Some(n) =>
          // exact tail: the n ADC-best visited rejoin the float
          // source ONCE; output shape matches the pq-tier rerank
          val shortlist = visited.toSeq.sortBy(sortKey).take(n)
            .toDF("id", "adc")
          src
            .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
            .join(broadcast(shortlist), Seq("id"))
            .select(col("id"), col("adc"),
              round(round(graft.ops.Similarity.cosine(col("v"),
                typedLit(pf)), 6) * lit(1000000d)).cast("long")
                .as("cos_x1e6"))
            .orderBy(col("cos_x1e6").desc, col("id"))
            .limit(k)
      }
    }

    val membersAll = restrictCells(
      snap.read("assignments"), probedCells, cbN)
      .filter(col("id") =!= probeId)
    // retraction: tombstoned ids must not surface — the anti-join
    // runs on the CELL-RESTRICTED candidates, never the whole index
    val members0 =
      if (snap.has("tombstones"))
        membersAll.join(
          snap.read("tombstones").select(col("id")),
          Seq("id"), "left_anti")
      else membersAll
    // pre-filter INSIDE the probed cells: cell restriction and the
    // stratum predicate reach the same scan
    val members = filterSql.fold(members0)(f => members0.filter(expr(f)))
    // the code artifacts are PARTITIONED by cell: the probed-cell
    // restriction is a literal partition predicate — whole cell
    // directories prune before any file opens (the round-13 upgrade
    // of round 12's row-group pruning). The id-level semi join below
    // still applies the stratum filter and the tombstone retraction.
    def cellRestrict(df: DataFrame): DataFrame =
      restrictCells(df, probedCells, cbN).drop("cell", "cb")
    val books = codebookArrays(snap).zipWithIndex.flatMap {
      case (bk, s) => bk.zipWithIndex.map { case (c, j) =>
        (s.toLong, j.toLong) -> c
      }
    }.toMap
    val residual = summaryFlag(snap, "residual")
    val pqM = books.keys.map(_._1).max.toInt + 1
    val sub = dims / pqM
    val codes = cellRestrict(snap.read("pq_codes"))
    val tier = flags.getOrElse("tier", "pq")
    require(tier == "pq" || tier == "sq8", s"unknown --tier $tier")
    val adcRanked =
      if (tier == "sq8") {
        // SQ8 tier: reconstruct each candidate from its code array via
        // the broadcast range tables (reference objects inside the
        // fused kernel) and score against the FULL-precision probe —
        // asymmetric distance, same contract as q259
        require(summaryFlag(snap, "sq8"),
          s"$idx was built without --sq8 true")
        val (lo, wd) = rangeArrays(snap, dims)
        cellRestrict(snap.read("sq8_codes"))
          .join(members.select(col("id")), Seq("id"), "left_semi")
          .select(col("id"), graft.ops.VectorExpressions.sqDist(
            graft.ops.VectorExpressions.sq8UnpackDequant(col("codes"), lo, wd),
            typedLit(pv.toSeq)).as("adc"))
      } else if (!residual) {
        // global PQ: one (s, code) -> distance table for the probe
        val table = books.toSeq.map { case ((s, j), c) =>
          (s, j, l2(pv, s.toInt * sub, c))
        }.toDF("s", "code", "d")
        codes.join(members.select(col("id")), Seq("id"), "left_semi")
          .join(broadcast(table), Seq("s", "code"))
          .groupBy(col("id")).agg(sum(col("d")).as("adc"))
      } else {
        // residual PQ: the codes quantize (vector - cell centroid), so
        // the probe's table is keyed by CELL too — its residual against
        // each probed cell vs the codebook entries (nprobe x m x k rows)
        val table = probedCells.flatMap { pc =>
          val cc = cents(pc)
          val pr = Array.tabulate(dims)(i => pv(i) - cc(i))
          books.toSeq.map { case ((s, j), c) =>
            (pc, s, j, l2(pr, s.toInt * sub, c))
          }
        }.toDF("cell", "s", "code", "d")
        codes.join(members, Seq("id")) // attach the candidate's cell
          .join(broadcast(table), Seq("cell", "s", "code"))
          .groupBy(col("id")).agg(sum(col("d")).as("adc"))
      }
    rerankN match {
      case None =>
        adcRanked.orderBy(col("adc"), col("id")).limit(k)
      case Some(n) =>
        // q246's ladder through the artifacts: shortlist the n
        // ADC-best, rejoin ONLY those ids to the float source, exact
        // cosine re-rank to k
        val shortlist = adcRanked.orderBy(col("adc"), col("id")).limit(n)
        src
          .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
          .join(broadcast(shortlist), Seq("id"))
          .select(col("id"), col("adc"),
            round(round(graft.ops.Similarity.cosine(col("v"),
              typedLit(pf)), 6) * lit(1000000d)).cast("long")
              .as("cos_x1e6"))
          .orderBy(col("cos_x1e6").desc, col("id"))
          .limit(k)
    }
  }

  /** BATCH serving: route and ADC-score EVERY probe of a probe-id
    * frame in ONE pass over the artifacts (round-13 brief item 3 —
    * the single-probe path pays the ~second-scale job floor per
    * probe; here thousands of probes amortize it). Per-probe
    * semantics are IDENTICAL to [[search]]: same router (per-probe
    * nprobe nearest cells, ties to the lowest cell), same
    * cell-restricted candidates, same tombstone retraction and
    * self-exclusion, same integer ADC, per-probe top-k by (adc, id) —
    * q283's oracle is the per-probe replay of q262's chain.
    *
    * Plan shape: probes route via one broadcast join against the
    * catalog-sized centroid frame (per-probe top-nprobe is one
    * WindowGroupLimit); the UNION of probed cells (bounded by ivf_k)
    * restricts the membership scans as a literal partition predicate;
    * the per-(probe, s, code) distance tables derive distributedly
    * from the probes x the broadcast codebooks; and the per-probe
    * top-k is one WindowGroupLimit — no per-probe jobs, no driver
    * loop over probes.
    */
  def searchBatch(spark: SparkSession, args: Array[String]): DataFrame = {
    require(args.length >= 3,
      "usage: searchBatch <indexDir> <emb.parquet> <probes.parquet> [flags]")
    searchBatchImpl(spark, args, None)
  }

  /** [[searchBatch]] with the probe frame passed DIRECTLY instead of
    * a parquet path — the streaming-serve entry point: a foreachBatch
    * handler fuses each micro-batch's probes without a per-trigger
    * write+read round-trip (the round-14 q295 shape this replaces).
    * `args` omit the probes path: <indexDir> <emb.parquet> [flags].
    * Semantics are byte-identical to the path form (the path form now
    * routes through this).
    */
  def searchBatchFrame(spark: SparkSession, args: Array[String],
      probes: DataFrame): DataFrame = {
    require(args.length >= 2,
      "usage: searchBatchFrame <indexDir> <emb.parquet> [flags] + frame")
    val full = args.take(2) ++ Array("__probe_frame__") ++ args.drop(2)
    searchBatchImpl(spark, full, Some(probes))
  }

  private def searchBatchImpl(spark: SparkSession,
      args: Array[String], probesOpt: Option[DataFrame]): DataFrame = {
    val (idx, in, probesIn) = (args(0), args(1), args(2))
    val flags = flagsOf(args, 3)
    val idCol = flags.getOrElse("id", "vec_id")
    val vecCol = flags.getOrElse("vec", "embedding")
    val k = flags.getOrElse("k", "10").toInt
    val nprobe = flags.getOrElse("nprobe", "2").toInt
    val tier = flags.getOrElse("tier", "pq")
    require(tier == "pq" || tier == "sq8" || tier == "graph",
      s"searchBatch supports --tier pq|sq8|graph, got $tier")
    GraftSession.tune(spark)
    import spark.implicits._
    val snap = Artifacts.snapshot(spark, idx, flags.get("at").map(_.toLong))

    // the distinct probe-id frame: from the passed frame (streaming)
    // or the probes parquet (CLI path form)
    val probeIds = probesOpt.getOrElse(spark.read.parquet(probesIn))
      .select(col(idCol).cast("long").as("pid")).distinct()
    // ONE source frame per call: the probe vectors, the rerank probe
    // frame and the rerank candidate scan all derive from it (each
    // spark.read.parquet would schedule its own schema-inference job)
    val src = spark.read.parquet(in)

    if (tier == "graph")
      return searchBatchGraph(spark, snap, src, probeIds, idCol, vecCol,
        k, nprobe, flags)

    val cents = centroidArrays(snap)
    val dims = cents(0).length
    val cbN = cellBucketsOf(snap)
    val centsDf = cents.zipWithIndex
      .map { case (c, j) => (j.toLong, c.toSeq) }.toSeq.toDF("cell", "cv")

    // probe vectors: the probe-id frame semi-joins the float source
    val probes = graft.Scratch.cache(src
      .filter(size(col(vecCol)) === dims)
      .select(col(idCol).cast("long").as("pid"),
        SemDedup.microsVec(col(vecCol)).as("pmv"))
      .join(probeIds, Seq("pid"), "left_semi"))
    // probe-side frames (the probe vectors, the probe-derived distance
    // tables, the rerank vector frame) BROADCAST while the probe
    // count fits the cap; past it the SAME joins run as merge-hinted
    // shuffles (the hint keeps AQE from re-broadcasting a frame the
    // caller declared too big) — millions of probes serve without
    // exceeding executor memory, at one extra exchange. Note the pq
    // distance table carries pqM x pqK rows PER PROBE — size the cap
    // to the derived frame, not just the probe count.
    val maxBcast = flags.getOrElse("max-broadcast-probes", "65536").toLong

    // route every probe: broadcast centroid join, per-probe
    // top-nprobe by (distance, cell) — one WindowGroupLimit
    val wRoute = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid"))
      .orderBy(col("cd"), col("cell"))
    val routed = graft.Scratch.cache(probes
      .join(broadcast(centsDf), lit(true))
      .select(col("pid"), col("pmv"), col("cell"),
        graft.ops.VectorExpressions.sqDist(col("pmv"),
          col("cv").cast("array<long>")).as("cd"))
      .withColumn("rn", row_number().over(wRoute))
      .filter(col("rn") <= nprobe)
      .select(col("pid"), col("cell")))
    // ONE routing job yields BOTH serve-path scalars (round 18,
    // VERDICT item 1): the union of probed cells (bounded by ivf_k —
    // the membership scans' literal partition predicate) and the
    // probe count the broadcast-cap decision needs. The previous
    // shape ran a separate probes.count() job per search just to pick
    // broadcast-vs-merge. count_distinct(pid) == the probe-frame row
    // count here (every probe routes — the centroid join is a cross
    // join — and probe ids are unique per the ingest dedup contract);
    // the cap is a join-STRATEGY choice either way, never semantics.
    val (probedCells, nProbes) = {
      val r = routed.agg(
        collect_set(col("cell")).as("cells"),
        count_distinct(col("pid")).as("np")).head()
      (r.getSeq[Long](0).map(Long.box).toSeq, r.getLong(1))
    }
    val probeSide: DataFrame => DataFrame =
      df => if (nProbes <= maxBcast) broadcast(df) else df.hint("merge")

    val membersAll = restrictCells(
      snap.read("assignments"),
      probedCells.map(Long.unbox), cbN)
    val members0 =
      if (snap.has("tombstones"))
        membersAll.join(
          snap.read("tombstones").select(col("id")),
          Seq("id"), "left_anti")
      else membersAll
    // candidates: a probe meets exactly its OWN probed cells' members;
    // --filter PRE-filters inside the probed cells (the single-probe
    // contract — a probed-cell stratum member is never lost to the
    // predicate; the expression sees id and cell)
    val cand0 = members0.join(routed, Seq("cell"))
      .filter(col("id") =!= col("pid"))
    val cand = flags.get("filter").fold(cand0)(f => cand0.filter(expr(f)))
      .select(col("pid"), col("cell"), col("id"))

    val scored =
      if (tier == "sq8") {
        require(summaryFlag(snap, "sq8"),
          s"$idx was built without --sq8 true")
        val (lo, wd) = rangeArrays(snap, dims)
        restrictCells(snap.read("sq8_codes"),
          probedCells.map(Long.unbox), cbN).drop("cell", "cb")
          .join(cand.select(col("pid"), col("id")), Seq("id"))
          .join(probeSide(probes), Seq("pid"))
          .select(col("pid"), col("id"),
            graft.ops.VectorExpressions.sqDist(
              graft.ops.VectorExpressions.sq8UnpackDequant(
                col("codes"), lo, wd),
              col("pmv")).as("adc"))
      } else {
        val books = codebookArrays(snap)
        val pqM = books.length
        val sub = dims / pqM
        val bookDf = books.zipWithIndex.flatMap { case (bk, s) =>
          bk.zipWithIndex.map { case (c, j) =>
            (s.toLong, j.toLong, c.toSeq)
          }
        }.toSeq.toDF("s", "code", "bv")
        val residual = summaryFlag(snap, "residual")
        if (!residual) {
          // per-(probe, s, code) distance tables, derived
          // distributedly: probes x broadcast codebooks
          val table = probes
            .join(broadcast(bookDf), lit(true))
            .select(col("pid"), col("s"), col("code"),
              graft.ops.VectorExpressions.sqDist(
                slice(col("pmv"), col("s").cast("int") * sub + 1, lit(sub)),
                col("bv").cast("array<long>")).as("d"))
          restrictCells(snap.read("pq_codes"),
            probedCells.map(Long.unbox), cbN).drop("cell", "cb")
            .join(cand.select(col("pid"), col("id")), Seq("id"))
            .join(probeSide(table), Seq("pid", "s", "code"))
            .groupBy(col("pid"), col("id")).agg(sum(col("d")).as("adc"))
        } else {
          // residual tables are keyed by (probe, cell): the probe's
          // residual against each of ITS probed cells
          val table = probes.join(routed, Seq("pid"))
            .join(broadcast(centsDf), Seq("cell"))
            .select(col("pid"), col("cell"),
              zip_with(col("pmv"), col("cv").cast("array<long>"),
                (a, b) => a - b).as("rmv"))
            .join(broadcast(bookDf), lit(true))
            .select(col("pid"), col("cell"), col("s"), col("code"),
              graft.ops.VectorExpressions.sqDist(
                slice(col("rmv"), col("s").cast("int") * sub + 1, lit(sub)),
                col("bv").cast("array<long>")).as("d"))
          restrictCells(snap.read("pq_codes"),
            probedCells.map(Long.unbox), cbN).drop("cb")
            .join(cand.select(col("pid"), col("id")), Seq("id"))
            .join(probeSide(table), Seq("pid", "cell", "s", "code"))
            .groupBy(col("pid"), col("id")).agg(sum(col("d")).as("adc"))
        }
      }
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("adc"), col("id"))
    flags.get("rerank").map(_.toInt) match {
      case None =>
        scored.withColumn("rnk", row_number().over(wTop).cast("long"))
          .filter(col("rnk") <= k)
          .select(col("pid").as("probe_id"), col("rnk"), col("id"),
            col("adc"))
          .orderBy(col("probe_id"), col("rnk"))
      case Some(n) =>
        // the q246 ladder at batch scale: per-probe ADC shortlist
        // (one WindowGroupLimit), ONE float-source rejoin for all
        // probes' shortlists, exact cosine re-rank per probe
        val shortlist = scored
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= n)
          .select(col("pid"), col("id"), col("adc"))
        val pf = src
          .filter(size(col(vecCol)) === dims)
          .select(col(idCol).cast("long").as("pid"), col(vecCol).as("pv"))
          .join(probeIds, Seq("pid"), "left_semi")
        val wCos = org.apache.spark.sql.expressions.Window
          .partitionBy(col("pid"))
          .orderBy(col("cos_x1e6").desc, col("id"))
        src.filter(size(col(vecCol)) === dims)
          .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
          .join(shortlist, Seq("id"))
          .join(probeSide(pf), Seq("pid"))
          .select(col("pid"), col("id"), col("adc"),
            round(round(graft.ops.Similarity.cosine(col("v"), col("pv")),
              6) * lit(1000000d)).cast("long").as("cos_x1e6"))
          .withColumn("rnk", row_number().over(wCos).cast("long"))
          .filter(col("rnk") <= k)
          .select(col("pid").as("probe_id"), col("rnk"), col("id"),
            col("adc"), col("cos_x1e6"))
          .orderBy(col("probe_id"), col("rnk"))
    }
  }

  /** BATCHED graph-tier serving: the q284 beam walk for EVERY probe
    * as ONE synchronized BSP traversal — per hop, all probes' beams
    * expand through a single graph join, all new candidates score in
    * a single float-source pass, and the per-probe beam prune is one
    * WindowGroupLimit. Per-probe semantics are IDENTICAL to the
    * single-probe `--tier graph` walk (same seeds, same
    * expand-score-prune rounds, same (cos desc, id) ties; the spec
    * checks the batch against per-probe replays and q286's oracle
    * unrolls every hop per probe in closed form).
    *
    * Scale trade vs the single-probe path: per-probe literal
    * pushdowns become per-hop JOINS against the graph and float
    * artifacts — a scan per hop AMORTIZED over the whole probe frame
    * (the batch bet everywhere in this file), with per-hop state
    * bounded at probes x beam rows and lineage cut per hop.
    */
  private def searchBatchGraph(spark: SparkSession, snap: Artifacts.Snapshot,
      src: DataFrame, probeIds: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, flags: Map[String, String]): DataFrame = {
    import spark.implicits._
    val idx = snap.idx
    val beam = flags.getOrElse("beam", "8").toInt
    val hops = flags.getOrElse("hops", "2").toInt
    require(k <= beam, s"--k $k must be <= --beam $beam")
    require(snap.has("knn_graph"),
      s"$idx has no knn_graph artifact (run `graph` first)")
    val cents = centroidArrays(snap)
    val dims = cents(0).length
    val cbN = cellBucketsOf(snap)
    val centsDf = cents.zipWithIndex
      .map { case (c, j) => (j.toLong, c.toSeq) }.toSeq.toDF("cell", "cv")

    val probes = graft.Scratch.cache(src
      .filter(size(col(vecCol)) === dims)
      .select(col(idCol).cast("long").as("pid"), col(vecCol).as("pv"),
        SemDedup.microsVec(col(vecCol)).as("pmv"))
      .join(probeIds, Seq("pid"), "left_semi"))
    // the same probe-count broadcast cap as the pq/sq8 batch path:
    // probe-derived frames (probe vectors, per-hop beam frames, the
    // ADC tables) broadcast under the cap, merge-hinted shuffle past
    // it — unbounded probe frames serve without exceeding executor
    // memory
    val maxBcast = flags.getOrElse("max-broadcast-probes", "65536").toLong
    val wRoute = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("cd"), col("cell"))
    val routed = graft.Scratch.cache(probes
      .join(broadcast(centsDf), lit(true))
      .select(col("pid"), col("cell"),
        graft.ops.VectorExpressions.sqDist(col("pmv"),
          col("cv").cast("array<long>")).as("cd"))
      .withColumn("rn", row_number().over(wRoute))
      .filter(col("rn") <= nprobe)
      .select(col("pid"), col("cell")))
    // one routing job yields the probed-cell union AND the probe
    // count for the broadcast-cap decision — see the pq/sq8 batch
    // path's note (round 18, VERDICT item 1)
    val (probedCells, nProbes) = {
      val r = routed.agg(
        collect_set(col("cell")).as("cells"),
        count_distinct(col("pid")).as("np")).head()
      (r.getSeq[Long](0), r.getLong(1))
    }
    val probeSide: DataFrame => DataFrame =
      df => if (nProbes <= maxBcast) broadcast(df) else df.hint("merge")

    val tombOpt =
      if (snap.has("tombstones"))
        Some(snap.read("tombstones").select(col("id")))
      else None
    val filterSql = flags.get("filter")
    val rerankN = flags.get("rerank").map(_.toInt)
    rerankN.foreach(n => require(n >= k, s"--rerank $n must be >= --k $k"))
    // candidate ADMISSION (tombstones + the --filter stratum
    // predicate over `id`), applied BEFORE every beam prune — the
    // single-probe walk's contract at batch scale
    def admit(cand: DataFrame): DataFrame = {
      val live = tombOpt.fold(cand)(ts =>
        cand.join(ts, Seq("id"), "left_anti"))
      filterSql.fold(live)(f => live.filter(expr(f)))
    }
    // traversal metric (the single-probe contract): exact cosine by
    // default; with --rerank the walk scores by PQ-ADC — one codes
    // join per hop for the whole frame, float source only at the tail
    val walkByAdc = rerankN.isDefined
    val residualW = walkByAdc && summaryFlag(snap, "residual")
    val adcTables: DataFrame = if (!walkByAdc) null else {
      val books = codebookArrays(snap)
      val pqM = books.length
      val sub = dims / pqM
      val bookDf = books.zipWithIndex.flatMap { case (bk, s) =>
        bk.zipWithIndex.map { case (c, j) => (s.toLong, j.toLong, c.toSeq) }
      }.toSeq.toDF("s", "code", "bv")
      if (!residualW)
        // per-(probe, s, code) tables, derived distributedly
        probes.join(broadcast(bookDf), lit(true))
          .select(col("pid"), col("s"), col("code"),
            graft.ops.VectorExpressions.sqDist(
              slice(col("pmv"), col("s").cast("int") * sub + 1, lit(sub)),
              col("bv").cast("array<long>")).as("d"))
      else
        // residual: keyed by the CANDIDATE's cell — walk candidates
        // live in any cell, so each probe derives all ivf_k tables
        probes.join(broadcast(centsDf), lit(true))
          .select(col("pid"), col("cell"),
            zip_with(col("pmv"), col("cv").cast("array<long>"),
              (a, b) => a - b).as("rmv"))
          .join(broadcast(bookDf), lit(true))
          .select(col("pid"), col("cell"), col("s"), col("code"),
            graft.ops.VectorExpressions.sqDist(
              slice(col("rmv"), col("s").cast("int") * sub + 1, lit(sub)),
              col("bv").cast("array<long>")).as("d"))
    }
    // score each admitted (pid, id) pair: one pass for the frame
    def scoreIds(cand0: DataFrame): DataFrame = {
      val live = admit(cand0)
      if (walkByAdc)
        snap.read("pq_codes")
          .join(live, Seq("id"))
          .join(adcTables,
            if (residualW) Seq("pid", "cell", "s", "code")
            else Seq("pid", "s", "code"))
          .groupBy(col("pid"), col("id")).agg(sum(col("d")).as("c"))
      else
        src.filter(size(col(vecCol)) === dims)
          .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
          .join(live, Seq("id"))
          .join(probeSide(probes.select(col("pid"), col("pv"))), Seq("pid"))
          .select(col("pid"), col("id"),
            round(round(graft.ops.Similarity.cosine(col("v"), col("pv")),
              6) * lit(1000000d)).cast("long").as("c"))
    }
    val wBeam = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid"))
      .orderBy(
        (if (walkByAdc) col("c").asc else col("c").desc), col("id"))
    // seeds: each probe's probed-cell members, scored, top-beam
    val seedCand = restrictCells(
      snap.read("assignments"), probedCells, cbN)
      .join(routed, Seq("cell"))
      .filter(col("id") =!= col("pid"))
      .select(col("pid"), col("id"))
    // Per-hop single-execution loop: each hop checkpoints and counts
    // only the newly scored pairs — one job, since count() over the
    // lazily-checkpointed frame computes the plan and pins the blocks.
    // The frontier is dead when none were scored (`fresh` anti-joins
    // the visited set); otherwise they union onto the already-
    // checkpointed visited frames, so no hop re-materializes the rows
    // earlier hops pinned.
    var visited = graft.Scratch.localCheckpoint(
      scoreIds(seedCand)
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= beam).drop("rn"))
    visited.count() // materializes the seed beam once
    val graphDf = snap.read("knn_graph")
    var hop = 0
    var frontierLive = true
    while (hop < hops && frontierLive) {
      val beamDf = visited
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= beam)
        .select(col("pid"), col("id"))
      // latest-version adjacency AFTER the frontier join (supersede-
      // on-read over beam x degree rows, never the artifact)
      val fresh = latestAdjacency(graphDf.join(probeSide(beamDf), Seq("id")))
        .select(col("pid"), col("nbr").as("id")).distinct()
        .filter(col("id") =!= col("pid"))
        .join(visited.select(col("pid"), col("id")),
          Seq("pid", "id"), "left_anti")
      val scored = graft.Scratch.localCheckpoint(scoreIds(fresh))
      if (scored.count() == 0) frontierLive = false
      else {
        visited = visited.unionByName(scored)
        hop += 1
      }
    }
    rerankN match {
      case None =>
        visited.withColumn("rnk", row_number().over(wBeam).cast("long"))
          .filter(col("rnk") <= k)
          .select(col("pid").as("probe_id"), col("rnk"), col("id"),
            col("c").as("cos_x1e6"))
          .orderBy(col("probe_id"), col("rnk"))
      case Some(n) =>
        // exact tail at batch scale: per-probe ADC shortlist (one
        // WindowGroupLimit), ONE float-source rejoin for the whole
        // frame, per-probe exact cosine re-rank — the pq-tier batch
        // rerank's shape over the walk's survivors
        val shortlist = visited
          .withColumn("rn", row_number().over(wBeam))
          .filter(col("rn") <= n)
          .select(col("pid"), col("id"), col("c").as("adc"))
        val wCos = org.apache.spark.sql.expressions.Window
          .partitionBy(col("pid"))
          .orderBy(col("cos_x1e6").desc, col("id"))
        src.filter(size(col(vecCol)) === dims)
          .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
          .join(shortlist, Seq("id"))
          .join(probeSide(probes.select(col("pid"), col("pv"))), Seq("pid"))
          .select(col("pid"), col("id"), col("adc"),
            round(round(graft.ops.Similarity.cosine(col("v"), col("pv")),
              6) * lit(1000000d)).cast("long").as("cos_x1e6"))
          .withColumn("rnk", row_number().over(wCos).cast("long"))
          .filter(col("rnk") <= k)
          .select(col("pid").as("probe_id"), col("rnk"), col("id"),
            col("adc"), col("cos_x1e6"))
          .orderBy(col("probe_id"), col("rnk"))
    }
  }
}
