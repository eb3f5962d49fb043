package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Scale design: brute-force top-k is a narrow map + TakeOrderedAndProject
  * (per-partition bounded heaps, no global sort) — the right baseline
  * even at 100 TB when k is small. The LSH variant buckets vectors by
  * random-hyperplane sign bits so near-dup pair generation touches
  * only same-bucket pairs.
  *
  * Cross-engine float determinism: dot products fold sequentially
  * (Spark `aggregate` is a strict left fold; the DuckDB oracle uses
  * `list_reduce` over the zipped products) so both engines add the
  * same doubles in the same order; outputs additionally round to 6
  * decimals to absorb any residual representation noise.
  */
object Similarity {

  /** Sequential-fold dot product of two float arrays as double —
    * higher-order-function formulation, kept as the differential
    * reference for the fused kernel (OpsSpec pins agreement).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Fused codegen cosine (bit-identical fold order to [[cosineHof]];
    * HOFs evaluate interpreted — see [[VectorKernels]]).
    */
  def cosine(a: Column, b: Column): Column = VectorExpressions.cosine(a, b)

  /** Hard-negative mining for contrastive training data: for each
    * anchor, the top-k most cosine-similar candidates whose TEXTS are
    * NOT near-duplicates of the anchor's — embedding-similar but
    * textually distinct, exactly the pairs a retrieval model learns
    * most from. Cross-modal composition: the ranking runs on the
    * vector modality (fused cosine kernel), the exclusion on the text
    * modality (a near-dup pair table, e.g. [[Dedup.minhashPairs]]).
    *
    * Shape: the anchor set is probe-sized and BROADCASTS over the
    * corpus (the kNN-join posture — the corpus never shuffles to be
    * scored); the exclusion is one symmetric anti-join on
    * (anchor, cand); per-anchor top-k is a rank window over
    * anchors x corpus scored rows, WindowGroupLimit-prunable.
    *
    * Anchor-set contract: anchors are the rows with `idCol` in
    * [0, nAnchors) — ids must be DENSE and ZERO-BASED (the fixture's
    * embedding ids are). For sparse/hashed/offset id spaces,
    * row_number the frame (or pre-map ids) first, or the filter
    * silently selects the wrong count — down to zero anchors.
    */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
      nearDupPairs: DataFrame, nAnchors: Int, k: Int): DataFrame = {
    val anchors = emb.filter(col(idCol) < nAnchors)
      .select(col(idCol).as("anchor_id"), col(vecCol).as("av"))
    val cands = emb.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val sym = nearDupPairs
      .select(col("id_a").as("anchor_id"), col("id_b").as("cand_id"))
      .union(nearDupPairs
        .select(col("id_b").as("anchor_id"), col("id_a").as("cand_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id")).orderBy(col("cos").desc, col("cand_id"))
    cands.crossJoin(broadcast(anchors))
      .filter(col("cand_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("cand_id"),
        round(cosine(col("cv"), col("av")), 6).as("cos"))
      .join(sym, Seq("anchor_id", "cand_id"), "left_anti")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("anchor_id"), col("cand_id"), col("cos"),
        col("rnk").cast("int").as("rnk"))
  }

  /** Matryoshka-truncation retrieval audit: per probe vector, how much
    * of the full-dimension top-k neighborhood survives when vectors are
    * truncated to their first `prefixDims` components — the number that
    * decides whether a cheaper truncated index is safe to ship. Output
    * one row per probe: (pid, overlap_at_k, overlap_permille).
    *
    * Probe/anchor contract matches [[hardNegatives]]: probes are the
    * rows with id in [0, nProbes), ids dense and zero-based.
    *
    * Shape: probes BROADCAST over the corpus (corpus never shuffles to
    * be scored); both rankings come from rank windows over the same
    * probes x corpus scored frame, so the audit costs ONE pass plus a
    * probe-keyed window sort. This is exact brute-force by design — an
    * audit over a bounded probe sample, not the serving path (that is
    * the IVF/LSH family, q38/q50/q58).
    */
  def truncationRecall(emb: DataFrame, idCol: String, vecCol: String,
      nProbes: Int, k: Int, prefixDims: Int): DataFrame =
    truncRanked(emb, idCol, vecCol, nProbes, prefixDims)
      .groupBy(col("pid"))
      .agg(sum(when(col("rf") <= k && col("rt") <= k, 1L).otherwise(0L))
        .cast("long").as("overlap_at_k"))
      .select(col("pid"), col("overlap_at_k"),
        expr(s"(overlap_at_k * 1000) DIV $k").as("overlap_permille"))

  /** Shared frame for the truncation audits: probes x corpus scored
    * once, ranked by full-dims and prefix-dims cosine.
    */
  private def truncRanked(emb: DataFrame, idCol: String, vecCol: String,
      nProbes: Int, prefixDims: Int): DataFrame = {
    require(nProbes >= 1 && prefixDims >= 1,
      s"need positive nProbes/prefixDims, got ($nProbes, $prefixDims)")
    val probes = emb.filter(col(idCol) < nProbes)
      .select(col(idCol).as("pid"), col(vecCol).as("pv"))
    val w = org.apache.spark.sql.expressions.Window
    val wF = w.partitionBy(col("pid")).orderBy(col("cos_full").desc, col("cid"))
    val wT = w.partitionBy(col("pid")).orderBy(col("cos_trunc").desc, col("cid"))
    emb.select(col(idCol).as("cid"), col(vecCol).as("cv"))
      .crossJoin(broadcast(probes))
      .filter(col("cid") =!= col("pid"))
      .select(col("pid"), col("cid"),
        round(cosine(col("cv"), col("pv")), 6).as("cos_full"),
        round(cosine(slice(col("cv"), 1, prefixDims),
          slice(col("pv"), 1, prefixDims)), 6).as("cos_trunc"))
      .withColumn("rf", row_number().over(wF))
      .withColumn("rt", row_number().over(wT))
  }

  /** Exact truncated rank-biased overlap (RBO, Webber et al.) at
    * depth k with persistence p = 9/10, between the full-dims and
    * prefix-dims rankings per probe:
    *   RBO@k = (1-p) * sum_{d=1..k} p^(d-1) * A_d / d
    * where A_d = |top_d(full) ∩ top_d(trunc)|. Unlike overlap@k, RBO
    * weights agreement at the TOP of the ranking — the metric that
    * matches what retrieval actually serves.
    *
    * Exact integers throughout: an item with ranks (rf, rt) joins the
    * intersection at depth max(rf, rt), so A_d is a cumulative count;
    * each term is scaled by 9^(d-1) * 10^(k-d) * (lcm(1..k) / d) —
    * integer by construction — and the single division to ppm happens
    * once at the end in DECIMAL(38,0)/HUGEINT. k <= 12 keeps the
    * scaled terms inside 2^63.
    *
    * Scale posture: identical to [[truncationRecall]] — one scored
    * pass, probe-keyed windows; the depth fan-out is k rows per
    * retained item (bounded by nProbes * k^2, probe-sized).
    */
  /** Exact-integer RBO weights for depth k, persistence 9/10: per-depth
    * scaled numerators 9^(d-1) * 10^(k-d) * (lcm(1..k)/d) and the
    * common denominator 10^k * lcm(1..k) — term_d * A_d summed over
    * depths, divided once by the denominator, IS (1-p)*sum p^(d-1)A_d/d
    * exactly. Shared with the q150 oracle so both engines scale terms
    * identically.
    */
  def rboWeights(k: Int): (Seq[Long], BigInt) = {
    require(k >= 1 && k <= 12, s"k must be in [1, 12], got $k")
    val lcmK = (1 to k).foldLeft(1L)((a, b) => a / gcd(a, b) * b)
    val coef = (1 to k).map(d =>
      (1 until d).foldLeft(1L)((a, _) => a * 9) *
        (1L to (k - d).toLong).foldLeft(1L)((a, _) => a * 10) *
        (lcmK / d))
    (coef, (1 to k).foldLeft(BigInt(1))((a, _) => a * 10) * lcmK)
  }

  def truncationRbo(emb: DataFrame, idCol: String, vecCol: String,
      nProbes: Int, k: Int, prefixDims: Int): DataFrame = {
    val (coef, denom) = rboWeights(k)
    val coefArr = array(coef.map(lit): _*)
    val scored = truncRanked(emb, idCol, vecCol, nProbes, prefixDims)
      .filter(col("rf") <= k && col("rt") <= k)
      .select(col("pid"),
        greatest(col("rf"), col("rt")).as("m"))
      // item joins A_d for every depth d >= m: explode the tail depths
      .select(col("pid"), explode(sequence(col("m"), lit(k))).as("d"))
      .groupBy(col("pid"), col("d")).agg(count(lit(1)).as("a_d"))
      .select(col("pid"),
        (element_at(coefArr, col("d").cast("int")) * col("a_d"))
          .as("term"))
      .groupBy(col("pid"))
      .agg(sum(col("term").cast("decimal(38,0)")).as("s"))
      .select(col("pid"),
        expr(s"CAST((s * 1000000) DIV CAST('$denom' AS DECIMAL(38,0)) " +
          "AS BIGINT)").as("rbo_ppm"))
    // a probe whose rankings share NOTHING in the top k emits no rows
    // above — it must still report rbo_ppm = 0
    emb.filter(col(idCol) < nProbes).select(col(idCol).as("pid"))
      .join(scored, Seq("pid"), "left")
      .select(col("pid"), coalesce(col("rbo_ppm"), lit(0L)).as("rbo_ppm"))
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Brute-force cosine top-k against one query vector (plans as
    * TakeOrderedAndProject).
    */
  def topKCosine(embeddings: DataFrame, idCol: String, vecCol: String,
      queryVec: Column, k: Int): DataFrame =
    embeddings
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), round(cosine(col("v"), queryVec), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)

  /** Deterministic integer hyperplane weights, reproducible in SQL:
    * w(plane, dim) = hex32(md5(plane + "_" + dim)) % 1001 - 500.
    * Computed driver-side with the same md5 formula the oracle uses.
    */
  def hyperplanes(planes: Int, dims: Int): Array[Array[Int]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dims) { (p, d) =>
      val hex = mdig.digest(s"${p}_$d".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 1001L - 500L).toInt
    }
  }

  /** Sign-bit LSH bucket id from `planes` integer hyperplanes: bit p
    * set when dot(v, w_p) >= 0 — HOF formulation, differential
    * reference for the fused kernel.
    */
  def lshBucketHof(vec: Column, planes: Array[Array[Int]]): Column =
    planes.zipWithIndex.map { case (w, p) =>
      val wLit = typedLit(w.toSeq)
      val d = aggregate(
        zip_with(vec, wLit, (x, wi) => x.cast("double") * wi.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Fused codegen LSH bucket: one pass over the vector for all
    * planes, weights ride inside the expression.
    */
  def lshBucket(vec: Column, planes: Array[Array[Int]]): Column =
    VectorExpressions.lshBucket(vec, planes)

  /** LSH-accelerated ANN: probe only the query's bucket, then rank.
    * Recall < 1 by construction — the scale path; pair with
    * [[topKCosine]] as the exact baseline.
    */
  def topKCosineLsh(embeddings: DataFrame, idCol: String, vecCol: String,
      queryVec: Column, k: Int, planes: Array[Array[Int]]): DataFrame = {
    val bucketed = embeddings
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        lshBucket(col(vecCol), planes).as("bucket"))
    val qBucket = lshBucket(queryVec, planes)
    bucketed
      .filter(col("bucket") === qBucket)
      .select(col("id"), round(cosine(col("v"), queryVec), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Multi-probe LSH ANN: probe every bucket within `maxFlip` sign-bit
    * flips of the query's bucket (9 buckets for 8 planes at maxFlip=1)
    * — the standard recall repair for sign-LSH, trading a constant
    * factor of scanned buckets for recall instead of more tables.
    * Recall still < 1; [[topKCosine]] remains the exact baseline.
    */
  def topKCosineLshMultiProbe(embeddings: DataFrame, idCol: String,
      vecCol: String, queryVec: Column, k: Int,
      planes: Array[Array[Int]], maxFlip: Int = 1): DataFrame = {
    val bucketed = embeddings
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        lshBucket(col(vecCol), planes).as("bucket"))
    val qBucket = lshBucket(queryVec, planes)
    // bucket distance = popcount of XOR over the plane sign bits
    bucketed
      .filter(bit_count(col("bucket").bitwiseXOR(qBucket)) <= maxFlip)
      .select(col("id"), round(cosine(col("v"), queryVec), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Batch ANN / kNN join: top-k corpus neighbors for EVERY query
    * vector at once — the shape real pipelines use (a probe set, not
    * one vector). Corpus and probes are bucketed by the same planes;
    * the probe side broadcasts (queries are small relative to the
    * corpus), so the corpus is never shuffled for the join — only the
    * same-bucket candidates pay the per-query ranking window.
    */
  def knnJoinLsh(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, planes: Array[Array[Int]]): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"),
      lshBucket(col(qvecCol), planes).as("bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    c.join(broadcast(q), Seq("bucket"))
      .withColumn("cos", round(cosine(col("v"), col("qv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id"), col("cos"), col("rn"))
  }

  /** IVF (inverted-file) coarse quantizer: `k` centroids refined with
    * `iters` Lloyd iterations from a deterministic seed. Returns
    * (cluster -> centroid array) collected to the driver: centroids
    * are dimension-count-sized, never data-sized.
    *
    * Seeding: the k lowest-id vectors — the oracle-pinned
    * deterministic mode (q38/q58 hash against it).
    */
  def ivfCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 2, sampleMod: Int = 1)
      : Array[(Int, Array[Double])] = {
    val dims = embeddings.select(size(col(vecCol))).head().getInt(0)
    // Lloyd refinement needs representative centroids, not the full
    // corpus: with sampleMod > 1 each iteration scans a deterministic
    // 1/sampleMod hash-slice instead of everything — the 100 TB
    // posture (the assignment pass in topKCosineIvf stays full). A
    // hash filter, not .sample(): reproducible across partitionings.
    val refineCorpus =
      if (sampleMod <= 1) embeddings
      else embeddings.filter(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
    var centroids: Array[(Int, Array[Double])] = embeddings
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](0).toArray.map(_.toDouble) }
    (0 until iters).foreach { _ =>
      val assigned = assignClusters(refineCorpus, vecCol, centroids)
      val sums = assigned
        .select(col("_cluster"),
          posexplode(col(vecCol)).as(Seq("_d", "_x")))
        .groupBy(col("_cluster"), col("_d"))
        .agg(sum(col("_x").cast("double")).as("_s"), count(lit(1)).as("_n"))
        .collect()
      val byCluster = sums.groupBy(_.getInt(0))
      centroids = centroids.map { case (c, old) =>
        byCluster.get(c) match {
          case None => c -> old // empty cluster keeps its centroid
          case Some(rows) =>
            val v = new Array[Double](dims)
            rows.foreach(r => v(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
            c -> v
        }
      }
    }
    centroids
  }

  /** Assign each vector to its nearest centroid (max cosine; ties to
    * the lowest cluster id) via the fused
    * [[VectorExpressions.nearestCentroidCos]] kernel — the codebook
    * rides as a reference object, so the plan stays constant-size at
    * ANY cell count (the former per-centroid `typedLit` struct stack
    * embedded k x dims literal doubles into the plan and re-analyzed
    * them on every use — a hard ceiling at the thousands of IVF
    * cells a 100 TB corpus wants). Semantics identical, NaN ordering
    * included (kernel scaladoc); the SemDedupSpec/OpsSpec battery
    * and every IVF oracle hash pin it.
    */
  def assignClusters(embeddings: DataFrame, vecCol: String,
      centroids: Array[(Int, Array[Double])]): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    embeddings.withColumn("_cluster",
      graft.ops.VectorExpressions.nearestCentroidCos(col(vecCol),
        sorted.map(_._2), sorted.map(_._1)))
  }

  /** IVF-probed ANN: rank the query's `nprobe` nearest clusters, scan
    * only vectors assigned there, brute-force top-k within. The scan
    * touches ~nprobe/k of the corpus — the 100 TB path when LSH
    * bucket skew is a concern.
    */
  def topKCosineIvf(embeddings: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], kNearest: Int,
      centroids: Array[(Int, Array[Double])], nprobe: Int): DataFrame = {
    val probes = centroids
      .map { case (c, w) => c -> cosScalar(queryVec, w) }
      .sortBy { case (c, s) => (-s, c) }
      .take(nprobe).map(_._1).toSet
    val qLit = typedLit(queryVec.toSeq)
    assignClusters(embeddings, vecCol, centroids)
      .filter(col("_cluster").isin(probes.toSeq: _*))
      .select(col(idCol).as("id"), round(cosine(col(vecCol), qLit), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(kNearest)
  }

  /** Predicate-constrained (filtered) IVF probe, PRE-filter strategy:
    * search within a stratum (same-language near-dup, same-source
    * contamination, ...) by applying `predicate` INSIDE the probed
    * cells before ranking. Both the cell-membership filter and the
    * predicate reach the scan (at 100 TB, a cell-partitioned layout
    * makes the probe a partition-pruned read and the predicate a
    * pushed filter on it), so the candidate volume is
    * selectivity x nprobe/k of the corpus. Any true filtered
    * neighbor that lives in a probed cell is returned by
    * construction — pre-filtering can never lose a probed-cell
    * member to the predicate, which is why it dominates post-filter
    * at low selectivity (q245's measured sweep).
    */
  def topKCosineIvfFiltered(embeddings: DataFrame, idCol: String,
      vecCol: String, queryVec: Array[Double], kNearest: Int,
      centroids: Array[(Int, Array[Double])], nprobe: Int,
      predicate: Column): DataFrame = {
    val probes = centroids
      .map { case (c, w) => c -> cosScalar(queryVec, w) }
      .sortBy { case (c, s) => (-s, c) }
      .take(nprobe).map(_._1).toSet
    val qLit = typedLit(queryVec.toSeq)
    assignClusters(embeddings.filter(predicate), vecCol, centroids)
      .filter(col("_cluster").isin(probes.toSeq: _*))
      .select(col(idCol).as("id"), round(cosine(col(vecCol), qLit), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(kNearest)
  }

  /** Predicate-constrained IVF probe, POST-filter strategy: rank the
    * top `kNearest * overFetch` of the probed cells WITHOUT the
    * predicate, then filter and truncate to k. The shape a serving
    * stack is forced into when the predicate is not available at
    * scan time (late-bound ACLs, a joined attribute); recall decays
    * with selectivity — at selectivity s the over-fetch window holds
    * ~s·k·overFetch stratum members, so low-selectivity strata
    * starve (q245 measures the decay against pre-filter).
    */
  def topKCosineIvfPostFiltered(embeddings: DataFrame, idCol: String,
      vecCol: String, queryVec: Array[Double], kNearest: Int,
      centroids: Array[(Int, Array[Double])], nprobe: Int,
      predicate: Column, overFetch: Int = 4): DataFrame = {
    val probes = centroids
      .map { case (c, w) => c -> cosScalar(queryVec, w) }
      .sortBy { case (c, s) => (-s, c) }
      .take(nprobe).map(_._1).toSet
    val qLit = typedLit(queryVec.toSeq)
    assignClusters(embeddings, vecCol, centroids)
      .filter(col("_cluster").isin(probes.toSeq: _*))
      .select(col(idCol).as("id"), predicate.as("_keep"),
        round(cosine(col(vecCol), qLit), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(kNearest * overFetch)
      .filter(col("_keep"))
      .select(col("id"), col("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(kNearest)
  }

  private def cosScalar(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Angular radius of each IVF cell: the max angle between a member
    * and its centroid. One distributed pass at index-build time; the
    * result is k scalars on the driver (never data-sized). Requires
    * centroid ids 0..k-1 (ivfCentroids' output shape).
    */
  def ivfCellRadii(embeddings: DataFrame, vecCol: String,
      centroids: Array[(Int, Array[Double])]): Array[(Int, Double)] = {
    val ordered = centroids.sortBy(_._1)
    val cosOwn = element_at(
      array(ordered.map { case (_, w) =>
        cosine(col(vecCol), typedLit(w.toSeq)) }: _*),
      col("_cluster") + 1)
    assignClusters(embeddings, vecCol, centroids)
      .select(col("_cluster").as("c"),
        acos(least(lit(1.0), greatest(lit(-1.0), cosOwn))).as("ang"))
      .groupBy(col("c")).agg(max(col("ang")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
  }

  /** EXACT top-k via IVF with spherical triangle-inequality pruning:
    * recall is 10/10 by construction, not a tuning outcome.
    *
    * Cosine depends only on direction, so cells live on the unit
    * sphere; for a query q, cell centroid c with angle theta(q,c) and
    * cell radius r_c, no member of the cell can beat
    * cos(max(0, theta(q,c) - r_c)). Pass 1 scans the `nprobe`
    * angularly-nearest cells and takes their top-k; pass 2 scans only
    * the remaining cells whose bound can still beat the current k-th
    * best (with a 1e-6 margin absorbing the 6-decimal output
    * rounding). On clustered corpora pass 2 is empty or tiny; on
    * pathological (uniform) corpora it degrades gracefully toward a
    * full scan — but never returns a wrong answer, which is what lets
    * q58's oracle assert IVF top-k == brute-force top-k exactly.
    *
    * At 100 TB the `assignClusters` recomputation would be a
    * materialized index column (partition/bucket by cell) so each pass
    * is a partition-pruned read; the probe logic is unchanged.
    */
  def topKCosineIvfExact(embeddings: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], kNearest: Int,
      centroids: Array[(Int, Array[Double])], radii: Array[(Int, Double)],
      nprobe: Int): DataFrame = {
    val (cells, df) = topKCosineIvfExactWithCells(
      embeddings, idCol, vecCol, queryVec, kNearest, centroids, radii, nprobe)
    val _ = cells
    df
  }

  /** [[topKCosineIvfExact]] plus the probed cell set (for tests that
    * assert the pruning actually prunes).
    */
  def topKCosineIvfExactWithCells(embeddings: DataFrame, idCol: String,
      vecCol: String, queryVec: Array[Double], kNearest: Int,
      centroids: Array[(Int, Array[Double])], radii: Array[(Int, Double)],
      nprobe: Int): (Set[Int], DataFrame) = {
    val theta = centroids.map { case (c, w) =>
      c -> math.acos(math.max(-1.0, math.min(1.0, cosScalar(queryVec, w))))
    }.toMap
    val rad = radii.toMap
    val initial = theta.toSeq.sortBy { case (c, th) => (th, c) }
      .take(nprobe).map(_._1).toSet
    val qLit = typedLit(queryVec.toSeq)
    val assigned = assignClusters(embeddings, vecCol, centroids)
    def scanCells(cells: Set[Int]): DataFrame =
      assigned.filter(col("_cluster").isin(cells.toSeq: _*))
        .select(col(idCol).as("id"), round(cosine(col(vecCol), qLit), 6).as("cos"))
        .orderBy(col("cos").desc, col("id").asc)
        .limit(kNearest)
    val first = scanCells(initial).collect()
    // k-th best so far; if pass 1 found fewer than k, every cell whose
    // bound beats "nothing" must be probed
    val t = if (first.length < kNearest) -2.0 else first.last.getDouble(1)
    val extra = centroids.map(_._1).filterNot(initial)
      .filter { c =>
        val bound = math.cos(math.max(0.0, theta(c) - rad.getOrElse(c, 0.0)))
        bound >= t - 1e-6
      }.toSet
    val cells = initial ++ extra
    (cells, scanCells(cells))
  }

  /** Per-group mean-pooled centroid of a vector column, in the
    * dimension-pivoted layout that scales: posexplode to
    * (group, dim, x) rows, one hash aggregation keyed by (group, dim)
    * — partial map-side combine applies, no vector objects ride the
    * shuffle, and width-D vectors never concentrate on one task. The
    * flat (group, dim) output IS the scale-correct representation;
    * reassembling arrays is a narrow collect_list away when needed.
    *
    * Exactness: sums are exact for integer-valued components (the
    * multimodal feature vectors); the milli-mean uses floor over a
    * double division of exact integers — identical in IEEE math on
    * both engines.
    */
  def groupCentroids(vectors: DataFrame, groupCol: Column, vecCol: String): DataFrame =
    vectors
      .select(groupCol.as("grp"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("grp"), col("dim"), col("x").cast("long").as("x"))
      .groupBy(col("grp"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("total"))
      .withColumn("mean_milli",
        floor(col("total") * 1000.0 / col("n")).cast("long"))

  /** Embedding drift across ingestion batches: per-batch fixed-point
    * centroid (truncating integer mean of the micros view per dim)
    * plus, for every batch after the first, the squared L2 shift from
    * the PREVIOUS batch's centroid — the embedding-space monitoring
    * card that catches a re-trained encoder, a corrupted shard, or a
    * distribution break between ingestion waves. Also reports each
    * centroid's squared norm (drift toward/away from the origin).
    *
    * `batchCol` is any integer batch key (a date bucket, a shard
    * index, an ingestion wave). All arithmetic is exact integer
    * micros, so DuckDB replays it bit-for-bit.
    *
    * 100 TB posture: the corpus collapses in ONE pass to the
    * (batch × dims) centroid frame (posexplode + map-side-combined
    * sum/count — the per-partition partial is batch × dims rows, not
    * corpus rows); the shift join and norms live entirely on that
    * centroid-domain frame. Centroid sums hold to ~2^43 rows per
    * batch (|m| <= 2^20 for unit-scale floats).
    */
  def batchCentroidDrift(df: DataFrame, idCol: String, vecCol: String,
      batchCol: Column, dims: Int): DataFrame = {
    val base = df.filter(size(col(vecCol)) === dims)
      .select(batchCol.cast("long").as("batch"),
        graft.ops.VectorExpressions.microsVec(col(vecCol)).as("mv"))
    // (batch x dims) centroid frame read three times downstream —
    // cache it so the corpus collapses once
    val cent = graft.Scratch.cache(base
      .select(col("batch"), posexplode(col("mv")).as(Seq("i", "m")))
      .groupBy(col("batch"), col("i"))
      .agg(sum(col("m")).as("s"), count(lit(1)).as("cnt"))
      .select(col("batch"), col("i"), expr("s DIV cnt").as("c"), col("cnt")))
    centroidDriftFrom(cent)
  }

  /** The drift card from a pre-built `(batch, i, c, cnt)` centroid
    * frame — shared by [[batchCentroidDrift]] and the streaming
    * embodiment, whose micro-batches append additive `(batch, i,
    * sum, count)` partials that re-sum to the same centroids (sums
    * are additive; the truncating mean is taken ONCE, at read time).
    *
    * "Previous batch" means the previous batch key IN SORT ORDER,
    * not `batch - 1`: the distinct keys are dense-ranked first, so a
    * gapped key sequence (e.g. yyyymmdd buckets across a month end)
    * still drifts against the actual prior wave. The rank frame is
    * batch-domain (a handful of rows), computed with a single-
    * partition window by design — never corpus-domain; the marker
    * partition key (column-derived zero, [[graft.ops.Prefix
    * .markerZero]]) keeps that intent explicit in the plan instead
    * of tripping WindowExec's no-partition warning on every run.
    */
  def centroidDriftFrom(cent: DataFrame): DataFrame = {
    val rk = cent.select(col("batch")).distinct()
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.ops.Prefix.markerZero(col("batch")))
          .orderBy(col("batch"))))
    val ranked = cent.join(broadcast(rk), Seq("batch"))
    val nv = cent.filter(col("i") === 0)
      .select(col("batch"), col("cnt").as("n_vecs"))
    val prev = ranked.select((col("rk") + 1).as("rk"), col("i"),
      col("c").as("cp"))
    val shift = ranked.join(broadcast(prev), Seq("rk", "i"), "left")
      .groupBy(col("batch"))
      .agg(sum(when(col("cp").isNotNull,
          (col("c") - col("cp")) * (col("c") - col("cp")))).as("shift_sq"),
        sum(col("c") * col("c")).as("centroid_norm_sq"))
    // both sides are batch-domain (tiny); hint the stitched side so
    // the plan never sort-merges frames statistics can't size
    nv.join(broadcast(shift), Seq("batch")).orderBy(col("batch"))
  }

  /** Embedding near-duplicate pairs: LSH-bucket self-join, then exact
    * cosine >= minCos (rounded compare). Only same-bucket pairs are
    * ever materialized.
    */
  def nearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Int]], minCos: Double): DataFrame = {
    val bucketed = embeddings.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val a = bucketed.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** OR-construction near-dup pairs over L independent plane tables:
    * a pair is a candidate when ANY table buckets it together. With
    * per-plane agreement probability p = 1 - theta/pi (theta = the
    * pair's angle), a b-plane table buckets the pair together with
    * probability p^b, so
    *
    *   recall(L tables x b planes) = 1 - (1 - p^b)^L.
    *
    * Wider tables sharpen precision (bucket space 2^b, fewer random
    * collisions in the self-joins) while more tables repair the recall
    * that widening costs: e.g. at cos 0.95 (theta ~ 0.1*pi, p ~ 0.9),
    * one 8-plane table gives 0.43 recall over 256 buckets; 3 x 16
    * planes give 1-(1-0.185)^3 ~ 0.46 over 65536 buckets — similar
    * recall, 256x fewer candidates per bucket; 8 x 16 reach ~0.8.
    * This is the scale path when one table's bucket space is too
    * coarse (round-1 verdict on the 8-plane/256-bucket single table).
    * Each table contributes one bucket self-join; a pair is emitted
    * only from the FIRST table that buckets it together (same
    * no-dedup-shuffle trick as the simhash bands), so the union is
    * exactly-once without a distinct shuffle.
    */
  def nearDupPairsMultiTable(embeddings: DataFrame, idCol: String,
      vecCol: String, planeTables: Seq[Array[Array[Int]]],
      minCos: Double, chunkRows: Int = Int.MaxValue): DataFrame = {
    val bucketCols = planeTables.zipWithIndex.map { case (p, t) =>
      lshBucket(col(vecCol), p).as(s"b$t")
    }
    val bucketed = graft.Scratch.cache(embeddings.select(
      (col(idCol).as("id") +: col(vecCol).as("v") +: bucketCols): _*)
      ) // every per-table self-join side reads it
    val tables = planeTables.indices.map { t =>
      val aSide = bucketed.select(
        col(s"b$t").as("bk") +: col("id").as("id_a") +: col("v").as("v_a") +:
          (0 until t).map(u => col(s"b$u").as(s"a$u")): _*)
      val bSide = bucketed.select(
        col(s"b$t").as("bk") +: col("id").as("id_b") +: col("v").as("v_b") +:
          (0 until t).map(u => col(s"b$u").as(s"bb$u")): _*)
      val met =
        if (chunkRows == Int.MaxValue) aSide.join(bSide, Seq("bk"))
        else {
          // Skew-parallel grid decomposition: a hot bucket (n rows)
          // otherwise lands its whole n^2/2 pair enumeration in ONE
          // shuffle task — the measured single-thread tail of the
          // x512 graph build (SCALING.md round 14). Split each bucket
          // into S = ceil(n/chunkRows) row-chunks and join on grid
          // cell (bk, ga, gb): an a-row sits in one row-chunk ga and
          // meets every column-chunk gb (exploded), a b-row the
          // mirror, so unordered pair (x, y) with id_x < id_y meets
          // in EXACTLY cell (ga(x), gb(y)) — the same pair set,
          // exactly once, now across S^2 tasks. Cold buckets get
          // S = 1 (the explode is a no-op); S is data-adaptive from
          // a per-bucket count joined back (no driver collect).
          val cnts = bucketed.groupBy(col(s"b$t").as("bk"))
            .agg(count(lit(1)).as("gn"))
          val gS = ceil(col("gn") / lit(chunkRows.toDouble)).cast("int")
          val aG = aSide.join(cnts, Seq("bk"))
            .withColumn("ga",
              pmod(xxhash64(col("id_a")), gS.cast("long")).cast("int"))
            .withColumn("gb",
              explode(sequence(lit(0), gS - 1)))
            .drop("gn")
          val bG = bSide.join(cnts, Seq("bk"))
            .withColumn("gb",
              pmod(xxhash64(col("id_b")), gS.cast("long")).cast("int"))
            .withColumn("ga",
              explode(sequence(lit(0), gS - 1)))
            .drop("gn")
          aG.join(bG, Seq("bk", "ga", "gb")).drop("ga", "gb")
        }
      val joined = met.filter(col("id_a") < col("id_b"))
      // drop pairs already found by an earlier table
      val fresh = (0 until t).foldLeft(joined) { (df, u) =>
        df.filter(col(s"a$u") =!= col(s"bb$u"))
      }
      fresh.select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
    }
    tables.reduce(_ unionByName _).filter(col("cos") >= minCos)
  }

  /** kNN-GRAPH construction — the batch analog of the graph-based
    * ANN (HNSW-class) index-build step, and the edge source for the
    * graph suite (k-core / triangles / label propagation run over
    * exactly this shape of (node, neighbor) list): LSH-blocked
    * candidate pairs -> exact cosine verify -> per-node top-k edges.
    *
    * Candidates come from [[nearDupPairsMultiTable]]'s OR-construction
    * (L plane tables, first-table-wins exactly-once emission — a pair
    * is verified ONCE no matter how many tables bucket it together);
    * each undirected verified pair then feeds BOTH endpoints'
    * neighbor lists, and each node keeps its k best by
    * (cos desc, neighbor id). `minCos` floors the edges (a kNN graph
    * for clustering usually wants a similarity floor; pass -1.0 to
    * keep every verified candidate).
    *
    * 100 TB posture: no cartesian anywhere — candidate volume is the
    * sum of per-bucket self-join fan-outs (tunable by plane count),
    * the verify is one fused-kernel pass over the candidate pairs,
    * and the per-node ranking is one hash-partitioned window over
    * candidates (WindowGroupLimit pushes the top-k below the sort at
    * shuffle time). Returns (id, nbr, cos, rn).
    */
  /** Observability counter: knnGraph invocations in this JVM — the
    * engine's most expensive derivation, so the index CLI's retry
    * contract (derive ONCE, retry metadata-only; round 16) is pinned
    * against it by IndexCorpusSpec's raced-build test.
    */
  private[graft] val knnGraphCalls =
    new java.util.concurrent.atomic.AtomicLong(0L)

  def knnGraph(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, planeTables: Seq[Array[Array[Int]]],
      minCos: Double = -1.0, chunkRows: Int = Int.MaxValue): DataFrame = {
    knnGraphCalls.incrementAndGet()
    val pairs = graft.Scratch.cache(
      nearDupPairsMultiTable(embeddings, idCol, vecCol, planeTables,
        minCos, chunkRows)) // both mirror arms below read it
    val mirrored = pairs
      .select(col("id_a").as("id"), col("id_b").as("nbr"), col("cos"))
      .unionByName(pairs
        .select(col("id_b").as("id"), col("id_a").as("nbr"), col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("cos").desc, col("nbr").asc)
    mirrored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** APPEND-side candidate generator for an incrementally maintained
    * kNN graph: exactly the pairs [[nearDupPairsMultiTable]] over
    * `all` would emit whose AT LEAST ONE endpoint is in `newIds` —
    * per table, the all-side meets only the NEW side's buckets, so
    * the join fan-out is proportional to the append wave, never the
    * corpus (an append must not repay the build — the graph twin of
    * the tombstone-delete discipline). Cross-table exactly-once by
    * the same first-table-wins rule; within a table an (old, new)
    * pair emits once by construction and a (new, new) pair
    * canonicalizes to id_a < id_b. Same (id_a, id_b, cos) contract:
    * cosine rounded to 6dp, floored at `minCos`.
    *
    * `broadcastWave = true` (round 17) selects the wave-proportional
    * physical shape: the new side broadcasts and the corpus side is a
    * per-table map-side scan — no corpus cache, no corpus shuffle —
    * for identical output (see the inline contract note). Callers
    * gate it on the wave's row count ([[graft.tools.IndexCorpus]]'s
    * `--max-broadcast-wave`).
    */
  def knnGraphAppendPairs(all: DataFrame, newIds: DataFrame,
      idCol: String, vecCol: String,
      planeTables: Seq[Array[Array[Int]]], minCos: Double,
      chunkRows: Int = Int.MaxValue,
      broadcastWave: Boolean = false): DataFrame = {
    val bucketCols = planeTables.zipWithIndex.map { case (p, t) =>
      lshBucket(col(vecCol), p).as(s"b$t")
    }
    // WAVE-PROPORTIONAL shape (round 17 — the SCALING.md finding that
    // at sized resolution "append ≈ full rebuild": the cost was never
    // the pair volume, it was the corpus-side PREPARATION — caching
    // the whole corpus with L bucket columns and shuffling it per
    // plane table for the bucket join). When the wave is small enough
    // to broadcast, the corpus side never shuffles and never caches:
    // each table is ONE map-side pass over the corpus scan (hash the
    // buckets, hash-join the broadcast wave, emit + verify pairs), so
    // the append costs bands linear scans + the wave-proportional
    // verify fan-out, not a corpus materialization. Same pair set by
    // construction — identical join keys and filters, only the
    // physical join strategy changes (q294/q298 share the full
    // rebuild's oracle, which pins it). The skew grid is moot here:
    // a hot bucket's enumeration spreads across the corpus scan's
    // input partitions instead of landing on one shuffle task.
    if (broadcastWave) {
      val newFlag = broadcast(newIds.select(col("id"), lit(1L).as("isn")))
      def marked = all.select(
        (col(idCol).as("id") +: col(vecCol).as("v") +: bucketCols): _*)
        .join(newFlag, Seq("id"), "left")
        .withColumn("isn", coalesce(col("isn"), lit(0L)))
      // the wave side IS wave-sized: checkpoint it once, broadcast per
      // table; the corpus side re-derives from the scan per table
      val waveSide = graft.Scratch.localCheckpoint(
        marked.filter(col("isn") === 1L))
      val tables = planeTables.indices.map { t =>
        val aSide = marked.select(
          col(s"b$t").as("bk") +: col("id").as("id_a") +:
            col("v").as("v_a") +: col("isn").as("isn_a") +:
            (0 until t).map(u => col(s"b$u").as(s"a$u")): _*)
        val bSide = waveSide.select(
          col(s"b$t").as("bk") +: col("id").as("id_b") +:
            col("v").as("v_b") +:
            (0 until t).map(u => col(s"b$u").as(s"bb$u")): _*)
        val joined = aSide.join(broadcast(bSide), Seq("bk"))
          .filter(col("id_a") =!= col("id_b"))
          .filter(col("isn_a") === 0L || col("id_a") < col("id_b"))
        val fresh = (0 until t).foldLeft(joined) { (df, u) =>
          df.filter(col(s"a$u") =!= col(s"bb$u"))
        }
        fresh.select(col("id_a"), col("id_b"),
          round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      }
      return tables.reduce(_ unionByName _).filter(col("cos") >= minCos)
    }
    val marked = graft.Scratch.cache(all.select(
      (col(idCol).as("id") +: col(vecCol).as("v") +: bucketCols): _*)
      .join(broadcast(newIds.select(col("id"), lit(1L).as("isn"))),
        Seq("id"), "left")
      .withColumn("isn", coalesce(col("isn"), lit(0L))))
    val tables = planeTables.indices.map { t =>
      val aSide = marked.select(
        col(s"b$t").as("bk") +: col("id").as("id_a") +: col("v").as("v_a") +:
          col("isn").as("isn_a") +:
          (0 until t).map(u => col(s"b$u").as(s"a$u")): _*)
      val bSide = marked.filter(col("isn") === 1L).select(
        col(s"b$t").as("bk") +: col("id").as("id_b") +: col("v").as("v_b") +:
          (0 until t).map(u => col(s"b$u").as(s"bb$u")): _*)
      val met =
        if (chunkRows == Int.MaxValue) aSide.join(bSide, Seq("bk"))
        else {
          // Same skew-parallel grid as [[nearDupPairsMultiTable]],
          // asymmetric: the a-side (whole corpus) chunks by ITS
          // per-bucket count, the b-side (the append wave) by its
          // own — a hot bucket's n_all x n_new enumeration spreads
          // over Sa x Sb tasks. Buckets with no new rows drop at the
          // count join (they contribute no pairs either way).
          val cntA = marked.groupBy(col(s"b$t").as("bk"))
            .agg(count(lit(1)).as("gna"))
          val cntB = marked.filter(col("isn") === 1L)
            .groupBy(col(s"b$t").as("bk"))
            .agg(count(lit(1)).as("gnb"))
          val cnts = cntA.join(cntB, Seq("bk"))
          val gSa = ceil(col("gna") / lit(chunkRows.toDouble)).cast("int")
          val gSb = ceil(col("gnb") / lit(chunkRows.toDouble)).cast("int")
          val aG = aSide.join(cnts, Seq("bk"))
            .withColumn("ga",
              pmod(xxhash64(col("id_a")), gSa.cast("long")).cast("int"))
            .withColumn("gb", explode(sequence(lit(0), gSb - 1)))
            .drop("gna", "gnb")
          val bG = bSide.join(cnts, Seq("bk"))
            .withColumn("gb",
              pmod(xxhash64(col("id_b")), gSb.cast("long")).cast("int"))
            .withColumn("ga", explode(sequence(lit(0), gSa - 1)))
            .drop("gna", "gnb")
          aG.join(bG, Seq("bk", "ga", "gb")).drop("ga", "gb")
        }
      val joined = met.filter(col("id_a") =!= col("id_b"))
        // (new, new) pairs appear in both orders; (old, new) only as
        // a = old (the b side is new-only)
        .filter(col("isn_a") === 0L || col("id_a") < col("id_b"))
      val fresh = (0 until t).foldLeft(joined) { (df, u) =>
        df.filter(col(s"a$u") =!= col(s"bb$u"))
      }
      fresh.select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
    }
    tables.reduce(_ unionByName _).filter(col("cos") >= minCos)
  }

  /** Exact retrieval-quality metrics for a bounded anchor sample:
    * each anchor (ids in [0, nAnchors), [[hardNegatives]]' contract)
    * ranks the whole corpus by cosine (ties broken by candidate id)
    * and relevance = label equality. Emits per anchor, all integer-
    * exact under truncating division: total relevant count, hits in
    * the top-k, rank of the first relevant hit (0 = none),
    * `mrr_x1e6 = 1e6 DIV first_rank`, and
    * `ap_x1e6 = (sum over relevant top-k hits of relcum * 1e6 DIV
    * rank) DIV min(n_rel, k)` — truncated average precision.
    *
    * Scale posture = [[truncationRecall]]: an AUDIT over a bounded
    * probe set, not a serving path. Anchors broadcast; the corpus is
    * scored in place and each anchor's ranking is one window
    * partition (corpus-sized rows per anchor — acceptable because
    * nAnchors is a small constant; the serving-scale family is
    * IVF/LSH, q38/q50/q58).
    */
  def retrievalMetrics(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, nAnchors: Int, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    val ws = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val anchors = emb.filter(col(idCol) < nAnchors)
      .select(col(idCol).as("anchor_id"), col(vecCol).as("av"),
        col(labelCol).as("al"))
    emb.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        col(labelCol).as("cl"))
      .crossJoin(broadcast(anchors))
      .filter(col("cand_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("cand_id"),
        round(cosine(col("cv"), col("av")), 6).as("cos"),
        (col("cl") === col("al")).cast("long").as("rel"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("relcum", sum(col("rel")).over(ws))
      .groupBy(col("anchor_id"))
      .agg(sum(col("rel")).as("n_rel"),
        sum(when(col("rnk") <= k, col("rel")).otherwise(0L))
          .as("hits_at_k"),
        coalesce(min(when(col("rel") === 1L, col("rnk"))), lit(0L))
          .as("first_rank"),
        sum(when(col("rnk") <= k && col("rel") === 1L,
          expr("relcum * 1000000 DIV rnk")).otherwise(0L)).as("ap_num"))
      .withColumn("mrr_x1e6", expr(
        "CASE WHEN first_rank = 0 THEN 0 ELSE 1000000 DIV first_rank END"))
      .withColumn("ap_x1e6", expr(
        s"CASE WHEN n_rel = 0 THEN 0" +
          s" ELSE ap_num DIV least(n_rel, ${k}L) END"))
      .select(col("anchor_id"), col("n_rel"), col("hits_at_k"),
        col("first_rank"), col("mrr_x1e6"), col("ap_x1e6"))
  }
}
