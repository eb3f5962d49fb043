package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.{Dedup, GraphOps, Multimodal, Similarity, TextOps}

/** Driver-contract queries for the training-data pipeline operators
  * (dedup, similarity search, text analysis, multimodal) over the
  * `documents` and `embeddings` test tables.
  *
  * The DuckDB oracles replicate every hash/fold bit-exactly:
  * md5-prefix hashes, integer thresholds, sequential list_reduce
  * folds for float math (see ops module scaladocs). Long oracle SQL is
  * generated programmatically next to the parameters it must mirror.
  */
object OpsQueries {

  import Registry.Q

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Registry.table(spark, dir, name)

  /** The q274 kNN-graph chain up to the undirected edge set `pr` —
    * OR-construction blocking (2 tables x 6 planes), exact cosine,
    * per-node top-3, mirrored pairs deduped — shared by the q277
    * triangle oracle and the q280 community oracle.
    */
  private[queries] lazy val knnPairCtes: String = {
    val wSql = s"list_transform(generate_series(0, 63), d -> " +
      s"(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 1001) - 500)"
    s"""w AS (
       | SELECT p, $wSql AS wv FROM generate_series(0, 11) AS t(p)),
       |b AS (
       | SELECT vec_id, embedding,
       |  CAST(sum(CASE WHEN p < 6 AND (${dotSql("embedding", "wv")}) >= 0
       |      THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS b0,
       |  CAST(sum(CASE WHEN p >= 6 AND (${dotSql("embedding", "wv")}) >= 0
       |      THEN (1::BIGINT << (p - 6)) ELSE 0::BIGINT END) AS BIGINT) AS b1
       | FROM embeddings, w GROUP BY vec_id, embedding),
       |cp AS MATERIALIZED (
       | SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |  round(${cosSql("x.embedding", "y.embedding")}, 6) AS cos
       | FROM b x JOIN b y ON (x.b0 = y.b0 OR x.b1 = y.b1)
       | WHERE x.vec_id < y.vec_id),
       |m AS (
       | SELECT id_a AS id, id_b AS nbr, cos FROM cp
       | UNION ALL
       | SELECT id_b AS id, id_a AS nbr, cos FROM cp),
       |r AS (
       | SELECT id, nbr, row_number() OVER
       |  (PARTITION BY id ORDER BY cos DESC, nbr) AS rn
       | FROM m),
       |pr AS MATERIALIZED (
       | SELECT DISTINCT least(id, nbr) AS id_a,
       |  greatest(id, nbr) AS id_b
       | FROM r WHERE rn <= 3)""".stripMargin
  }

  // ---- shared oracle SQL fragments -----------------------------------

  /** whitespace tokens, empties dropped */
  private[queries] val toksSql = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** Synthetic-image dimension CTE, mirroring
    * [[graft.ops.Multimodal.imageWidth]]/`imageHeight`.
    */
  private[queries] val pixelDimsCte =
    """d AS (SELECT doc_id, CAST(8 + doc_id % 5 AS INTEGER) AS w,
      |      CAST(8 + doc_id % 3 AS INTEGER) AS h FROM documents)""".stripMargin

  /** Full decoded-pixel oracle CTE chain `d` + `px(doc_id,w,h,x,y,
    * r,g,b)`, mirroring [[graft.ops.Multimodal.pixelValue]]. DuckDB's
    * generate_series cannot take lateral column bounds, so the grid
    * is the fixed 12x10 envelope (max w = 8+4, max h = 8+2) filtered
    * to each image's true extent.
    */
  private[queries] val pixelCtes =
    s"""$pixelDimsCte,
       |px AS (
       | SELECT doc_id, w, h, x, y,
       |  (doc_id*31 + x*7 + y*13) % 256 AS r,
       |  (doc_id*31 + x*7 + y*13 + 97) % 256 AS g,
       |  (doc_id*31 + x*7 + y*13 + 194) % 256 AS b
       | FROM d, generate_series(0, 11) AS tx(x),
       |  generate_series(0, 9) AS ty(y)
       | WHERE x < w AND y < h)""".stripMargin

  /** DuckDB equivalent of TextOps.hash32 */
  private def h32(e: String) = s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** DuckDB equivalent of TextOps.hash60 */
  private def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** DuckDB equivalent of SketchKernels.hash60b (md5 hex chars 17-31) */
  private def h60b(e: String) = s"('0x' || substr(md5($e), 17, 15))::BIGINT"

  /** Shared CTE chain deriving the MinHash near-dup candidate pairs
    * (mirrors Dedup.minhashPairs with n=3, 4 bands x 4 rows): ends at
    * `chk(id_a, id_b, i_cnt, u_cnt)`. Used by q24 (the pair check)
    * and q60 (clusters over the same graph).
    */
  private[queries] lazy val minhashCtes: String = minhashCtesFrom("documents")

  /** [[minhashCtes]] over an arbitrary (doc_id, text) source CTE —
    * q99 composes it over the curation funnel's survivors.
    */
  private[queries] def minhashCtesFrom(src: String): String = {
    val p = Dedup.MinhashP
    val sigTerms = Dedup.minhashParams.map { case (a, b) =>
      s"list_aggregate(list_transform(hs, h -> (h * $a + $b) % $p), 'min')"
    }.mkString(",\n   ")
    val bandTerms = (0 until 4).map { b =>
      val elems = (0 until 4).map(r => s"CAST(sig[${b * 4 + r + 1}] AS VARCHAR)")
      s"md5(concat_ws('_', '$b', ${elems.mkString(", ")}))"
    }.mkString(",\n   ")
    s"""toks AS (
       | SELECT doc_id AS id, $toksSql AS t FROM $src),
       |sh AS (
       | SELECT id, list_distinct(list_transform(generate_series(1, len(t) - 2),
       |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks),
       |hs AS (
       | SELECT id, sh, list_transform(sh, s -> ${h32("s")} % $p) AS hs FROM sh
       | WHERE len(sh) > 0),
       |sig AS (
       | SELECT id, sh, [
       |   $sigTerms
       | ] AS sig FROM hs),
       |bands AS (
       | SELECT id, unnest([
       |   $bandTerms
       | ]) AS band FROM sig),
       |cand AS (
       | SELECT DISTINCT a.id AS id_a, b.id AS id_b
       | FROM bands a JOIN bands b USING (band) WHERE a.id < b.id),
       |chk AS (
       | SELECT id_a, id_b,
       |  CAST(len(list_intersect(sa.hs, sb.hs)) AS INTEGER) AS i_cnt,
       |  CAST(len(list_distinct(sa.hs || sb.hs)) AS INTEGER) AS u_cnt
       | FROM cand
       | JOIN hs sa ON sa.id = cand.id_a
       | JOIN hs sb ON sb.id = cand.id_b)""".stripMargin
  }

  /** Sequential-fold dot product of two DuckDB lists. */
  private[queries] def dotSql(a: String, b: String, dims: Int = 64): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       | list_transform(generate_series(1, $dims), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)),
       | (x, y) -> x + y)""".stripMargin

  private[queries] def cosSql(a: String, b: String, dims: Int = 64): String =
    s"(${dotSql(a, b, dims)}) / (sqrt(${dotSql(a, a, dims)}) * sqrt(${dotSql(b, b, dims)}))"

  def all: Map[String, Q] = Map(

    // ---- text analysis ------------------------------------------------

    "q20_text_stats" -> Q(
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).as("n_bpeish"),
        TextOps.langPredict(col("text")).as("lang_pred"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.rollingHash(col("text")).as("rhash"))
        .orderBy(col("doc_id")),
      Some {
        val scores = TextOps.langMarkers.map { case (l, m) =>
          l -> s"len(list_intersect(list_distinct($toksSql), [${m.map("'" + _ + "'").mkString(",")}]))"
        }
        val best = s"greatest(${scores.map(_._2).mkString(", ")})"
        val langCase = scores.map { case (l, sc) =>
          s"WHEN $best > 0 AND $sc = $best THEN '$l'"
        }.mkString(" ")
        s"""SELECT doc_id,
           | CAST(len($toksSql) AS INTEGER) AS n_tokens,
           | CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS n_bpeish,
           | CASE $langCase ELSE 'und' END AS lang_pred,
           | md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
           | list_reduce(list_prepend(0::BIGINT,
           |  list_transform($toksSql, t -> ${h32("t")})),
           |  (a, b) -> (a * 31 + b) % 2147483647) AS rhash
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    "q21_quality" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualitySignals(col("text")).as("q"))
        .select(col("doc_id"),
          col("q.n_tokens").as("n_tokens"),
          col("q.n_distinct").as("n_distinct"),
          col("q.n_stop").as("n_stop"),
          col("q.max_tok_len").as("max_tok_len"))
        .withColumn("score",
          col("n_distinct") * 2 + col("n_stop") * 3 -
            when(col("max_tok_len") > 12, 5).otherwise(0))
        .filter(col("score") >= 20)
        .orderBy(col("doc_id")),
      Some(
        s"""WITH sig AS (
           | SELECT doc_id,
           |  CAST(len($toksSql) AS INTEGER) AS n_tokens,
           |  CAST(len(list_distinct($toksSql)) AS INTEGER) AS n_distinct,
           |  CAST(len(list_intersect(list_distinct($toksSql),
           |   ['the','a','of','and','to','in','is'])) AS INTEGER) AS n_stop,
           |  CAST(list_aggregate(list_transform($toksSql, t -> length(t)), 'max')
           |   AS INTEGER) AS max_tok_len
           | FROM documents)
           |SELECT *, CAST(n_distinct * 2 + n_stop * 3 -
           |  (CASE WHEN max_tok_len > 12 THEN 5 ELSE 0 END) AS INTEGER) AS score
           |FROM sig
           |WHERE n_distinct * 2 + n_stop * 3 -
           |  (CASE WHEN max_tok_len > 12 THEN 5 ELSE 0 END) >= 20
           |ORDER BY doc_id""".stripMargin)),

    // ---- dedup --------------------------------------------------------

    "q22_dedup_exact" -> Q(
      (s, dir) => Dedup.exactDedup(
        t(s, dir, "documents").select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp")),
        col("fp"), "doc_id")
        .select(col("doc_id"), col("fp"), col("dup_rank"), col("is_duplicate"))
        .orderBy(col("doc_id")),
      Some(
        """WITH f AS (SELECT doc_id,
          |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM documents)
          |SELECT doc_id, fp,
          | CAST(row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS INTEGER) AS dup_rank,
          | row_number() OVER (PARTITION BY fp ORDER BY doc_id) > 1 AS is_duplicate
          |FROM f ORDER BY doc_id""".stripMargin)),

    // Skew-resistant blocking: k smallest 3-gram-shingle hashes per doc
    // (the min-of-k rarest-feature trick) instead of the Zipf-skewed
    // (lang, first token) natural key — see jaccardPairsMinK scaladoc
    // for the measured skew numbers (old key 1.9-2.8% max block; this
    // key 0.6-1.2% and shrinking with scale). The oracle is the
    // STRONGER any-shared-key brute force (all id<id pairs whose k-min
    // sets intersect), so the hash match proves the exploded
    // first-agreeing-key emission is exactly-once and complete, not
    // merely that both engines block identically.
    // localCheckpoint(lazy) before the presentation sort, here and in
    // q26/q56: a global orderBy RANGE-SAMPLES its child, so an
    // un-checkpointed sort executes the whole pair scan TWICE
    // (measured 3.0 s -> 1.5 s on q26's join at sf0.1). The
    // checkpoint materializes the (id, id, dist/cnt) output — tiny
    // next to the corpus — and both the sample and the sort read it.
    "q23_jaccard_pairs" -> Q(
      (s, dir) => Dedup.jaccardPairsMinK(t(s, dir, "documents"),
        "doc_id", "text", n = 3, k = 3, num = 1, den = 2)
        .transform(graft.Scratch.localCheckpoint)
        .orderBy(col("id_a"), col("id_b")),
      Some(
        s"""WITH tk AS (
           | SELECT doc_id AS id, $toksSql AS t FROM documents),
           |sh AS (
           | SELECT id, list_distinct(t) AS toks,
           |  list_distinct(list_transform(generate_series(1, len(t) - 2),
           |   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM tk),
           |base AS (
           | SELECT id, toks, list_slice(list_sort(
           |   list_transform(sh, s -> ${h32("s")} % ${Dedup.MinhashP})), 1, 3) AS keys
           | FROM sh WHERE len(sh) > 0),
           |p AS (
           | SELECT a.id AS id_a, b.id AS id_b,
           |  CAST(len(list_intersect(a.toks, b.toks)) AS INTEGER) AS i_cnt,
           |  CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
           |   AS INTEGER) AS u_cnt
           | FROM base a JOIN base b ON a.id < b.id
           |  AND len(list_intersect(a.keys, b.keys)) > 0)
           |SELECT id_a, id_b, i_cnt, u_cnt FROM p
           |WHERE i_cnt * 2 >= u_cnt ORDER BY id_a, id_b""".stripMargin)),

    "q24_minhash_lsh" -> Q(
      (s, dir) => Dedup.minhashPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 3, bands = 4, rows = 4, num = 1, den = 2)
        .orderBy(col("id_a"), col("id_b")),
      Some(
        s"""WITH $minhashCtes
           |SELECT id_a, id_b, i_cnt, u_cnt FROM chk
           |WHERE i_cnt * 2 >= u_cnt ORDER BY id_a, id_b""".stripMargin)),

    // pairs -> CLUSTERS: the step an actual dedup pipeline needs after
    // candidate generation. Connected components by min-label
    // propagation over the MinHash near-dup graph; every doc gets its
    // cluster id (min reachable doc_id) and a canonical flag. The
    // oracle recomputes the same components with a recursive CTE over
    // the same pair derivation — transitive closure, so it checks
    // REACHABILITY, independent of the Spark side's iteration order.
    "q60_dedup_clusters" -> Q(
      (s, dir) => Dedup.dedupClusters(t(s, dir, "documents"),
        "doc_id", "text", n = 3, bands = 4, rows = 4, num = 1, den = 2)
        .orderBy(col("doc_id")),
      Some(
        s"""WITH RECURSIVE $minhashCtes,
           |pairs AS (
           | SELECT id_a, id_b FROM chk WHERE i_cnt * 2 >= u_cnt),
           |sym AS (
           | SELECT id_a AS src, id_b AS dst FROM pairs
           | UNION ALL
           | SELECT id_b AS src, id_a AS dst FROM pairs),
           |reach(a, b) AS (
           | SELECT doc_id, doc_id FROM documents
           | UNION
           | SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
           |comp AS (
           | SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a)
           |SELECT doc_id, cluster, doc_id = cluster AS is_canonical
           |FROM comp ORDER BY doc_id""".stripMargin)),

    "q25_simhash" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.SketchExpressions.simhash60(col("text")).as("sig"))
        .orderBy(col("doc_id")),
      Some {
        val bitTerms = (0 until 60).map { b =>
          s"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> $b) & 1) = 1)) > len(hs) " +
            s"THEN (1::BIGINT << $b) ELSE 0::BIGINT END)"
        }.mkString(" +\n  ")
        s"""WITH toks AS (
           | SELECT doc_id, list_distinct($toksSql) AS dt FROM documents),
           |hs AS (
           | SELECT doc_id, list_transform(dt, t -> ${h60("t")}) AS hs FROM toks)
           |SELECT doc_id,
           |  $bitTerms AS sig
           |FROM hs ORDER BY doc_id""".stripMargin
      }),

    // The oracle is deliberately STRONGER than a blocking mirror: it
    // brute-forces ALL pairs at hamming distance <= 8, so the hash
    // match proves the pigeonhole band blocking has complete recall —
    // not merely that both engines block identically.
    // SCOPE: q26 registers the SMALL-CORPUS 60-bit variant (6-7-bit
    // band values -> bucket population linear in corpus size; see
    // Dedup.simhashPairsFromSigs scaladoc). Its at-scale successor is
    // q56 (120-bit, 12-15-bit bands); q26 stays registered as the
    // readable form and as a second recall oracle on the same corpus.
    "q26_simhash_pairs" -> Q(
      (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"),
        "doc_id", "text", maxDist = 8)
        // see q23 — sort would run the scan twice
        .transform(graft.Scratch.localCheckpoint)
        .orderBy(col("id_a"), col("id_b")),
      Some {
        val bitTerms = (0 until 60).map { b =>
          s"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> $b) & 1) = 1)) > len(hs) " +
            s"THEN (1::BIGINT << $b) ELSE 0::BIGINT END)"
        }.mkString(" + ")
        s"""WITH toks AS (
           | SELECT doc_id, list_distinct($toksSql) AS dt FROM documents),
           |hs AS (
           | SELECT doc_id, list_transform(dt, t -> ${h60("t")}) AS hs FROM toks),
           |sig AS (
           | SELECT doc_id AS id, ($bitTerms) AS sig FROM hs),
           |p AS (
           | SELECT a.id AS id_a, b.id AS id_b,
           |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS dist
           | FROM sig a JOIN sig b ON a.id < b.id)
           |SELECT id_a, id_b, dist FROM p WHERE dist <= 8
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // cross-corpus contamination: test docs (odd ids) that are MinHash
    // near-dups of train docs (even ids) — a band hash-JOIN between the
    // two corpora, never a self-join or cross product; exactly-once
    // emission from the first shared band. Oracle: any-shared-band
    // brute force over the same band derivation, proving emission
    // complete and exactly-once
    "q68_contamination" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.crossMinhashPairs(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", n = 3, bands = 4, rows = 4, num = 1, den = 2)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(
        s"""WITH $minhashCtes,
           |tr AS (SELECT id, band FROM bands WHERE id % 2 = 0),
           |te AS (SELECT id, band FROM bands WHERE id % 2 = 1),
           |cand2 AS (
           | SELECT DISTINCT tr.id AS id_a, te.id AS id_b
           | FROM tr JOIN te USING (band)),
           |chk2 AS (
           | SELECT id_a, id_b,
           |  CAST(len(list_intersect(sa.hs, sb.hs)) AS INTEGER) AS i_cnt,
           |  CAST(len(list_distinct(sa.hs || sb.hs)) AS INTEGER) AS u_cnt
           | FROM cand2
           | JOIN hs sa ON sa.id = cand2.id_a
           | JOIN hs sb ON sb.id = cand2.id_b)
           |SELECT id_a, id_b, i_cnt, u_cnt FROM chk2
           |WHERE i_cnt * 2 >= u_cnt ORDER BY id_a, id_b""".stripMargin)),

    // 120-bit (two 60-bit words) SimHash pairs — the scale-safe upgrade
    // of q26: each pigeonhole band now carries 12-15 bits (~4k-32k
    // distinct values), so bucket population stays corpus/2^bandWidth
    // instead of hitting the 60-bit form's ~2^7 value ceiling. Oracle
    // is again the STRONGER brute-force all-pairs check (recall proof,
    // not a blocking mirror).
    "q56_simhash_wide_pairs" -> Q(
      (s, dir) => Dedup.simhashPairs120(t(s, dir, "documents"),
        "doc_id", "text", maxDist = 8)
        // see q23 — sort would run the scan twice
        .transform(graft.Scratch.localCheckpoint)
        .orderBy(col("id_a"), col("id_b")),
      Some {
        def bitTerms(hsList: String) = (0 until 60).map { b =>
          s"(CASE WHEN 2 * len(list_filter($hsList, h -> ((h >> $b) & 1) = 1)) > len($hsList) " +
            s"THEN (1::BIGINT << $b) ELSE 0::BIGINT END)"
        }.mkString(" + ")
        s"""WITH toks AS (
           | SELECT doc_id, list_distinct($toksSql) AS dt FROM documents),
           |hs AS (
           | SELECT doc_id,
           |  list_transform(dt, t -> ${h60("t")}) AS h0,
           |  list_transform(dt, t -> ${h60b("t")}) AS h1
           | FROM toks),
           |sig AS (
           | SELECT doc_id AS id, (${bitTerms("h0")}) AS s0,
           |  (${bitTerms("h1")}) AS s1 FROM hs),
           |p AS (
           | SELECT a.id AS id_a, b.id AS id_b,
           |  CAST(bit_count(xor(a.s0, b.s0))
           |   + bit_count(xor(a.s1, b.s1)) AS INTEGER) AS dist
           | FROM sig a JOIN sig b ON a.id < b.id)
           |SELECT id_a, id_b, dist FROM p WHERE dist <= 8
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // ---- similarity search -------------------------------------------

    "q27_ann_topk" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // one-row driver lookup of the query vector (a scalar, not data)
        val qv = typedLit(emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0))
        Similarity.topKCosine(emb, "vec_id", "embedding", qv, 10)
          .withColumnRenamed("id", "vec_id")
      },
      Some(
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |c AS (SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS cos
           |      FROM embeddings, q)
           |SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    "q28_ann_lsh" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val planes = Similarity.hyperplanes(8, 64)
        val qv = typedLit(emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0))
        Similarity.topKCosineLsh(emb, "vec_id", "embedding", qv, 10, planes)
          .withColumnRenamed("id", "vec_id")
      },
      Some {
        val wSql = s"list_transform(generate_series(0, 63), d -> " +
          s"(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 1001) - 500)"
        s"""WITH w AS (
           | SELECT p, $wSql AS wv FROM generate_series(0, 7) AS t(p)),
           |b AS (
           | SELECT vec_id, embedding,
           |  sum(CASE WHEN (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
           | FROM embeddings, w GROUP BY vec_id, embedding),
           |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
           |c AS (
           | SELECT b.vec_id, round(${cosSql("b.embedding", "qe")}, 6) AS cos
           | FROM b, q WHERE b.bucket = q.qb)
           |SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
      }),

    "q29_embed_neardup" -> Q(
      (s, dir) => {
        val planes = Similarity.hyperplanes(8, 64)
        Similarity.nearDupPairs(t(s, dir, "embeddings"),
          "vec_id", "embedding", planes, 0.35)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val wSql = s"list_transform(generate_series(0, 63), d -> " +
          s"(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 1001) - 500)"
        s"""WITH w AS (
           | SELECT p, $wSql AS wv FROM generate_series(0, 7) AS t(p)),
           |b AS (
           | SELECT vec_id, embedding,
           |  sum(CASE WHEN (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
           | FROM embeddings, w GROUP BY vec_id, embedding),
           |p AS (
           | SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           |  round(${cosSql("x.embedding", "y.embedding")}, 6) AS cos
           | FROM b x JOIN b y ON x.bucket = y.bucket WHERE x.vec_id < y.vec_id)
           |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.35
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // pairs -> CLUSTERS for the EMBEDDING modality (the q60 story on
    // vectors): LSH near-dup pairs -> connected components -> every
    // vector labeled with its cluster and a canonical flag. Oracle is
    // the recursive-CTE transitive closure over the same bucket-join
    // pair derivation — reachability-exact, independent of the Spark
    // side's iteration order.
    "q81_embed_clusters" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val planes = Similarity.hyperplanes(8, 64)
        val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding",
          planes, 0.35).select(col("id_a"), col("id_b"))
        val comps = Dedup.connectedComponents(pairs)
        emb.select(col("vec_id"))
          .join(comps.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("comp"), col("vec_id")).as("cluster"))
          .withColumn("is_canonical", col("vec_id") === col("cluster"))
          .orderBy(col("vec_id"))
      },
      Some {
        val wSql = s"list_transform(generate_series(0, 63), d -> " +
          s"(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 1001) - 500)"
        s"""WITH RECURSIVE w AS (
           | SELECT p, $wSql AS wv FROM generate_series(0, 7) AS t(p)),
           |b AS (
           | SELECT vec_id, embedding,
           |  sum(CASE WHEN (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
           | FROM embeddings, w GROUP BY vec_id, embedding),
           |pr AS (
           | SELECT x.vec_id AS id_a, y.vec_id AS id_b
           | FROM b x JOIN b y ON x.bucket = y.bucket
           | WHERE x.vec_id < y.vec_id
           |  AND round(${cosSql("x.embedding", "y.embedding")}, 6) >= 0.35),
           |sym AS (
           | SELECT id_a AS src, id_b AS dst FROM pr
           | UNION ALL
           | SELECT id_b AS src, id_a AS dst FROM pr),
           |reach(a, bb) AS (
           | SELECT vec_id, vec_id FROM embeddings
           | UNION
           | SELECT r.a, s.dst FROM reach r JOIN sym s ON r.bb = s.src),
           |comp AS (
           | SELECT a AS vec_id, min(bb) AS cluster FROM reach GROUP BY a)
           |SELECT vec_id, cluster, vec_id = cluster AS is_canonical
           |FROM comp ORDER BY vec_id""".stripMargin
      }),

    // multi-probe repair of q28's recall: scan every bucket within one
    // sign-bit flip of the query's bucket (9 of 256), not just the
    // exact bucket
    "q50_ann_multiprobe" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val planes = Similarity.hyperplanes(8, 64)
        val qv = typedLit(emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0))
        Similarity.topKCosineLshMultiProbe(emb, "vec_id", "embedding",
          qv, 10, planes, maxFlip = 1)
          .withColumnRenamed("id", "vec_id")
      },
      Some {
        val wSql = s"list_transform(generate_series(0, 63), d -> " +
          s"(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 1001) - 500)"
        s"""WITH w AS (
           | SELECT p, $wSql AS wv FROM generate_series(0, 7) AS t(p)),
           |b AS (
           | SELECT vec_id, embedding,
           |  CAST(sum(CASE WHEN (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS bucket
           | FROM embeddings, w GROUP BY vec_id, embedding),
           |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
           |c AS (
           | SELECT b.vec_id, round(${cosSql("b.embedding", "qe")}, 6) AS cos
           | FROM b, q WHERE bit_count(xor(b.bucket, q.qb)) <= 1)
           |SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
      }),

    // OR-construction over two independent plane tables: a pair is a
    // candidate when EITHER table buckets it together — the recall
    // (and bucket-space) repair for q29's single 8-plane table; each
    // pair is emitted exactly once (first-table-wins, no dedup shuffle)
    "q51_embed_neardup_multitable" -> Q(
      (s, dir) => {
        val all = Similarity.hyperplanes(16, 64)
        Similarity.nearDupPairsMultiTable(t(s, dir, "embeddings"),
          "vec_id", "embedding", Seq(all.take(8), all.drop(8)), 0.35)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val wSql = s"list_transform(generate_series(0, 63), d -> " +
          s"(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 1001) - 500)"
        s"""WITH w AS (
           | SELECT p, $wSql AS wv FROM generate_series(0, 15) AS t(p)),
           |b AS (
           | SELECT vec_id, embedding,
           |  CAST(sum(CASE WHEN p < 8 AND (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS b0,
           |  CAST(sum(CASE WHEN p >= 8 AND (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << (p - 8)) ELSE 0::BIGINT END) AS BIGINT) AS b1
           | FROM embeddings, w GROUP BY vec_id, embedding),
           |p AS (
           | SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           |  round(${cosSql("x.embedding", "y.embedding")}, 6) AS cos
           | FROM b x JOIN b y ON (x.b0 = y.b0 OR x.b1 = y.b1)
           | WHERE x.vec_id < y.vec_id)
           |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.35
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // the wide OR-construction: L=3 tables x 16 planes (65536 buckets
    // each — 256x finer than q51's 8-plane tables, so per-bucket
    // candidate volume collapses at scale) with the same
    // first-table-wins exactly-once emission; recall formula
    // 1-(1-p^16)^3 documented at nearDupPairsMultiTable
    "q59_embed_neardup_wide_or" -> Q(
      (s, dir) => {
        val all = Similarity.hyperplanes(48, 64)
        Similarity.nearDupPairsMultiTable(t(s, dir, "embeddings"),
          "vec_id", "embedding",
          Seq(all.take(16), all.slice(16, 32), all.drop(32)), 0.30)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val wSql = s"list_transform(generate_series(0, 63), d -> " +
          s"(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 1001) - 500)"
        s"""WITH w AS (
           | SELECT p, $wSql AS wv FROM generate_series(0, 47) AS t(p)),
           |b AS (
           | SELECT vec_id, embedding,
           |  CAST(sum(CASE WHEN p < 16 AND (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS b0,
           |  CAST(sum(CASE WHEN p >= 16 AND p < 32 AND (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << (p - 16)) ELSE 0::BIGINT END) AS BIGINT) AS b1,
           |  CAST(sum(CASE WHEN p >= 32 AND (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END) AS BIGINT) AS b2
           | FROM embeddings, w GROUP BY vec_id, embedding),
           |p AS (
           | SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           |  round(${cosSql("x.embedding", "y.embedding")}, 6) AS cos
           | FROM b x JOIN b y ON (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2)
           | WHERE x.vec_id < y.vec_id)
           |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.30
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // batch ANN: top-k neighbors for a whole probe SET in one pass
    // (LSH-bucketed kNN join, broadcast probes) — the pipeline shape,
    // vs q28's single-vector probe
    "q54_knn_join" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val planes = Similarity.hyperplanes(8, 64)
        val probes = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding"))
        Similarity.knnJoinLsh(emb, "vec_id", "embedding",
          probes, "qid", "embedding", k = 5, planes)
          .withColumnRenamed("id", "vec_id")
          .orderBy(col("qid"), col("rn"))
      },
      Some {
        val wSql = s"list_transform(generate_series(0, 63), d -> " +
          s"(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 1001) - 500)"
        s"""WITH w AS (
           | SELECT p, $wSql AS wv FROM generate_series(0, 7) AS t(p)),
           |b AS (
           | SELECT vec_id, embedding,
           |  CAST(sum(CASE WHEN (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS bucket
           | FROM embeddings, w GROUP BY vec_id, embedding),
           |c AS (
           | SELECT q.vec_id AS qid, b.vec_id,
           |  round(${cosSql("b.embedding", "q.embedding")}, 6) AS cos
           | FROM b JOIN b q ON b.bucket = q.bucket
           | WHERE q.vec_id < 5),
           |r AS (
           | SELECT *, CAST(row_number() OVER
           |  (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rn
           | FROM c)
           |SELECT qid, vec_id, cos, rn FROM r WHERE rn <= 5
           |ORDER BY qid, rn""".stripMargin
      }),

    // kNN-GRAPH construction (the HNSW-class graph-ANN lineage's
    // batch build step): LSH-blocked candidate pairs (2 tables x 6
    // planes — 64 buckets each, dense enough that every node finds
    // candidates) -> exact cosine verify, once per pair -> per-node
    // top-3 edges. The oracle replays the OR-construction blocking
    // (a single OR-join emits each candidate pair exactly once —
    // set-identical to the operator's first-table-wins emission),
    // mirrors each undirected pair into both endpoints' lists, and
    // ranks. Plan pin (PlanShapeSpec): no cartesian anywhere.
    "q274_knn_graph" -> Q(
      (s, dir) => {
        val all = Similarity.hyperplanes(12, 64)
        Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 3, Seq(all.take(6), all.drop(6)))
          .orderBy(col("id"), col("rn"))
      },
      Some {
        val wSql = s"list_transform(generate_series(0, 63), d -> " +
          s"(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 1001) - 500)"
        s"""WITH w AS (
           | SELECT p, $wSql AS wv FROM generate_series(0, 11) AS t(p)),
           |b AS (
           | SELECT vec_id, embedding,
           |  CAST(sum(CASE WHEN p < 6 AND (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS b0,
           |  CAST(sum(CASE WHEN p >= 6 AND (${dotSql("embedding", "wv")}) >= 0
           |      THEN (1::BIGINT << (p - 6)) ELSE 0::BIGINT END) AS BIGINT) AS b1
           | FROM embeddings, w GROUP BY vec_id, embedding),
           |pr AS MATERIALIZED (
           | SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           |  round(${cosSql("x.embedding", "y.embedding")}, 6) AS cos
           | FROM b x JOIN b y ON (x.b0 = y.b0 OR x.b1 = y.b1)
           | WHERE x.vec_id < y.vec_id),
           |m AS (
           | SELECT id_a AS id, id_b AS nbr, cos FROM pr
           | UNION ALL
           | SELECT id_b AS id, id_a AS nbr, cos FROM pr),
           |r AS (
           | SELECT id, nbr, cos, CAST(row_number() OVER
           |  (PARTITION BY id ORDER BY cos DESC, nbr) AS INTEGER) AS rn
           | FROM m)
           |SELECT id, nbr, cos, rn FROM r WHERE rn <= 3
           |ORDER BY id, rn""".stripMargin
      }),

    // the kNN graph FEEDING the graph suite — the point of building
    // it: q274's per-node top-3 edges collapse to an undirected pair
    // set and flow through the same degree-oriented triangle counter
    // the near-dup graph uses (q113). Per-node triangle participation
    // over a SIMILARITY graph is the classic local-density signal
    // (dense semantic cliques vs hub nodes). The oracle composes
    // q274's blocking/ranking chain with q113's orientation chain.
    "q277_knn_graph_triangles" -> Q(
      (s, dir) => {
        val all = Similarity.hyperplanes(12, 64)
        val edges = Similarity.knnGraph(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 3, Seq(all.take(6), all.drop(6)))
        GraphOps.triangleCounts(edges.select(
          least(col("id"), col("nbr")).as("id_a"),
          greatest(col("id"), col("nbr")).as("id_b")).distinct())
          .orderBy(col("node"))
      },
      Some {
        s"""WITH $knnPairCtes,
           |sym AS (
           | SELECT id_a AS u, id_b AS v FROM pr
           | UNION ALL SELECT id_b, id_a FROM pr),
           |d AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY 1),
           |wd AS (
           | SELECT id_a, id_b, da.deg AS da, db.deg AS db FROM pr
           | JOIN d da ON da.node = id_a JOIN d db ON db.node = id_b),
           |o AS MATERIALIZED (
           | SELECT
           |  CASE WHEN row(da, id_a) < row(db, id_b)
           |       THEN id_a ELSE id_b END AS u,
           |  CASE WHEN row(da, id_a) < row(db, id_b)
           |       THEN id_b ELSE id_a END AS v,
           |  CASE WHEN row(da, id_a) < row(db, id_b)
           |       THEN db ELSE da END AS dv
           | FROM wd),
           |wg AS (
           | SELECT a.u, a.v, b.v AS w FROM o a JOIN o b USING (u)
           | WHERE row(a.dv, a.v) < row(b.dv, b.v)),
           |tr AS (
           | SELECT wg.u, wg.v, wg.w FROM wg
           | JOIN o ON o.u = wg.v AND o.v = wg.w),
           |ex AS (SELECT unnest([u, v, w]) AS node FROM tr)
           |SELECT node, count(*) AS n_tri FROM ex
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // semantic communities: 3-round majority-label propagation over
    // the kNN graph (q131's operator fed by q274's edges) — cluster
    // structure of the SIMILARITY graph without any centroid model.
    // The oracle unrolls the three rounds over the shared kNN pair
    // chain.
    "q280_knn_graph_communities" -> Q(
      (s, dir) => {
        val all = Similarity.hyperplanes(12, 64)
        val edges = Similarity.knnGraph(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 3, Seq(all.take(6), all.drop(6)))
        GraphOps.labelPropagation(edges.select(
          least(col("id"), col("nbr")).as("id_a"),
          greatest(col("id"), col("nbr")).as("id_b")).distinct(),
          rounds = 3)
          .orderBy(col("node"))
      },
      Some {
        val round = (prev: String, cn: String, ln: String) =>
          s"""$cn AS MATERIALIZED (
             | SELECT s.src, l.lbl, count(*) AS c
             | FROM sym s JOIN $prev l ON l.node = s.dst GROUP BY 1, 2),
             |$ln AS MATERIALIZED (
             | SELECT src AS node, lbl FROM (
             |  SELECT src, lbl, row_number() OVER (
             |   PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM $cn)
             | WHERE rn = 1)""".stripMargin
        s"""WITH $knnPairCtes,
           |sym AS MATERIALIZED (
           | SELECT id_a AS src, id_b AS dst FROM pr
           | UNION ALL SELECT id_b, id_a FROM pr),
           |l0 AS MATERIALIZED (
           | SELECT DISTINCT src AS node, src AS lbl FROM sym),
           |${round("l0", "c1", "l1")},
           |${round("l1", "c2", "l2")},
           |${round("l2", "c3", "l3")}
           |SELECT node, lbl AS community FROM l3 ORDER BY node""".stripMargin
      }),

    // partition quality of the q280 communities: Newman modularity
    // over the kNN graph (q166's operator and integer contract —
    // per-community e_in / deg_sum / cut edges and the DECIMAL(38)
    // contribution 4m*e_in - deg_sum^2 as a lossless string). This
    // closes the semantic-graph story: construct (q274) -> local
    // density (q277) -> communities (q280) -> partition quality.
    "q281_knn_graph_modularity" -> Q(
      (s, dir) => {
        val all = Similarity.hyperplanes(12, 64)
        val pairs = Similarity.knnGraph(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 3, Seq(all.take(6), all.drop(6)))
          .select(least(col("id"), col("nbr")).as("id_a"),
            greatest(col("id"), col("nbr")).as("id_b")).distinct()
        GraphOps.modularity(pairs,
          GraphOps.labelPropagation(pairs, rounds = 3))
          .withColumn("contrib_4m2", col("contrib_4m2").cast("string"))
      },
      Some {
        val round = (prev: String, cn: String, ln: String) =>
          s"""$cn AS MATERIALIZED (
             | SELECT s.src, l.lbl, count(*) AS c
             | FROM sym s JOIN $prev l ON l.node = s.dst GROUP BY 1, 2),
             |$ln AS MATERIALIZED (
             | SELECT src AS node, lbl FROM (
             |  SELECT src, lbl, row_number() OVER (
             |   PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM $cn)
             | WHERE rn = 1)""".stripMargin
        s"""WITH $knnPairCtes,
           |sym AS MATERIALIZED (
           | SELECT id_a AS src, id_b AS dst FROM pr
           | UNION ALL SELECT id_b, id_a FROM pr),
           |l0 AS MATERIALIZED (
           | SELECT DISTINCT src AS node, src AS lbl FROM sym),
           |${round("l0", "c1", "l1")},
           |${round("l1", "c2", "l2")},
           |${round("l2", "c3", "l3")},
           |mm AS (SELECT count(*) AS m FROM pr),
           |e AS (
           | SELECT la.lbl AS community, count(*) AS e_in
           | FROM pr
           | JOIN l3 la ON la.node = pr.id_a
           | JOIN l3 lb ON lb.node = pr.id_b
           | WHERE la.lbl = lb.lbl GROUP BY 1),
           |dg AS (
           | SELECT node, count(*) AS deg FROM (
           |  SELECT id_a AS node FROM pr
           |  UNION ALL SELECT id_b FROM pr) s GROUP BY 1),
           |dc AS (
           | SELECT l3.lbl AS community, sum(dg.deg) AS deg_sum,
           |  count(*) AS n_nodes
           | FROM l3 JOIN dg ON dg.node = l3.node GROUP BY 1)
           |SELECT dc.community, CAST(dc.n_nodes AS BIGINT) AS n_nodes,
           | CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in,
           | CAST(dc.deg_sum AS BIGINT) AS deg_sum,
           | CAST(dc.deg_sum - 2 * coalesce(e.e_in, 0) AS BIGINT)
           |  AS cut_edges,
           | CAST(CAST(4 * CAST(mm.m AS DECIMAL(38,0)) * coalesce(e.e_in, 0)
           |   - CAST(dc.deg_sum AS DECIMAL(38,0)) * dc.deg_sum
           |   AS DECIMAL(38,0)) AS VARCHAR) AS contrib_4m2
           |FROM dc LEFT JOIN e ON e.community = dc.community CROSS JOIN mm
           |ORDER BY dc.community""".stripMargin
      }),

    // IVF ANN — deterministic coarse quantizer + probed search, run at
    // FULL probe fan-out (nprobe = k = 16) so the registered output is
    // provably the brute-force top-10: probing every cell makes the
    // probe filter a partition-completeness check (any vector the
    // assignment drops, duplicates, or mis-buckets diverges the top-k)
    // and the oracle is plain SQL. recall_at_10 folds the IVF-vs-brute
    // agreement into the output as an integer the oracle re-derives
    // (the q58 pattern). The APPROXIMATE nprobe < k path — recall is
    // data-limited on this near-uniform corpus, E[recall] ~ nprobe/k —
    // stays pinned by OpsSpec (returned cosines agree with exact
    // computation; recall floor) and q58's exact-IVF gate.
    "q38_ann_ivf" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
          .head().getSeq[Float](0).toArray.map(_.toDouble)
        val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16,
          iters = 2, sampleMod = 4)
        val ivf = Similarity.topKCosineIvf(emb, "vec_id", "embedding", q, 10,
          centroids, nprobe = 16)
        val bf = Similarity.topKCosine(emb, "vec_id", "embedding",
          typedLit(q.map(_.toFloat).toSeq), 10)
          .select(col("id"))
        graft.ops.Prefix.withGlobal(ivf.join(bf, Seq("id"), "left_semi"),
          "recall_at_10" -> count(lit(1)).cast("long"))
          .withColumnRenamed("id", "vec_id")
          .orderBy(col("cos").desc, col("vec_id"))
      },
      Some(
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |c AS (SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS cos
           |      FROM embeddings, q),
           |t AS (SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10)
           |SELECT vec_id, cos, CAST(10 AS BIGINT) AS recall_at_10 FROM t
           |ORDER BY cos DESC, vec_id""".stripMargin)),

    // IVF recall, driver-visible AND oracle-exact: plain probe-limited
    // IVF on this corpus is data-limited (the embeddings are
    // near-uniform, so true neighbors scatter across cells and
    // E[recall] ~ nprobe/k — measured 3-10/10 even at nprobe=10/16;
    // RECALL.md "Raw probe output"). q58 therefore runs the EXACT IVF
    // variant — spherical triangle-inequality pruning guarantees the
    // true top-k by construction — semi-joins it against the
    // brute-force top-10,
    // and emits recall_at_10. The oracle re-derives the true top-10 in
    // SQL and asserts recall 10/10: a wrong pruning bound drops rows
    // AND diverges the recall column. The plain-IVF floor and the
    // prune-actually-prunes property are pinned in OpsSpec.
    "q58_ivf_recall" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
          .head().getSeq[Float](0).toArray.map(_.toDouble)
        val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16,
          iters = 2, sampleMod = 4)
        val radii = Similarity.ivfCellRadii(emb, "embedding", centroids)
        val ivf = Similarity.topKCosineIvfExact(emb, "vec_id", "embedding",
          q, 10, centroids, radii, nprobe = 4).select(col("id"))
        val bf = Similarity.topKCosine(emb, "vec_id", "embedding",
          typedLit(emb.filter(col("vec_id") === 0)
            .select(col("embedding")).head().getSeq[Float](0)), 10)
        graft.ops.Prefix.withGlobal(bf.join(ivf, Seq("id"), "left_semi"),
          "recall_at_10" -> count(lit(1)).cast("long"))
          .withColumnRenamed("id", "vec_id")
          .orderBy(col("cos").desc, col("vec_id"))
      },
      Some(
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |c AS (SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS cos
           |      FROM embeddings, q),
           |t AS (SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10)
           |SELECT vec_id, cos, CAST(10 AS BIGINT) AS recall_at_10 FROM t
           |ORDER BY cos DESC, vec_id""".stripMargin)),

    // deterministic train/val/test split — stable across engines and
    // cluster layouts (md5 buckets, not random())
    "q44_train_split" -> Q(
      (s, dir) => t(s, dir, "documents")
        .withColumn("split", TextOps.splitAssign(col("doc_id"), "exp1",
          Seq("train" -> 80, "val" -> 10, "test" -> 10)))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("split"), col("lang")),
      Some {
        val bucket =
          s"${h32("CAST(doc_id AS VARCHAR) || '_exp1'")} % 100"
        // NULL id -> NULL split on both sides (Spark's when-chain
        // falls through to null; a bare ELSE here would say 'test')
        s"""SELECT CASE
           |  WHEN ($bucket) IS NULL THEN NULL
           |  WHEN $bucket < 80 THEN 'train'
           |  WHEN $bucket < 90 THEN 'val'
           |  ELSE 'test' END AS split,
           | lang, count(*) AS cnt
           |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // ---- multimodal ---------------------------------------------------

    // video-shaped fan-out: 1 payload -> N frame rows, each digesting
    // its own byte slice (documents are ASCII so the oracle's char
    // slicing equals the kernel's byte slicing)
    "q39_multimodal_frames" -> Q(
      (s, dir) => {
        val docs = Multimodal.synthesizePayload(t(s, dir, "documents"), "text")
        Multimodal.sampleFrames(docs, "doc_id", "payload", frameBytes = 100)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"), col("frame_idx"))
      },
      Some(
        """SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
          | CAST(f * 100 AS INTEGER) AS byte_offset,
          | CAST(least(100, length(text) - f * 100) AS INTEGER) AS frame_bytes,
          | md5(substring(text, f * 100 + 1, 100)) AS frame_digest
          |FROM documents,
          | unnest(generate_series(0,
          |   CAST(ceil(length(text) / 100.0) AS INT) - 1)) AS t(f)
          |ORDER BY doc_id, frame_idx""".stripMargin)),

    // REAL image resize: PNG payloads ([[Multimodal.synthesizeImages]])
    // are decoded by the JDK codec, nearest-neighbor resampled to 6x4
    // (source pixel (x*w DIV 6, y*h DIV 4)), and the RESIZED grid's
    // channel sums + position-weighted checksum emitted. The oracle
    // recomputes the resample arithmetically from the deterministic
    // pixel spec — a wrong decode or wrong sample index flips the
    // hash.
    "q49_multimodal_resize" -> Q(
      (s, dir) => {
        val imgs = Multimodal.synthesizeImages(t(s, dir, "documents"), "doc_id")
        Multimodal.resizeImages(imgs, "id", "payload", targetW = 6, targetH = 4)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(
        s"""WITH $pixelDimsCte,
           |rp AS (
           | SELECT doc_id, w, h, x, y,
           |  (x * w) // 6 AS sx, (y * h) // 4 AS sy
           | FROM d, generate_series(0, 5) AS tx(x),
           |  generate_series(0, 3) AS ty(y)),
           |px AS (
           | SELECT doc_id, x, y,
           |  (doc_id*31 + sx*7 + sy*13) % 256 AS r,
           |  (doc_id*31 + sx*7 + sy*13 + 97) % 256 AS g,
           |  (doc_id*31 + sx*7 + sy*13 + 194) % 256 AS b
           | FROM rp)
           |SELECT doc_id, CAST(6 AS INTEGER) AS width,
           | CAST(4 AS INTEGER) AS height,
           | CAST(sum(r) AS BIGINT) AS sum_r,
           | CAST(sum(g) AS BIGINT) AS sum_g,
           | CAST(sum(b) AS BIGINT) AS sum_b,
           | CAST(sum((y*6 + x + 1) * r) AS BIGINT) AS px_checksum
           |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // per-stratum quality floor by EXACT discrete median (lower
    // median = order statistic at rank (n+1) DIV 2): integer-exact
    // order statistics per group, no approx sketch, no float
    // interpolation — cross-engine stable by construction
    "q67_median_floor" -> Q(
      (s, dir) => {
        val tc = t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            TextOps.tokenCount(col("text")).cast("long").as("toks"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("toks"), col("doc_id"))
        val ranked = tc.withColumn("rn", row_number().over(w))
        val counts = tc.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val med = ranked.join(broadcast(counts), Seq("lang"))
          .filter(col("rn") === expr("(n + 1) DIV 2"))
          .select(col("lang"), col("toks").as("med_toks"))
        tc.join(broadcast(med), Seq("lang"))
          .filter(col("toks") >= col("med_toks"))
          .groupBy(col("lang"), col("med_toks"))
          .agg(count(lit(1)).as("kept"))
          .select(col("lang"), col("med_toks"), col("kept"))
          .orderBy(col("lang"))
      },
      Some(
        s"""WITH tc AS (
           | SELECT lang, doc_id, CAST(len($toksSql) AS BIGINT) AS toks
           | FROM documents),
           |r AS (
           | SELECT lang, toks, row_number() OVER
           |  (PARTITION BY lang ORDER BY toks, doc_id) AS rn,
           |  count(*) OVER (PARTITION BY lang) AS n
           | FROM tc),
           |med AS (
           | SELECT lang, toks AS med_toks FROM r WHERE rn = (n + 1) // 2)
           |SELECT tc.lang, med_toks, count(*) AS kept
           |FROM tc JOIN med ON tc.lang = med.lang AND tc.toks >= med_toks
           |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // deterministic stratified downsampling: per-lang per-mille rates
    // over salted md5 buckets — reproducible across engines, runs, and
    // partitionings (rand()-based .sample is none of those); the
    // oracle re-derives the exact surviving row set
    "q65_stratified_sample" -> Q(
      (s, dir) => {
        val rates = Map("en" -> 600, "de" -> 250, "es" -> 250, "fr" -> 250)
        val docs = t(s, dir, "documents")
        docs.filter(TextOps.stratifiedKeep(col("doc_id"), col("lang"),
          "bal1", rates))
          .groupBy(col("lang")).agg(count(lit(1)).as("kept"))
          .orderBy(col("lang"))
      },
      Some(
        s"""WITH k AS (
           | SELECT lang FROM documents
           | WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_bal1'), 1, 8))::BIGINT
           |   % 1000 <
           |  CASE lang WHEN 'en' THEN 600 WHEN 'de' THEN 250
           |   WHEN 'es' THEN 250 WHEN 'fr' THEN 250 ELSE 1000 END)
           |SELECT lang, count(*) AS kept FROM k GROUP BY 1 ORDER BY 1""".stripMargin)),

    // order-independent table fingerprint: bit_xor of per-row content
    // hashes + count per lang — one map-side-combinable aggregate, the
    // integrity-manifest shape for dataset versioning at scale
    "q66_table_checksum" -> Q(
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          bit_xor(TextOps.rowHash(col("doc_id"), col("text"))).as("checksum"))
        .orderBy(col("lang")),
      Some(
        s"""SELECT lang, count(*) AS n,
           | CAST(bit_xor(('0x' || substr(md5(
           |   CAST(doc_id AS VARCHAR) || chr(1) || text), 1, 8))::BIGINT) AS BIGINT)
           |  AS checksum
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // per-group mean-pooled feature centroids in the dimension-pivoted
    // layout (posexplode -> one (grp, dim) hash agg; vectors never ride
    // a shuffle whole). Exact: integer-valued features, floor over an
    // IEEE-identical double division. The features now come from the
    // REAL image decode ([[Multimodal.extractImageFeatures]] over the
    // synthesized PNGs — the former md5 featureStub is retired); the
    // oracle re-derives the pooled components arithmetically from the
    // deterministic pixel spec, no codec on the DuckDB side.
    "q64_feature_centroids" -> Q(
      (s, dir) => {
        val imgs = Multimodal.synthesizeImages(t(s, dir, "documents"), "doc_id")
        val feats = Multimodal.extractImageFeatures(imgs, "id", "payload",
          dims = 16)
        Similarity.groupCentroids(feats, pmod(col("id"), lit(8)), "features")
          .orderBy(col("grp"), col("dim"))
      },
      Some(
        s"""WITH $pixelCtes,
           |fd AS (
           | SELECT doc_id, (y*w + x) % 16 AS dim,
           |  CAST(sum(r + g + b) AS BIGINT) AS x
           | FROM px GROUP BY 1, 2)
           |SELECT CAST(doc_id % 8 AS BIGINT) AS grp,
           | CAST(dim AS INTEGER) AS dim,
           | count(*) AS n, CAST(sum(x) AS BIGINT) AS total,
           | CAST(floor(sum(x) * 1000.0 / count(*)) AS BIGINT) AS mean_milli
           |FROM fd GROUP BY grp, dim ORDER BY grp, dim""".stripMargin)),

    // tf-idf top terms per doc (inverted-index shape): integer-exact
    // rational idf (tf * SCALE * N DIV df) — no ln(), which is
    // libm-dependent; vocabulary-sized df side broadcasts
    "q63_tfidf_terms" -> Q(
      (s, dir) => TextOps.topTfidfTerms(t(s, dir, "documents"),
        "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("score").desc, col("token")),
      Some(
        s"""WITH tok AS (
           | SELECT doc_id, unnest($toksSql) AS token FROM documents),
           |tf AS (
           | SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
           |dfreq AS (
           | SELECT token, count(*) AS df FROM
           |  (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM documents),
           |s AS (
           | SELECT doc_id, token, tf, df, tf * ((1000000 * n.n) // df) AS score
           | FROM tf JOIN dfreq USING (token), n),
           |r AS (
           | SELECT *, row_number() OVER
           |  (PARTITION BY doc_id ORDER BY score DESC, token) AS rn FROM s)
           |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
           | CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS score
           |FROM r WHERE rn <= 3
           |ORDER BY doc_id, score DESC, token""".stripMargin)),

    // PII redaction over synthesized dirty text: the oracle computes
    // the expected REDACTED string by construction (it knows exactly
    // what PII was planted), so the regexes must redact all of it and
    // nothing else — a miss or an over-match both flip the hash
    "q62_redact" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val dirty = concat(
          lit("user u"), col("user_id").cast("string"),
          lit(" email u"), col("user_id").cast("string"),
          lit("@mail.example phone "),
          lpad((col("event_id") % 1000000000L).cast("string"), 9, "0"),
          lit(" ref "), (col("event_id") % 1000L).cast("string"))
        ev.select(col("event_id"), TextOps.redact(dirty).as("clean"))
          .orderBy(col("event_id"))
      },
      Some(
        """SELECT event_id,
          | 'user u' || CAST(user_id AS VARCHAR) ||
          | ' email <EMAIL> phone <NUM> ref ' ||
          | CAST(event_id % 1000 AS VARCHAR) AS clean
          |FROM events ORDER BY event_id""".stripMargin)),

    // overlapping token-window chunking (RAG/pretraining chunker):
    // windows of 32 tokens every 24 (8-token overlap), narrow fan-out
    "q69_chunking" -> Q(
      (s, dir) => TextOps.chunkDocs(t(s, dir, "documents"),
        "doc_id", "text", chunk = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some(
        s"""WITH tk AS (
           | SELECT doc_id, $toksSql AS t FROM documents
           | WHERE len($toksSql) > 0),
           |st AS (
           | SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 24)) AS s
           | FROM tk)
           |SELECT doc_id, CAST(s // 24 AS INTEGER) AS chunk_idx,
           | array_to_string(list_slice(t, s + 1, s + 32), ' ') AS chunk_text,
           | CAST(len(list_slice(t, s + 1, s + 32)) AS INTEGER) AS n_tokens
           |FROM st ORDER BY doc_id, chunk_idx""".stripMargin)),

    // sequence packing: docs -> fixed token-budget context blocks
    // (concat-then-chunk pretraining layout), cumsum windowed PER
    // STREAM (lang) so no global single-partition sort
    "q61_sequence_packing" -> Q(
      (s, dir) => TextOps.packSequences(t(s, dir, "documents"),
        "lang", "doc_id", "text", capacity = 512)
        .orderBy(col("lang"), col("block")),
      Some(
        s"""WITH tc AS (
           | SELECT lang, doc_id, CAST(len($toksSql) AS BIGINT) AS toks
           | FROM documents),
           |c AS (
           | SELECT lang, doc_id, toks,
           |  CAST(sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           | FROM tc)
           |SELECT lang, (cum - toks) // 512 AS block,
           | count(*) AS n_docs,
           | CAST(sum(toks) AS BIGINT) AS tokens,
           | min(doc_id) AS first_id, max(doc_id) AS last_id
           |FROM c GROUP BY 1, 2 ORDER BY lang, block""".stripMargin)),

    // multimodal -> similarity composition over REAL decoded pixels:
    // PNG payloads decode via the JDK codec, 16-dim strided-pooling
    // features (component d = sum of r+g+b over pixels with row-major
    // index ≡ d mod 16) feed exact ANN top-k — the pipeline on-ramp
    // from image columns into the vector operators. Components are
    // integer-valued floats (exact in both engines), so the cosines
    // are oracle-checkable; the oracle re-derives the features from
    // the deterministic pixel spec WITHOUT a codec.
    "q55_multimodal_ann" -> Q(
      (s, dir) => {
        val imgs = Multimodal.synthesizeImages(t(s, dir, "documents"), "doc_id")
        val feats = graft.Scratch.cache(
          Multimodal.extractImageFeatures(imgs, "id", "payload", dims = 16))
        val qv = typedLit(feats.filter(col("id") === 0)
          .select(col("features")).head().getSeq[Float](0))
        Similarity.topKCosine(feats, "id", "features", qv, 10)
          .withColumnRenamed("id", "doc_id")
      },
      Some(
        s"""WITH $pixelCtes,
           |fd AS (
           | SELECT doc_id, (y*w + x) % 16 AS dim,
           |  CAST(sum(r + g + b) AS BIGINT) AS s
           | FROM px GROUP BY 1, 2),
           |f AS (
           | SELECT doc_id, list(CAST(s AS FLOAT) ORDER BY dim) AS features
           | FROM fd GROUP BY doc_id),
           |q AS (SELECT features AS qe FROM f WHERE doc_id = 0),
           |c AS (SELECT doc_id, round(${cosSql("features", "qe", 16)}, 6) AS cos
           |      FROM f, q)
           |SELECT doc_id, cos FROM c ORDER BY cos DESC, doc_id LIMIT 10""".stripMargin)),

    // Decoded-image audit: REAL JDK decode of every PNG payload —
    // dimensions, per-channel sums, position-weighted checksum. The
    // oracle recomputes all five statistics from the deterministic
    // pixel spec by pure arithmetic (no codec on the DuckDB side):
    // the hash only matches if ImageIO returned the exact encoded
    // pixel grid. MultimodalSpec additionally pins a known image's
    // bytes (PNG magic, round-trip pixel identity, corrupt-payload
    // null channel).
    "q234_image_decode" -> Q(
      (s, dir) => {
        val imgs = Multimodal.synthesizeImages(t(s, dir, "documents"), "doc_id")
        Multimodal.decodeImages(imgs, "id", "payload")
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(
        s"""WITH $pixelCtes
           |SELECT doc_id, max(w) AS width, max(h) AS height,
           | CAST(sum(r) AS BIGINT) AS sum_r,
           | CAST(sum(g) AS BIGINT) AS sum_g,
           | CAST(sum(b) AS BIGINT) AS sum_b,
           | CAST(sum((y*w + x + 1) * r) AS BIGINT) AS px_checksum
           |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Decoded-audio audit: REAL JDK decode (javax.sound.sampled) of
    // every WAV payload — frame count, sample rate, amplitude mass,
    // extremes, position-weighted PCM checksum. The oracle recomputes
    // all six statistics from the deterministic sample spec by pure
    // arithmetic (no codec on the DuckDB side): the hash only matches
    // if the RIFF container parse and the 16-bit PCM frame decode
    // return the exact encoded series. Companion of q234 (images);
    // MultimodalSpec pins the RIFF magic and sample round-trip.
    "q239_audio_decode" -> Q(
      (s, dir) => {
        val clips = Multimodal.synthesizeAudio(t(s, dir, "documents"), "doc_id")
        Multimodal.decodeAudio(clips, "id", "payload")
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH d AS (
          | SELECT doc_id, CAST(256 + doc_id % 128 AS INTEGER) AS n
          | FROM documents),
          |sm AS (
          | SELECT doc_id, n, i,
          |  CAST((doc_id*37 + i*101) % 65536 - 32768 AS INTEGER) AS s
          | FROM d, generate_series(0, 383) AS t(i)
          | WHERE i < n)
          |SELECT doc_id, max(n) AS n_samples,
          | CAST(8000 AS INTEGER) AS sample_rate,
          | CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
          | CAST(min(s) AS INTEGER) AS min_s,
          | CAST(max(s) AS INTEGER) AS max_s,
          | CAST(sum((i + 1) * s) AS BIGINT) AS pcm_checksum
          |FROM sm GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Audio fingerprints: REAL decode + strided |s| pooling by sample
    // index mod 8 — the audio->vector on-ramp into the ANN / near-dup
    // operators (identical PCM -> identical vector, cosine 1). The
    // oracle recomputes all eight pooled components from the
    // deterministic sample spec by pure arithmetic; the hash only
    // matches if decode returns the exact encoded series AND the
    // pooling strides land each sample in the right component.
    // Composition with topKCosine is pinned in MultimodalSpec.
    "q250_audio_fingerprint" -> Q(
      (s, dir) => {
        val clips = Multimodal.synthesizeAudio(t(s, dir, "documents"), "doc_id")
        val feats = Multimodal.extractAudioFeatures(clips, "id", "payload", 8)
        feats.select(
          col("id").as("doc_id") +:
            (0 until 8).map(d =>
              element_at(col("features"), d + 1).cast("long").as(s"e$d")): _*)
          .orderBy(col("doc_id"))
      },
      Some {
        val comps = (0 until 8).map(d =>
          s" CAST(sum(CASE WHEN i % 8 = $d THEN abs(s) ELSE 0 END) AS BIGINT) AS e$d")
          .mkString(",\n")
        s"""WITH d AS (
           | SELECT doc_id, CAST(256 + doc_id % 128 AS INTEGER) AS n
           | FROM documents),
           |sm AS (
           | SELECT doc_id, n, i,
           |  CAST((doc_id*37 + i*101) % 65536 - 32768 AS INTEGER) AS s
           | FROM d, generate_series(0, 383) AS t(i)
           | WHERE i < n)
           |SELECT doc_id,
           |$comps
           |FROM sm GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // REAL media metadata + content-identity card: every PNG payload
    // is decoded by the actual JDK codec and fingerprinted over its
    // ROW-MAJOR DECODED RGB STREAM (md5 of "r,g,b" pixels joined by
    // ';') — the digest a media-dedup manifest keys on: identical
    // rasters collide whatever the container bytes, and any
    // single-pixel decode error flips the hash. The oracle rebuilds
    // the exact same pixel string arithmetically from the
    // deterministic pixel spec (no codec on the DuckDB side) and
    // md5s it — so the row only matches if ImageIO returned every
    // pixel exactly. Retires the former md5-of-payload-bytes stub.
    "q30_multimodal_meta" -> Q(
      (s, dir) => {
        val imgs = Multimodal.synthesizeImages(t(s, dir, "documents"), "doc_id")
        Multimodal.extractImageMetadata(imgs, "id", "payload")
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(
        s"""WITH $pixelCtes
           |SELECT doc_id, max(w) AS width, max(h) AS height,
           | CAST(max(w) * max(h) AS INTEGER) AS n_pixels,
           | md5(string_agg(
           |   CAST(r AS VARCHAR) || ',' || CAST(g AS VARCHAR) || ',' ||
           |   CAST(b AS VARCHAR), ';' ORDER BY y, x)) AS px_digest
           |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )
}
